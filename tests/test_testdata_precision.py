"""The testdata's money columns are 2-dp values stored as doubles.

``plans/relational._units`` turns such a double into exact 10^-scale
units with ``floor(x·10^scale + 0.5)`` on both engines. That recovers
the decimal-exact integer only while every x·10^scale lies far from the
0.5 rounding boundary. Regenerated testdata must keep that property, so
it is measured here on every SF directory, from the parquet files alone
(no Spark session).
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pytest

from tests.conftest import TESTDATA

#: table -> its money/quantity columns
MONEY = {
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    "orders": ["o_totalprice"],
    "customer": ["c_acctbal"],
    "supplier": ["s_acctbal"],
    "part": ["p_retailprice"],
}
#: (column, scale) pairs ``_units`` reads at a scale other than 2
EXTRA_SCALES = [("l_discount", 4)]
#: measured ≤ 3.7e-9 (o_totalprice); anything near 0.5 would flip a unit
BOUND = 1e-6

SF_DIRS = sorted(Path(TESTDATA).glob("sf*"))


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=[d.name for d in SF_DIRS])
def test_money_columns_are_two_decimal(sf_dir):
    for table, cols in MONEY.items():
        data = pq.read_table(sf_dir / f"{table}.parquet", columns=cols)
        for col in cols:
            x = data[col].to_numpy()
            for scale in [2] + [s for c, s in EXTRA_SCALES if c == col]:
                scaled = x * 10.0**scale
                worst = float(np.max(np.abs(scaled - np.round(scaled)), initial=0.0))
                assert worst < BOUND, (sf_dir.name, col, scale, worst)


def test_every_sf_dir_is_probed():
    assert SF_DIRS, f"no sf* directory under {TESTDATA}"

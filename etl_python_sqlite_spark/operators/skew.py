"""Skew-aware join/aggregate utilities.

At 100 TB a handful of hot keys (one viral document source, one default
city) can pin an entire stage on one executor. Two standard remedies,
expressed as reusable library code:

* **salted aggregation** — two-phase: aggregate on (key, salt) first
  (spreads a hot key over N reducers), then re-aggregate on the key.
  Works for any algebraic aggregate (sum/count/min/max).
* **salted broadcast-skew join** — replicate the (small) build side N
  ways, salt the probe side, join on (key, salt). Removes the hot-key
  pile-up without AQE; with AQE on, `skewJoin` handles sort-merge cases
  automatically and these helpers cover broadcast-ineligible shapes.

Salts come from a per-ROW source (`monotonically_increasing_id`), not a
row-content hash: the canonical skew case is a hot key whose rows are
byte-identical (one constant value repeated 10⁹ times) — a content hash
maps all of them to ONE salt and spreads nothing. The monotonic id is
unique per row, so `pmod(id, n)` cycles uniformly through the salts
within every partition regardless of payload. It is deterministic for a
given partition layout (no RNG), and the aggregate/join results are
salt-invariant anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _row_salt(n_salts: int):
    """Per-row salt in [0, n_salts): uniform even when all row payloads
    are identical (the hot-key case salting exists for)."""
    return F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)).cast("int")


def with_salt(df: DataFrame, n_salts: int, salt_col: str = "_salt") -> DataFrame:
    """Attach a per-row salt in [0, n_salts) — uniform for any payload
    distribution, including a single repeated value."""
    return df.withColumn(salt_col, _row_salt(n_salts))


def salted_sum_count(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-proof aggregate: SUM + COUNT per key.

    Phase 1 shuffles on (key, salt) — a key with 10⁹ rows lands on
    ``n_salts`` reducers instead of one; phase 2 combines the ≤n_salts
    partials per key (trivial cardinality). Result identical to a direct
    groupBy (sum/count are algebraic).
    """
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(*key_cols, "_salt").agg(
        F.sum(value_col).alias("_s"), F.count(value_col).alias("_c")
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("_s").alias(f"sum_{value_col}"),
        F.sum("_c").alias(f"count_{value_col}"),
    )


def salted_broadcast_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: salt the big side, explode the small side
    across all salts, join on (key, salt).

    Equivalent to ``big.join(small, on)`` for 1:N joins where ``small``
    has unique keys; the hot probe key now spreads over ``n_salts``
    tasks. ``small`` is broadcast — its replication factor is n_salts.
    """
    salted_big = big.withColumn("_salt", _row_salt(n_salts))
    exploded_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = salted_big.join(F.broadcast(exploded_small), on=[on, "_salt"], how=how)
    return out.drop("_salt")

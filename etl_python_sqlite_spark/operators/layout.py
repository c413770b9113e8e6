"""Physical layout: Z-order clustering — the knob that decides how much
data a multi-dimensional scan can SKIP.

Z-ordering (Morton curve) interleaves the bits of several columns'
normalized ranks so that sorting by the single z-value co-locates rows
that are close in EVERY dimension. Parquet/ORC footers keep per-file
(and per-row-group) min/max; a multi-dimensional predicate then prunes
files on all z-ordered columns at once, where a lexicographic sort only
prunes on its leading column. This is the standard lakehouse technique
(public literature: Morton 1966; Databricks Delta OPTIMIZE ZORDER BY,
Iceberg sort orders) re-expressed as plain DataFrame ops: rank → bit
interleave → sort — no engine extension needed, and the z-value is exact
integer arithmetic, portable to any engine (the contract query's DuckDB
twin replays it bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def zvalue_expr(cols: list[str], bits: int = 16) -> str:
    """SQL expression interleaving ``bits`` low bits of the given integer
    columns into one Morton z-value (column i owns bit positions
    ``j·len(cols) + i``). Pure shifts/masks — identical on Spark and
    DuckDB; generated as SQL text so both engines run the same string."""
    terms = []
    k = len(cols)
    for i, c in enumerate(cols):
        for j in range(bits):
            terms.append(f"((({c} >> {j}) & 1) << {j * k + i})")
    return "(" + " + ".join(terms) + ")"


def zorder_ranks(
    df: DataFrame,
    cols: list[str],
    bits: int = 8,
    tiebreak: str | None = None,
) -> DataFrame:
    """Append ``_r_<col>`` quantized ranks (0..2^bits−1) for each column
    and the interleaved ``zvalue``. Ranks are integer-exact:
    ``(rn−1)·2^bits div n`` over a per-column sort — ties broken by the
    value itself only, so equal values share a rank bucket boundary
    deterministically enough for LAYOUT (file clustering); the z-value
    itself is exact given the ranks.

    Scale note: each rank is one window sort — for warehouse use,
    replace with approx-quantile bucket boundaries computed once and a
    broadcast range lookup (same z-value algebra); the contract query
    keeps the exact-rank form because it is engine-replayable.
    """
    n = df.count()  # one driver-side scalar; sizes the rank scale
    if n == 0:  # avoid inlining div-by-zero into the rank expression
        out = df
        for c in cols:
            out = out.withColumn(f"_r_{c}", F.lit(0).cast("long"))
        return out.withColumn("zvalue", F.lit(0).cast("long"))
    out = df
    for c in cols:
        order = [F.col(c)] + ([F.col(tiebreak)] if tiebreak else [])
        out = out.withColumn(
            f"_rn_{c}", F.row_number().over(Window.orderBy(*order))
        )
    scale = {c: f"(((_rn_{c} - 1) * {1 << bits}) div {n})" for c in cols}
    sel = out
    for c in cols:
        sel = sel.withColumn(f"_r_{c}", F.expr(scale[c]).cast("long"))
    z = zvalue_expr([f"_r_{c}" for c in cols], bits)
    return sel.withColumn("zvalue", F.expr(z).cast("long")).drop(
        *[f"_rn_{c}" for c in cols]
    )

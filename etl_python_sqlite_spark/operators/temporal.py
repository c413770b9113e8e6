"""Temporal join operators Spark lacks as built-ins: as-of and range joins.

Both are composed from shuffle-friendly primitives (union + window, or
time-bucketing + equi-join) rather than inequality-join nested loops —
the shapes that survive 100 TB:

* **as-of join** — "for each left row, the latest right row at or before
  its timestamp (per key)". Implemented as the classic union-sort-window:
  tag both sides, union, one shuffle on the key, per-key time order,
  ``last(right_payload, ignorenulls)`` carried forward. O(n log n) per
  key, no cross product, no per-key driver loops.
* **range join** — "pairs within ``max_gap`` seconds (per key)".
  Implemented by bucketing time into ``max_gap``-sized cells and
  equi-joining each cell with itself and its successor, then filtering
  exactly — turns an inequality join into 2 equi-joins on uniform keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str,
    left_time: str,
    right_time: str,
    right_payload: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """Backward-inclusive as-of join: each left row gains the payload of
    the right row with the greatest ``right_time`` ≤ ``left_time`` within
    the same ``by`` key (NULLs when no prior right row exists).

    Ties on ``right_time`` are broken deterministically by the ordering of
    ``right_payload[0]`` (callers should pass a unique id first).
    """
    l_tag = left.select(
        F.col(by),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_is_left"),
        *[F.col(c) for c in left.columns if c != by],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c + suffix) for c in right_payload],
    )
    r_tag = right.select(
        F.col(by),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c != by],
        *[F.col(c).alias(c + suffix) for c in right_payload],
    )
    unioned = l_tag.unionByName(r_tag)

    # right rows sort BEFORE left rows at equal _t (backward-INCLUSIVE);
    # among right ties the last in (_t, payload[0]) order wins
    w = (
        Window.partitionBy(by)
        .orderBy(F.col("_t"), F.col("_is_left"), F.col(right_payload[0] + suffix))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(F.col(c + suffix), ignorenulls=True).over(w).alias(c + suffix + "_f")
            for c in right_payload
        ],
    )
    out_cols = (
        [by]
        + [c for c in left.columns if c != by]
        + [F.col(c + suffix + "_f").alias(c + suffix) for c in right_payload]
    )
    return carried.filter(F.col("_is_left") == 1).select(*out_cols)


def range_join_within(
    df: DataFrame,
    by: str,
    time_col: str,
    max_gap_s: int,
    id_col: str,
) -> DataFrame:
    """All ordered pairs (a, b) with ``0 < t_b − t_a ≤ max_gap_s`` within
    the same ``by`` key.

    Time is bucketed into ``max_gap_s`` cells; a qualifying pair is always
    in the same or adjacent cells, so two equi-joins on (key, cell) cover
    the space and the exact predicate prunes the rest — no inequality
    nested loop.
    """
    cell = (F.col(time_col).cast("long") / max_gap_s).cast("long")
    base = df.select(
        F.col(by),
        F.col(id_col),
        F.col(time_col).cast("long").alias("_ts"),
        cell.alias("_cell"),
    )
    a = base.alias("a")
    joined = []
    for shift in (0, 1):
        b = base.withColumn("_cell", F.col("_cell") - shift).alias("b")
        joined.append(
            a.join(
                b,
                (F.col(f"a.{by}") == F.col(f"b.{by}"))
                & (F.col("a._cell") == F.col("b._cell")),
            )
            .filter(
                (F.col("b._ts") > F.col("a._ts"))
                & (F.col("b._ts") - F.col("a._ts") <= max_gap_s)
            )
            .select(
                F.col(f"a.{by}").alias(by),
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                (F.col("b._ts") - F.col("a._ts")).alias("gap_s"),
            )
        )
    return joined[0].unionByName(joined[1]).distinct()


def gap_fill_interpolate(
    obs: DataFrame,
    key_col: str = "user_id",
    idx_col: str = "hr",
    val_col: str = "v_micro",
) -> DataFrame:
    """Time-series gap filling with linear interpolation, in pure window
    algebra (no UDFs, no driver loops).

    Input: one row per (key, integer time index) OBSERVATION with an
    integer-quantized value. Output: a dense series per key over
    [min(idx), max(idx)] — missing indexes get the linear interpolation
    between the surrounding observations, computed entirely in integer
    arithmetic (``prev + (Δv·Δt) div span``; both Spark ``div`` and
    DuckDB ``//`` truncate toward zero, verified for negative Δv), so
    every filled value is bit-identical across engines and partition
    counts. ``filled`` marks interpolated rows.

    Scale shape: the spine is ``sequence(min, max)`` exploded PER KEY —
    generation is distributed and proportional to output size; the only
    shuffles are the per-key agg and one window sort per key (both on
    the key, no skew beyond key cardinality). Endpoints are always
    observed (the spine spans observed min..max), so interpolation never
    extrapolates.
    """
    bounds = obs.groupBy(key_col).agg(
        F.min(idx_col).alias("_h0"), F.max(idx_col).alias("_h1")
    )
    spine = bounds.select(
        key_col, F.explode(F.sequence("_h0", "_h1")).alias(idx_col)
    )
    joined = spine.join(obs, [key_col, idx_col], "left")
    w = Window.partitionBy(key_col).orderBy(idx_col)
    wprev = w.rowsBetween(Window.unboundedPreceding, 0)
    wnext = w.rowsBetween(0, Window.unboundedFollowing)
    v = F.col(val_col)
    obs_idx = F.when(v.isNotNull(), F.col(idx_col))
    prev_v = F.last(v, ignorenulls=True).over(wprev)
    prev_h = F.last(obs_idx, ignorenulls=True).over(wprev)
    next_v = F.first(v, ignorenulls=True).over(wnext)
    next_h = F.first(obs_idx, ignorenulls=True).over(wnext)
    return (
        joined.select(
            F.col(key_col),
            F.col(idx_col),
            v.alias("_v"),
            prev_v.alias("_pv"),
            prev_h.alias("_ph"),
            next_v.alias("_nv"),
            next_h.alias("_nh"),
            F.col(idx_col).cast("long").alias("_hr"),
        )
        .select(
            F.col(key_col),
            F.col(idx_col),
            F.when(F.col("_v").isNotNull(), F.col("_v"))
            .otherwise(
                F.col("_pv")
                + F.expr("((_nv - _pv) * (_hr - _ph)) div (_nh - _ph)")
            )
            .cast("long")
            .alias(val_col),
            F.col("_v").isNull().alias("filled"),
        )
    )

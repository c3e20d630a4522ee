"""Join operators (SURVEY.md §2.4).

Reference parity:
- J1/J2 N-way left-outer enrichment join with defaults
  (Data_Enhancement/bulid_final_dataset.py:145-333,
   build_simple_dataset.py:149-250 — dict-probe hash joins)
- J3 checkpoint anti-join (enhance_fields_of_study.py:347-356)

Scale: enrichment sides are slim (paper_id + one payload column). No
join hint is set: the planner (and AQE, at runtime sizes) broadcasts a
side under the session's ``autoBroadcastJoinThreshold`` (64 MB,
session.py); otherwise it plans a shuffled join on the shared key —
one shuffle, reused across the chained joins because every join keys on
the same column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def enrichment_join(
    base: DataFrame,
    sides: dict[str, tuple[DataFrame, dict[str, Column]]],
    key: str,
) -> DataFrame:
    """LEFT JOIN each enrichment side on ``key``; fill missing payloads.

    ``sides`` maps a label to (df, defaults) where defaults maps payload
    column → default expression used when the side has no match
    (bulid_final_dataset.py's `.get(pid)`-with-default probes).
    """
    out = base
    for _label, (side, defaults) in sides.items():
        out = out.join(side, key, "left")
        for col_name, default in defaults.items():
            out = out.withColumn(col_name, F.coalesce(F.col(col_name), default))
    return out


def checkpoint_anti_join(todo: DataFrame, done: DataFrame, key: str) -> DataFrame:
    """Rows of ``todo`` whose key is absent from ``done`` (resume)."""
    return todo.join(done.select(key).distinct(), key, "left_anti")


def semi_join(df: DataFrame, other: DataFrame, key: str) -> DataFrame:
    return df.join(other.select(key).distinct(), key, "left_semi")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    right_tiebreak: str | None = None,
) -> DataFrame:
    """Backward as-of join: each left row gets the payload of the
    LATEST right row with ``right.ts <= left.ts`` for the same key
    (DuckDB/kdb ``ASOF JOIN`` semantics; Spark has no built-in).

    Implementation is a union-and-scan, not a join: tag both inputs,
    union by name, and run one window per key ordered by
    (ts, side, right-ts tie-break) taking ``last(payload)`` with nulls
    ignored. Right rows sort before left rows at equal ts, so ties are
    inclusive. ONE shuffle of left+right on the key — no join node at
    all, so there is nothing to go quadratic when many right rows share
    a key (the failure mode of the naive range-join-then-rank plan).

    Right rows duplicated on (key, ts) need ``right_tiebreak`` (a right
    column) to make which payload wins deterministic: the row sorting
    LAST under the tie-break wins via last().
    """
    lt = left.withColumn("_ts", F.col(left_ts)).withColumn("_side", F.lit(1))
    rt = right.select(
        F.col(key),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_p_{c}") for c in payload_cols],
        *([F.col(right_tiebreak).alias("_rtb")] if right_tiebreak else []),
    )
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    order = ["_ts", "_side"] + (["_rtb"] if right_tiebreak else [])
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in payload_cols:
        unioned = unioned.withColumn(
            f"matched_{c}", F.last(f"_p_{c}", ignorenulls=True).over(w)
        )
    return unioned.filter(F.col("_side") == 1).drop(
        "_ts", "_side", "_rtb", *[f"_p_{c}" for c in payload_cols]
    )


def range_join_bucketed(
    points: DataFrame,
    intervals: DataFrame,
    key: str,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
) -> DataFrame:
    """Inner join of points into half-open intervals [start, end) per
    key, executed as an EQUI-join on (key, bucket) + residual filter.

    Each interval is exploded into the buckets it covers (ceil(span /
    width) + 1 rows); each point lands in exactly one bucket, so every
    (point, interval) pair meets at most once — no dedup needed. With
    ``bucket_width`` ≈ the typical interval span the fan-out is ~2×,
    and the plan is a shuffled hash join Catalyst/AQE can size — never
    the O(points × intervals) theta-join a raw BETWEEN predicate plans
    as (Spark executes those as BroadcastNestedLoopJoin).
    """
    iv = intervals.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / bucket_width),
                F.floor((F.col(end_col) - 1) / bucket_width),
            )
        ),
    )
    pt = points.withColumn("_b", F.floor(F.col(point_col) / bucket_width))
    return (
        pt.join(iv, [key, "_b"])
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) < F.col(end_col))
        )
        .drop("_b")
    )

"""Quality scoring / gating operators (SURVEY.md §2.2 P9/P10/P12/P18).

Reference parity:
- P9  score validation/clamping   Data_Enhancement/enhance_scoring.py:53-117
- P10 contribution validation     Data_Enhancement/enhance_summary.py:209-242
- P12 quality-gate filter         Data_Enhancement/bulid_final_dataset.py:290-333
- P18 rule-based "ruler" scoring  Data_Analysis/evaluation/quality_scoring.py:98-406
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cleaning import safe_float


def clamp(col: Column, lo: float, hi: float) -> Column:
    """least(greatest(x, lo), hi) — enhance_scoring.py:64-66."""
    return F.least(F.greatest(col, F.lit(lo)), F.lit(hi))


def validated_score(col: Column, lo: float = 0.0, hi: float = 10.0, default: float | None = None) -> Column:
    """safe_float → clamp → round(1); unparseable → default
    (enhance_scoring.py:53-117). Null must survive the clamp — Spark's
    ``greatest`` skips nulls, so clamping a null would silently yield
    ``lo`` instead of falling through to the default."""
    parsed = safe_float(col)
    v = F.when(parsed.isNotNull(), F.round(clamp(parsed, lo, hi), 1))
    if default is not None:
        v = F.coalesce(v, F.lit(default))
    return v


def derived_overall(dim_cols: list[Column], decimals: int = 1) -> Column:
    """overall = mean of dims (enhance_scoring.py:107-111)."""
    total = dim_cols[0]
    for c in dim_cols[1:]:
        total = total + c
    return F.round(total / F.lit(float(len(dim_cols))), decimals)


def truncate_with_ellipsis(col: Column, max_len: int) -> Column:
    """Reference truncation: text[:n] + '...' when longer
    (enhance_scoring.py:238-239)."""
    return F.when(
        F.length(col) > max_len,
        F.concat(F.substring(col, 1, max_len), F.lit("...")),
    ).otherwise(col)


# ---------------------------------------------------------------------------
# P12 — quality gate: conjunctive filter + drop-reason counters. The
# reference counts the FIRST failing reason per row (if/elif chain,
# bulid_final_dataset.py:303-323); replicated with a when-ladder.

def quality_gate(
    df: DataFrame, conditions: list[tuple[str, Column]]
) -> tuple[DataFrame, DataFrame]:
    """conditions = [(reason_name, fail_condition), ...] in reference
    priority order. Returns (passed_rows, drop_reason_counts)."""
    reason = F.lit(None).cast("string")
    for name, cond in reversed(conditions):
        reason = F.when(cond, F.lit(name)).otherwise(reason)
    tagged = df.withColumn("_drop_reason", reason)
    passed = tagged.filter(F.col("_drop_reason").isNull()).drop("_drop_reason")
    reasons = (
        tagged.filter(F.col("_drop_reason").isNotNull())
        .groupBy(F.col("_drop_reason").alias("reason"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return passed, reasons


# ---------------------------------------------------------------------------
# P18 — ruler scoring: weighted component scores + tier ladder
# (quality_scoring.py:106-115 weights, :393-406 tiers). Component
# definitions are pluggable; `tier` reproduces the 6-bucket ladder.

# Reference ladder (quality_scoring.py:393-406): >=0.8 Excellent,
# >=0.7 High, >=0.6 Good, >=0.5 Medium, >=0.4 Fair, else Low.
RULER_TIERS: tuple[tuple[float, str], ...] = (
    (0.8, "Excellent"),
    (0.7, "High"),
    (0.6, "Good"),
    (0.5, "Medium"),
    (0.4, "Fair"),
)


def tier(score: Column) -> Column:
    out = F.lit("Low")
    for cut, name in reversed(RULER_TIERS):
        out = F.when(score >= F.lit(cut), F.lit(name)).otherwise(out)
    return out


def tier_sql(score_expr: str) -> str:
    out = "'Low'"
    for cut, name in reversed(RULER_TIERS):
        out = f"(CASE WHEN {score_expr} >= {cut} THEN '{name}' ELSE {out} END)"
    return out

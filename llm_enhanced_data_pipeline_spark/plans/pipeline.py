"""The full paper pipeline as one lazy Spark lineage (SURVEY.md §3.1).

Reference chain (each arrow was a separate script + JSONL file there):

    merge (D1) → dedup by id (D2) → dedup by title hash (D3)
    → dedup by title similarity (D4) → text cleaning (P3-P5)
    → citation filter (P2) → fields_of_study clean (P6)
    → format alignment (P1)                        [canonical table]
    → 4× LLM enrichment (P19, checkpoint S9/J3)
    → final build: 5-way left join (J1) + validation (P7-P10)
    → quality gate (P12) → stage stats (A1)

Here the whole pre-enrichment chain is ONE DataFrame lineage —
Catalyst sees every stage, pushes filters below the expensive dedup
joins, and materializes nothing until asked. Only the paid LLM pass
breaks the lineage on purpose (checkpointed parquet, S9), exactly
where the reference semantically requires durability.

Canonical schema (format_alignment.py:4-8):
    source, paper_id, title, abstract, abstract_source, authors,
    publish_year, venue, citation_count, fields_of_study, url
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import cleaning, dedup, quality
from ..operators.joins import enrichment_join

STRING_FIELDS = ["source", "paper_id", "title", "abstract", "abstract_source", "venue", "url"]
ARRAY_FIELDS = ["authors", "fields_of_study"]
INT_FIELDS = ["publish_year", "citation_count"]


@dataclass
class PipelineCounts:
    """The reference's printed per-stage counts (its only correctness
    artifact, strict_deduplication.py:31,44,75) — cheap to collect
    because Spark computes them on the already-built lineage."""

    merged: int = 0
    after_id_dedup: int = 0
    after_title_hash: int = 0
    after_similarity: int = 0
    after_citation_filter: int = 0
    final: int = 0
    drop_reasons: dict = field(default_factory=dict)


def merge_sources(sources: list[DataFrame]) -> DataFrame:
    """D1 — union, first occurrence of the merge key wins; source order
    then in-source order breaks ties (merge_jsonl.py:11-23).

    The key replicates the reference's FALSY fallback (`paper_id or
    title`, merge_jsonl.py:19): an empty-string paper_id falls back to
    the title, not just a null one — plain coalesce would collapse all
    pid='' records onto one key."""
    key = F.when(
        F.col("paper_id").isNotNull() & (F.length("paper_id") > 0),
        F.col("paper_id"),
    ).otherwise(F.col("title"))
    keyed = [
        df.withColumn("_k", key).withColumn("_ord", F.monotonically_increasing_id())
        for df in sources
    ]
    return dedup.union_first_wins(keyed, "_k", ["_ord"]).drop("_k", "_ord")


def _dedup_stages(papers: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """D2 / D3 / D4 as separate frames (helper columns still attached)
    so callers can either take the final result or count each stage."""
    with_ord = papers.withColumn("_ord", F.monotonically_increasing_id())
    step1 = dedup.dedup_exact_null_preserving(with_ord, "paper_id", [F.col("_ord")])
    step2 = dedup.dedup_content_hash(step1, "title", [F.col("_ord")])
    toks = step2.withColumn("_toks", cleaning.tokens(F.col("title")))
    step3 = dedup.dedup_similarity_exact(
        toks, "_ord", "_toks", threshold=0.9, prefer_desc_col="publish_year"
    )
    return step1, step2, step3


def dedup_stage(papers: DataFrame) -> DataFrame:
    """D2 → D3 → D4 in the reference's order (strict_deduplication.py:79-92).

    D4 is the exact title-token Jaccard >= 0.9 dedup
    (:func:`~..operators.dedup.dedup_similarity_exact`) with the
    reference's keep-newest preference (publish_year desc, arrival
    order asc; None counts as 0, strict_deduplication.py:68-69). Its
    candidates come from an equi-join on rarest-first title-word
    prefixes, never a cross product, so words such as "a" or "the" do
    not pair every title with every other.
    """
    _, _, step3 = _dedup_stages(papers)
    return step3.drop("_toks", "_ord")


def run_with_counts(
    sources: list[DataFrame],
    scores: DataFrame,
    keywords: DataFrame,
    fields: DataFrame,
    contributions: DataFrame,
    min_citations: int = 0,
) -> tuple[DataFrame, PipelineCounts]:
    """The full chain plus the reference's printed artifact: per-stage
    retention counts (strict_deduplication.py:31,44,75) and drop-reason
    counters (bulid_final_dataset.py:372-388). Each count is one action.

    The deduplicated frame is persisted for the four actions after D4,
    so D4 runs once for them rather than once per action, and released
    before returning: the returned frame recomputes from the sources."""
    counts = PipelineCounts()
    merged = merge_sources(sources)
    counts.merged = merged.count()
    step1, step2, step3 = _dedup_stages(merged)
    counts.after_id_dedup = step1.count()
    counts.after_title_hash = step2.count()
    deduped = step3.drop("_toks", "_ord").persist()
    try:
        counts.after_similarity = deduped.count()
        aligned = align_stage(clean_stage(deduped), min_citations)
        counts.after_citation_filter = aligned.count()
        passed, reasons = final_build(aligned, scores, keywords, fields, contributions)
        counts.final = passed.count()
        counts.drop_reasons = {r.reason: r.n for r in reasons.collect()}
    finally:
        deduped.unpersist(blocking=True)
    return passed, counts


def clean_stage(papers: DataFrame) -> DataFrame:
    """P3 title whitespace, P4 abstract cleanse chain (+ marker), P5
    authors cleanse (text_cleaning.py:20-61)."""
    return (
        papers.withColumn("title", cleaning.normalize_whitespace(F.col("title")))
        .withColumn("abstract", cleaning.cleanse_text(F.col("abstract")))
        .withColumn("abstract_source", F.lit("original_cleaned"))
        .withColumn("authors", cleaning.clean_string_array(F.col("authors")))
    )


def align_stage(papers: DataFrame, min_citations: int = 0) -> DataFrame:
    """P2 citation filter → P6 fields normalize → P1 canonical align."""
    filtered = cleaning.threshold_filter(papers, "citation_count", min_citations)
    normalized = filtered.withColumn(
        "fields_of_study", cleaning.normalize_label_array(F.col("fields_of_study"))
    )
    return cleaning.align_schema(
        normalized,
        string_fields=STRING_FIELDS,
        array_fields=ARRAY_FIELDS,
        int_fields=INT_FIELDS,
    )


def final_build(
    aligned: DataFrame,
    scores: DataFrame,
    keywords: DataFrame,
    fields: DataFrame,
    contributions: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """J1 — 5-way left join with per-side defaults + P9/P7 validation +
    P12 quality gate (bulid_final_dataset.py:145-333). Returns
    (passed, drop_reason_counts)."""
    empty_arr = F.array().cast("array<string>")
    # Score columns get NO join-time default: their payloads may arrive
    # as strings ('8.5/10'), and a typed coalesce default would force an
    # implicit cast before validation (throws under ANSI). Missing rows
    # stay null and fall through validated_score's default instead —
    # the same order the reference uses (probe-with-.get, then
    # validate, bulid_final_dataset.py:217-254).
    joined = enrichment_join(
        aligned,
        {
            "scores": (scores, {}),
            "keywords": (keywords, {"keywords": empty_arr}),
            "fields": (fields, {"fields_enriched": empty_arr}),
            "contributions": (contributions, {"problem": F.lit(""), "method": F.lit("")}),
        },
        key="paper_id",
    )
    validated = (
        joined.withColumn("novelty", quality.validated_score(F.col("novelty"), default=0.0))
        .withColumn("technical_depth", quality.validated_score(F.col("technical_depth"), default=0.0))
        .withColumn("clarity", quality.validated_score(F.col("clarity"), default=0.0))
        .withColumn("impact_potential", quality.validated_score(F.col("impact_potential"), default=0.0))
        .withColumn("confidence", F.coalesce(cleaning.safe_float(F.col("confidence")), F.lit(0.5)))
        .withColumn(
            "overall_score",
            quality.derived_overall(
                [
                    F.col("novelty"),
                    F.col("technical_depth"),
                    F.col("clarity"),
                    F.col("impact_potential"),
                ]
            ),
        )
        .withColumn("keywords", cleaning.bounded_distinct_list(F.col("keywords"), 8))
        # The reference REPLACES fields_of_study with the enrichment
        # side's extraction — a paper not in the fields table gets [],
        # not its original list (bulid_final_dataset.py:195-204). This
        # is what lifts has_fields to 100% at the Enhanced stage when
        # every pid was enriched (BASELINE.md: 82.59 → 100).
        .withColumn("fields_of_study", cleaning.bounded_distinct_list(F.col("fields_enriched"), 8))
        .drop("fields_enriched")
        .withColumn("problem", quality.truncate_with_ellipsis(F.col("problem"), 300))
    )
    # bulid_final_dataset.py:297-301 gate, reasons in if/elif priority
    return quality.quality_gate(
        validated,
        [
            ("title_too_short", F.length("title") < 8),
            ("abstract_too_short", F.length("abstract") < 120),
            ("low_overall", F.col("overall_score") < 6.5),
            ("low_depth", F.col("technical_depth") < 6.0),
            ("low_confidence", F.col("confidence") < 0.6),
        ],
    )


def stage_stats(papers: DataFrame) -> DataFrame:
    """A1 — the stage-comparison row (data_quality_comparison.py:40-115),
    including the schema-completeness % (all six required fields truthy:
    paper_id, title, abstract, authors, fields_of_study, url —
    data_quality_comparison.py:82-87)."""
    schema_complete = (
        F.coalesce(F.length("paper_id"), F.lit(0)) > 0
    ) & (
        F.coalesce(F.length("title"), F.lit(0)) > 0
    ) & (
        F.coalesce(F.length("abstract"), F.lit(0)) > 0
    ) & (
        F.coalesce(F.size("authors"), F.lit(0)) > 0
    ) & (
        F.coalesce(F.size("fields_of_study"), F.lit(0)) > 0
    ) & (F.coalesce(F.length("url"), F.lit(0)) > 0)
    return papers.agg(
        F.count(F.lit(1)).alias("n_papers"),
        F.round(100.0 * F.avg(F.when(F.length("abstract") > 0, 1.0).otherwise(0.0)), 2).alias(
            "pct_has_abstract"
        ),
        F.round(100.0 * F.avg(F.when(F.size("authors") > 0, 1.0).otherwise(0.0)), 2).alias(
            "pct_has_authors"
        ),
        F.round(
            100.0 * F.avg(F.when(schema_complete, 1.0).otherwise(0.0)), 2
        ).alias("pct_schema_complete"),
        F.round(F.avg(F.length("abstract")), 2).alias("avg_abstract_len"),
        F.round(F.avg(F.length("title")), 2).alias("avg_title_len"),
    )

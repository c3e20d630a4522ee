"""End-to-end paper pipeline on fixtures with the FIXTURES.md §8
pathologies: duplicate/null ids, near-duplicate titles, LaTeX-dirty
abstracts, out-of-range scores, missing enrichment rows."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Row
from pyspark.sql import functions as F

from llm_enhanced_data_pipeline_spark.enrich import DeterministicFakeLLM, enrich_with_llm
from llm_enhanced_data_pipeline_spark.plans import pipeline as P


def _paper(i, **kw):
    base = dict(
        source="arxiv",
        paper_id=f"2511.{i:05d}",
        title=f"deep learning method number {i} for vision tasks",
        abstract=("We present a method. " * 12) + f"Unique context {i}.",
        authors=[f"Author {i}", f"  Coauthor {i} ", None, ""],
        publish_year=2024,
        venue="",
        citation_count=i % 7,
        fields_of_study=[" machine learning ", "MACHINE LEARNING", "vision"],
        url=f"http://arxiv.org/abs/2511.{i:05d}",
    )
    base.update(kw)
    return Row(**base)


def _fixture_sources(spark):
    src_a = [
        _paper(1),
        _paper(2, abstract="short"),  # fails abstract gate later
        _paper(3, paper_id=None),  # null id — D2 must keep
        _paper(4, paper_id=None, title="deep learning method number 1 for vision tasks"),
        # ^ exact title dup of paper 1 → D3 removes (null id survives D2)
        _paper(5, title="deep learning method number 5 for vision tasks extra",
               publish_year=2020),
        _paper(6, title="deep learning method number 5 for vision tasks bonus",
               publish_year=2025),
        # ^ 5 vs 6: title Jaccard 8/10 = 0.8 < 0.9 → both survive D4
        _paper(7, abstract="We show $x^2$ convergence \\textbf{fast} &amp; café "
               + "results. " + "Padding sentence here. " * 10),
        _paper(8, title="  spaced   out   title   needing   normalize  "),
    ]
    src_b = [
        _paper(1, source="openalex", citation_count=99),  # dup id → D1 keeps src_a's
        _paper(9, source="openalex",
               title="deep learning method number nine for vision tasks overall today"),
        _paper(10, source="openalex",
               title="deep learning method number nine for vision tasks overall",
               publish_year=2026),
        # ^ 10-token title vs the same minus one token → Jaccard 9/10 =
        #   0.9, at the D4 threshold — keep the newer year (2026) → 10
        #   survives, 9 is removed. (Not a D3 case: strings differ.)
    ]
    return spark.createDataFrame(src_a), spark.createDataFrame(src_b)


def test_align_stage_rescues_string_counts(spark):
    # FIXTURES.md §2: OpenAlex sometimes ships counts and years as
    # strings. Under ANSI a plain cast of "12 citations" fails the whole
    # job; the citation filter and the canonical align must rescue the
    # number instead (safe_int / safe_float), and unparseable → 0.
    counts = ["12 citations", "3", None, "n/a"]
    years = ["2025 (preprint)", "2024", "2023", None]
    raw = spark.createDataFrame(
        [_paper(i, citation_count=c, publish_year=y) for i, (c, y) in enumerate(zip(counts, years), 1)]
    )
    aligned = P.align_stage(raw)
    assert dict(aligned.dtypes)["citation_count"] == "bigint"
    got = sorted((r.paper_id, r.citation_count, r.publish_year) for r in aligned.collect())
    assert got == [
        ("2511.00001", 12, 2025),
        ("2511.00002", 3, 2024),
        ("2511.00003", 0, 2023),
        ("2511.00004", 0, 0),
    ]
    kept = P.align_stage(raw, min_citations=5).select("paper_id", "citation_count").collect()
    assert [(r.paper_id, r.citation_count) for r in kept] == [("2511.00001", 12)]


def test_pipeline_end_to_end(spark, tmp_path):
    a, b = _fixture_sources(spark)
    merged = P.merge_sources([a, b])
    assert merged.count() == 10  # 11 rows, D1 drops src_b's dup of id 1

    deduped = P.dedup_stage(merged)
    ids = set(r.paper_id for r in deduped.select("paper_id").collect())
    # D3 removed the null-id exact-title dup (paper 4); D4 removed paper 9
    # (its title token set equals paper 10's, which has the newer year)
    assert "2511.00009" not in ids
    assert "2511.00010" in ids
    assert None in ids  # paper 3 still here (null id preserved by D2)
    assert deduped.count() == 8

    cleaned = P.clean_stage(deduped)
    p7 = cleaned.filter(F.col("paper_id") == "2511.00007").collect()[0]
    assert "$" not in p7.abstract and "textbf" not in p7.abstract
    assert "caf results" in p7.abstract  # é stripped, &amp; removed
    p8 = cleaned.filter(F.col("paper_id") == "2511.00008").collect()[0]
    assert p8.title == "spaced out title needing normalize"

    aligned = P.align_stage(cleaned)
    assert aligned.columns == P.STRING_FIELDS + P.INT_FIELDS + P.ARRAY_FIELDS
    row = aligned.filter(F.col("paper_id") == "2511.00001").collect()[0]
    assert row.fields_of_study == ["Machine Learning", "Vision"]
    assert row.authors == ["Author 1", "Coauthor 1"]

    # enrichment via the fake client (scores only; others as slim tables)
    with_key = aligned.filter(F.col("paper_id") != "")

    # build a deterministic scores side: high scores for odd papers
    scores = with_key.select(
        "paper_id",
        F.when(F.substring("paper_id", 10, 1).try_cast("int") % 2 == 1, 8.0)
        .otherwise(3.0)
        .alias("novelty"),
        F.lit(9.0).alias("technical_depth"),
        F.lit("8.5/10").alias("clarity"),  # string score → safe_float path
        F.lit(15.0).alias("impact_potential"),  # out of range → clamp to 10
        F.lit(0.9).alias("confidence"),
    )
    keywords = with_key.select(
        "paper_id", F.array(F.lit("kw1"), F.lit("kw1"), F.lit("kw2")).alias("keywords")
    ).limit(5)
    fields = with_key.select(
        "paper_id", F.array(F.lit("ML")).alias("fields_enriched")
    ).limit(3)
    contributions = with_key.select(
        "paper_id", F.lit("p" * 400).alias("problem"), F.lit("m").alias("method")
    ).limit(4)

    passed, reasons = P.final_build(aligned, scores, keywords, fields, contributions)
    got_reasons = {r.reason: r.n for r in reasons.collect()}
    # paper 2: abstract_too_short; null-id paper: no scores joined →
    # defaults 0.0 → low_overall; even papers: novelty 3 → overall < 6.5
    assert "abstract_too_short" in got_reasons
    assert "low_overall" in got_reasons
    out = passed.collect()
    assert len(out) > 0
    for r in out:
        assert r.overall_score >= 6.5
        assert r.impact_potential == 10.0  # clamped
        assert r.clarity == 8.5  # string-rescued
        if r.problem:  # rows missing the contributions side default to ''
            assert len(r.problem) == 303  # 300 + '...'
        assert len(r.keywords) == len(set(r.keywords))  # distinct-capped

    stats = P.stage_stats(passed).collect()[0]
    assert stats.n_papers == len(out)
    assert stats.pct_has_abstract == 100.0


def test_pipeline_with_fake_llm_enrichment(spark):
    a, b = _fixture_sources(spark)
    aligned = P.align_stage(P.clean_stage(P.dedup_stage(P.merge_sources([a, b]))))
    with_key = aligned.filter(F.col("paper_id") != "").withColumn(
        "doc_id", F.substring("paper_id", 6, 5).try_cast("long")
    )

    def prompts(pdf: pd.DataFrame) -> pd.Series:
        return "Extract keywords from: " + pdf["doc_id"].astype(str)

    out = enrich_with_llm(
        with_key, "doc_id", prompts, lambda: DeterministicFakeLLM(task="keywords"),
        rate_per_sec=10_000.0,
    )
    rows = out.collect()
    assert len(rows) == with_key.count()
    assert all(r.llm_json is not None for r in rows)


def test_dedup_stage_survivors_and_plans_no_cross_product(spark):
    """D4 on the fixture keeps the newer of the near-dup pair (10
    survives, 9 drops), and its candidate join is an equi-join on
    prefix elements: the executed plan holds no quadratic join."""
    a, b = _fixture_sources(spark)
    deduped = P.dedup_stage(P.merge_sources([a, b]))

    ids = sorted(r.paper_id or "" for r in deduped.collect())
    assert ids == [
        "",
        "2511.00001",
        "2511.00002",
        "2511.00005",
        "2511.00006",
        "2511.00007",
        "2511.00008",
        "2511.00010",
    ]

    plan = deduped._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pipeline_golden_artifact_counts(spark):
    """Golden reproduction of the reference's published artifact shapes:
    per-stage retention counts (strict_deduplication.py:31,44,75), the
    drop-reason counters (bulid_final_dataset.py:372-388), and the
    retention ratio — every number hand-derived from the fixture.

    Fixture arithmetic:
    - 11 input rows; D1 drops src_b's duplicate of paper 1   -> 10
    - D2 exact-id dedup: ids unique, both null ids preserved -> 10
    - D3 title-hash: paper 4 duplicates paper 1's title      -> 9
    - D4 similarity: paper 9 ~ paper 10 (Jaccard 0.9), 10 is
      newer (2026) so 9 drops                                -> 8
    - citation filter at min 0 keeps everything              -> 8
    - final gate: paper 2's abstract is 5 chars (<120) ->
      abstract_too_short; the null-id paper joins no scores ->
      overall 0.0 -> low_overall; everything else passes     -> 6
    """
    a, b = _fixture_sources(spark)
    aligned_probe = P.align_stage(P.clean_stage(P.dedup_stage(P.merge_sources([a, b]))))
    with_key = aligned_probe.filter(F.col("paper_id") != "")
    scores = with_key.select(
        "paper_id",
        F.when(F.substring("paper_id", 10, 1).try_cast("int") % 2 == 1, 8.0)
        .otherwise(3.0)
        .alias("novelty"),
        F.lit(9.0).alias("technical_depth"),
        F.lit("8.5/10").alias("clarity"),
        F.lit(15.0).alias("impact_potential"),
        F.lit(0.9).alias("confidence"),
    )
    keywords = with_key.select(
        "paper_id", F.array(F.lit("kw1")).alias("keywords")
    )
    fields = with_key.select("paper_id", F.array(F.lit("ML")).alias("fields_enriched"))
    contributions = with_key.select(
        "paper_id", F.lit("p").alias("problem"), F.lit("m").alias("method")
    )

    cached_before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    passed, counts = P.run_with_counts(
        [a, b], scores, keywords, fields, contributions
    )
    # the deduplicated frame is cached only inside the call
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) == cached_before
    assert counts.merged == 10
    assert counts.after_id_dedup == 10
    assert counts.after_title_hash == 9
    assert counts.after_similarity == 8
    assert counts.after_citation_filter == 8
    assert counts.final == passed.count()
    assert counts.drop_reasons == {"abstract_too_short": 1, "low_overall": 1}
    assert counts.final == 6
    # reference retention ratio: final / merged
    assert counts.final / counts.merged == 0.6
    # recomputing the returned frame rebuilds no cache
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) == cached_before

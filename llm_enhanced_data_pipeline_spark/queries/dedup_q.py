"""Dedup queries (SURVEY.md §2.3 D1-D4 + training-data dedup suite).

The synthetic corpus has no natural duplicates, so every query builds a
deterministic augmented corpus (original docs ∪ variants with the first
token dropped / exact copies) identically on both engines — the dedup
operators then have real work to do and the oracle checks the removals,
not just a passthrough.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hashing
from ..operators import dedup
from ..operators.cleaning import tokens_sql
from ..tables import load_table
from .registry import register

# Shared corpus construction: documents ∪ near-dup variants (doc_id%10
# == 0 → copy with the first token dropped, id offset by 1_000_000).
VARIANT_OFFSET = 1_000_000


def _docs_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    variants = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + VARIANT_OFFSET).alias("doc_id"),
            F.concat_ws(" ", F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))).alias(
                "text"
            ),
        )
    )
    return docs.unionByName(variants)


def _docs_with_near_dups_sql(where: str = "") -> str:
    """Oracle twin of :func:`_docs_with_near_dups`; ``where`` (e.g.
    " AND doc_id < 600") slices the BASE docs before augmentation so a
    slice twin keeps every base+variant near-dup pair whole."""
    return f"""
  SELECT doc_id, text FROM documents WHERE 1=1{where}
  UNION ALL
  SELECT doc_id + {VARIANT_OFFSET} AS doc_id,
         array_to_string(list_slice(string_split(text, ' '), 2,
                                    len(string_split(text, ' '))), ' ') AS text
  FROM documents WHERE doc_id % 10 = 0{where}
"""


_DOCS_WITH_NEAR_DUPS_SQL = _docs_with_near_dups_sql()

_DOCS_WITH_EXACT_DUPS_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {VARIANT_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % 10 = 0
"""


def _docs_with_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    variants = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + VARIANT_OFFSET).alias("doc_id"), "text"
    )
    return docs.unionByName(variants)


@register(
    "dedup_merge_first_wins",
    doc="D1: union of two sources, first occurrence of a key wins "
    "(merge_jsonl.py:11-23; source rank then in-source order).",
    oracle="""
WITH u AS (
  SELECT doc_id, 'A' AS src, 0 AS _rnk FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, 'B' AS src, 1 AS _rnk FROM documents
)
SELECT doc_id, src FROM (
  SELECT doc_id, src,
         row_number() OVER (PARTITION BY doc_id ORDER BY _rnk, doc_id) AS rn
  FROM u
) WHERE rn = 1
""",
)
def dedup_merge_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    src_a = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", F.lit("A").alias("src")
    )
    src_b = docs.select("doc_id", F.lit("B").alias("src"))
    return dedup.union_first_wins([src_a, src_b], "doc_id", ["doc_id"]).select(
        "doc_id", "src"
    )


@register(
    "dedup_null_preserving",
    doc="D2: exact-key dedup keeping ALL null-key rows "
    "(strict_deduplication.py:21-32 — a bare dropDuplicates would "
    "collapse the nulls).",
    oracle="""
WITH k AS (
  SELECT o_orderkey, nullif(o_custkey % 40, 13) AS key_val FROM orders
)
SELECT o_orderkey, key_val FROM (
  SELECT o_orderkey, key_val,
         CASE WHEN key_val IS NULL THEN 1
              ELSE row_number() OVER (PARTITION BY key_val ORDER BY o_orderkey) END AS rn
  FROM k
) WHERE rn = 1
""",
)
def dedup_null_preserving(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", F.nullif(F.col("o_custkey") % 40, F.lit(13)).alias("key_val")
    )
    return dedup.dedup_exact_null_preserving(o, "key_val", ["o_orderkey"]).select(
        "o_orderkey", "key_val"
    )


@register(
    "dedup_content_hash",
    doc="D3: md5(lower(trim(text))) keep-first dedup over a corpus with "
    "injected exact copies (strict_deduplication.py:35-45).",
    oracle=f"""
WITH u AS ({_DOCS_WITH_EXACT_DUPS_SQL})
SELECT doc_id FROM (
  SELECT doc_id,
         row_number() OVER (PARTITION BY md5(lower(trim(text)))
                            ORDER BY doc_id) AS rn
  FROM u
) WHERE rn = 1
""",
)
def dedup_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _docs_with_exact_dups(spark, sf_dir)
    return dedup.dedup_content_hash(corpus, "text", [F.col("doc_id")]).select("doc_id")


@register(
    "dedup_fuzzy_jaccard",
    doc="D4: exact pairwise token-set Jaccard >= 0.95, keep the longer "
    "text (reference keeps newer year; strict_deduplication.py:48-76). "
    "Exact variant (prefix-filtered equi-join candidates); the "
    "approximate MinHash path is dedup_minhash.",
    oracle=f"""
WITH u AS ({_DOCS_WITH_NEAR_DUPS_SQL}),
t AS (
  SELECT doc_id, length(text) AS tlen,
         list_distinct(string_split(text, ' ')) AS toks
  FROM u
),
dup AS (
  SELECT DISTINCT b.doc_id
  FROM t a JOIN t b
    ON ((a.tlen > b.tlen) OR (a.tlen = b.tlen AND a.doc_id < b.doc_id))
  WHERE len(a.toks) > 0 AND len(b.toks) > 0
    AND len(list_intersect(a.toks, b.toks))::DOUBLE
        / len(list_distinct(a.toks || b.toks)) >= 0.95
)
SELECT doc_id FROM t WHERE doc_id NOT IN (SELECT doc_id FROM dup)
""",
)
def dedup_fuzzy_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _docs_with_near_dups(spark, sf_dir).withColumn(
        "tlen", F.length("text")
    ).withColumn("toks", F.split(F.col("text"), " "))
    return dedup.dedup_similarity_exact(
        corpus, "doc_id", "toks", threshold=0.95, prefer_desc_col="tlen"
    ).select("doc_id")


# 3-gram shingles: discriminative even on a small vocabulary (the
# token-*set* variant saturates on this corpus — see dedup_fuzzy_jaccard
# for the set semantics). Shingle-MinHash is the classic C4/GPT-style
# training-data dedup shape. Shingle hashes are built from per-token
# md5 hashes combined arithmetically ((acc*131 + h) mod p, matching
# operators.dedup.shingle_hash_rows), and `toks` below is the DISTINCT
# SET OF SHINGLE HASHES (bigint) — set ops and Jaccard run on hashes.
_TOKHASH = "CAST(('0x' || substring(md5('0:' || _t), 1, 8)) AS UBIGINT)::BIGINT"
_P = hashing.ROLLING_PRIME
_SHINGLE_HASHES_SQL = f"""
list_transform(
  range(1, greatest(len(_th) - 2, 0) + 1),
  _i -> (((_th[_i] % {_P}) * 131 + _th[_i + 1]) % {_P} * 131 + _th[_i + 2]) % {_P}
)"""

def _minhash_cte(where: str = "") -> str:
    return f"""
WITH u AS ({_docs_with_near_dups_sql(where)}),
tk AS (
  SELECT doc_id,
         list_transform(
           list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                       _x -> _x <> ''),
           _t -> {_TOKHASH}) AS _th
  FROM u
),
t AS (
  SELECT doc_id, list_distinct({_SHINGLE_HASHES_SQL}) AS toks
  FROM tk
  WHERE len(_th) >= 3
),
sig AS (
  SELECT doc_id, toks, {hashing.minhash_signature_sql('toks', 16)} AS sg
  FROM t
),
banded AS (
  SELECT doc_id,
         (_b::VARCHAR || ':' || md5(array_to_string(
            list_transform(list_slice(sg, _b * 2 + 1, _b * 2 + 2), _v -> _v::VARCHAR),
            ','))) AS band
  FROM sig, range(0, 8) r(_b)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
)
"""


_MINHASH_CTE = _minhash_cte()


# Shared dedup-infrastructure frames, memoized per (session, sf_dir).
# The production framing: a 100 TB corpus maintains its dedup artifacts
# — signature index, verified near-dup pair list — as TABLES computed
# once per corpus version and consumed by every downstream job (pair
# listing, survivor selection, clustering, the composite training
# pipeline), never recomputed per consumer. The memos below are the
# single-session analogue of those tables. The tokenized corpus itself
# is deliberately NOT cached: measured at sf0.1, persisting the token
# arrays (serialization-heavy) made the signature build SLOWER than the
# fused parquet-scan->tokenize->aggregate pipeline it replaced — and at
# 100 TB the corpus doesn't fit in cache anyway. Derived small frames
# (signatures, pairs) are the right things to persist; scans re-fuse.
_MINHASH_GROUPED_CACHE: dict[tuple[str, str], DataFrame] = {}
_MINHASH_PAIRS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _memo_live(cache: dict, key: tuple[str, str]) -> DataFrame | None:
    cached = cache.get(key)
    # dedup.release_caches() may have unpersisted the memoized frame;
    # rebuild in that case instead of silently recomputing every use.
    if cached is not None and cached.storageLevel.useMemory:
        return cached
    return None


def _minhash_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenized augmented corpus (doc_id, text, toks) — a cheap LAZY
    lineage shared (as code, not cache) by the dedup family and the
    composite training pipeline; see the cache note above."""
    # Single-file parquet arrives as 1-2 splits; fan out BEFORE the
    # tokenize/hash work so it uses every core (on a cluster the input
    # is many splits and this repartition coalesces/noops).
    corpus = _docs_with_near_dups(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    return corpus.withColumn("toks", dedup.tokens(F.col("text")))


# The per-id MinHash signature frame is the expensive piece (md5 per
# token x 16 mixes) and is IDENTICAL across near_dup_pairs_minhash /
# dedup_minhash_survivors / dedup_components — memoize the persisted
# frame per (session, sf_dir) so a session running several of them
# (bench, the driver's gate, pytest) builds it once.
def _shared_minhash_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _memo_live(_MINHASH_GROUPED_CACHE, key)
    if cached is not None:
        return cached
    frame = dedup.minhash_grouped(
        _minhash_corpus(spark, sf_dir), "doc_id", "toks", num_hashes=16, shingle_n=3
    )
    _MINHASH_GROUPED_CACHE[key] = frame
    return frame


def _shared_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs (id_a, id_b, jaccard >= 0.8) over the
    full augmented corpus — the pair LIST as shared infrastructure.

    Near-dup-ness is a pairwise property, so any downstream job that
    needs pairs among a SUBSET of the corpus (e.g. the training
    pipeline's post-gate survivors) filters this frame with semi-joins
    instead of rebuilding signatures over its subset: that is both the
    cheap path (the pair list is tiny next to the corpus) and the
    correct production shape (one pair index per corpus snapshot)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _memo_live(_MINHASH_PAIRS_CACHE, key)
    if cached is not None:
        return cached
    frame = dedup.persist_tracked(
        dedup.near_dup_pairs_minhash(
            _minhash_corpus(spark, sf_dir), "doc_id", "toks",
            threshold=0.8, num_hashes=16, bands=8, shingle_n=3,
            grouped=_shared_minhash_grouped(spark, sf_dir),
        )
    )
    frame.count()  # multi-consumer; eager build (see minhash_grouped)
    _MINHASH_PAIRS_CACHE[key] = frame
    return frame


# Registered queries that consume the shared signature/pair index.
# bench.py uses this to decide whether its explicit index-build slot is
# needed for the benched set (and to skip it entirely under the fake
# registries the bench-isolation tests inject).
SHARED_MINHASH_CONSUMERS = frozenset(
    {
        "near_dup_pairs_minhash",
        "dedup_minhash_survivors",
        "near_dup_rate_by_source",
        "near_dup_pairs_containment",
        "incremental_near_dup",
        "dedup_components",
        "dup_cluster_size_histogram",
        "dedup_components_keep_newest",
        "lsh_tuning_report",
        "training_data_pipeline",  # pipeline_q: two semi-joins on the index
    }
)


def build_shared_minhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eagerly build (or return) the memoized per-(session, sf_dir)
    MinHash signature frame + verified pair index shared by the whole
    near-dup family (near_dup_pairs_minhash, dedup_minhash_survivors,
    near_dup_rate_by_source, training_data_pipeline, ...).

    Public so bench.py can time the build as its OWN slot: otherwise
    the cost lands on whichever consumer query happens to run first and
    every per-query number stops measuring marginal cost (a real
    regression in the minhash path could hide inside the attribution
    noise)."""
    return _shared_minhash_pairs(spark, sf_dir)


def invalidate_shared_minhash_index(spark: SparkSession, sf_dir: str) -> None:
    """Drop the memoized signature + pair frames (unpersist + forget)
    so the next build is cold. Used by bench.py's median-of-3 index
    slot — every other caller should let the memo live for the whole
    session."""
    key = (spark.sparkContext.applicationId, sf_dir)
    for cache in (_MINHASH_GROUPED_CACHE, _MINHASH_PAIRS_CACHE):
        frame = cache.pop(key, None)
        if frame is not None:
            frame.unpersist()


@register(
    "near_dup_pairs_minhash",
    bench=True,
    doc="MinHash(16)+LSH(8 bands of 2) over 3-gram shingles, candidate "
    "pairs verified at Jaccard >= 0.8 — the 100 TB path for D4 "
    "(equi-join on band keys, no cross product). Oracle replicates the "
    "banding bit-for-bit via md5-based hashes.",
    oracle=_MINHASH_CTE
    + """
SELECT id_a, id_b, jaccard FROM (
  SELECT p.id_a, p.id_b,
         round(len(list_intersect(ta.toks, tb.toks))::DOUBLE
               / len(list_distinct(ta.toks || tb.toks)), 6) AS jaccard
  FROM pairs p
  JOIN t ta ON ta.doc_id = p.id_a
  JOIN t tb ON tb.doc_id = p.id_b
) WHERE jaccard >= 0.8
""",
)
def near_dup_pairs_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_minhash_pairs(spark, sf_dir)


@register(
    "dedup_minhash_survivors",
    doc="MinHash-LSH dedup final survivors (drop the higher id of every "
    "near pair) — keep-first semantics at scale, 3-gram shingles.",
    oracle=_MINHASH_CTE
    + """,
dup AS (
  SELECT DISTINCT id_b AS doc_id FROM (
    SELECT p.id_a, p.id_b,
           len(list_intersect(ta.toks, tb.toks))::DOUBLE
           / len(list_distinct(ta.toks || tb.toks)) AS jac
    FROM pairs p
    JOIN t ta ON ta.doc_id = p.id_a
    JOIN t tb ON tb.doc_id = p.id_b
  ) WHERE jac >= 0.8
)
SELECT doc_id FROM u WHERE doc_id NOT IN (SELECT doc_id FROM dup)
""",
)
def dedup_minhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _minhash_corpus(spark, sf_dir)
    pairs = _shared_minhash_pairs(spark, sf_dir)
    dup_ids = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return corpus.join(dup_ids, "doc_id", "left_anti").select("doc_id")


@register(
    "near_dup_rate_by_source",
    doc="Where the duplication lives: per-source counts of docs that "
    "appear in at least one verified near-dup pair, with the per-mille "
    "rate — the triage report deciding which ingest source needs "
    "upstream cleanup. Reuses the shared verified pair list; one "
    "semi-join + two keyed aggregations.",
    oracle=_MINHASH_CTE
    + ","
    + """
vpx AS (
  SELECT p.id_a, p.id_b
  FROM pairs p
  JOIN t ta ON ta.doc_id = p.id_a
  JOIN t tb ON tb.doc_id = p.id_b
  WHERE len(list_intersect(ta.toks, tb.toks))::DOUBLE
        / len(list_distinct(ta.toks || tb.toks)) >= 0.8
),
dupids AS (
  SELECT id_a AS doc_id FROM vpx UNION SELECT id_b FROM vpx
),
src AS (
  SELECT u.doc_id,
         d.source
  FROM u JOIN documents d
    ON (CASE WHEN u.doc_id >= 1000000 THEN u.doc_id - 1000000
             ELSE u.doc_id END) = d.doc_id
)
SELECT s.source,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN dp.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
       (sum(CASE WHEN dp.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1000
        // count(*))::BIGINT AS dup_permille
FROM src s LEFT JOIN dupids dp ON s.doc_id = dp.doc_id
GROUP BY s.source
""",
)
def near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _minhash_corpus(spark, sf_dir)
    pairs = _shared_minhash_pairs(spark, sf_dir)
    dup_ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("_is_dup", F.lit(1))
    )
    src = corpus.select(
        "doc_id",
        F.when(
            F.col("doc_id") >= VARIANT_OFFSET, F.col("doc_id") - VARIANT_OFFSET
        )
        .otherwise(F.col("doc_id"))
        .alias("_base_id"),
    ).join(
        load_table(spark, "documents", sf_dir).select(
            F.col("doc_id").alias("_base_id"), "source"
        ),
        "_base_id",
    )
    return (
        src.join(dup_ids, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.coalesce(F.col("_is_dup"), F.lit(0)))
            .cast("bigint")
            .alias("n_dup_docs"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            F.expr("cast(n_dup_docs * 1000 div n_docs as bigint)").alias(
                "dup_permille"
            ),
        )
    )


@register(
    "near_dup_pairs_containment",
    doc="Directional containment near-dups: |A∩B|/|A| >= 0.8 over "
    "3-gram shingle sets — catches a short doc pasted inside a longer "
    "one (low Jaccard, full containment). Candidates come from the "
    "prefix-filter lemma (only each doc's floor((1-t)|A|)+1 globally-"
    "rarest shingles join the corpus), then exact set verification; "
    "the oracle is the INDEPENDENT quadratic formulation.",
    oracle=_MINHASH_CTE
    + """
SELECT id_a, id_b, containment FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         (floor((len(list_intersect(a.toks, b.toks))::DOUBLE / len(a.toks)) * 1000000.0 + 0.5) / 1000000.0)
           AS containment,
         len(list_intersect(a.toks, b.toks))::DOUBLE / len(a.toks) AS _raw
  FROM t a JOIN t b ON a.doc_id <> b.doc_id
) WHERE _raw >= 0.8
""",
)
def near_dup_pairs_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.containment_pairs(
        _minhash_corpus(spark, sf_dir),
        "doc_id",
        "toks",
        threshold=0.8,
        shingle_n=3,
        grouped=_shared_minhash_grouped(spark, sf_dir),
    )


@register(
    "incremental_near_dup",
    doc="Incremental near-dup ingest: each batch doc (doc_id%10>=8) "
    "screened against the snapshot's (doc_id%10<8) persisted MinHash "
    "band index — band equi-join + Jaccard>=0.8 verification, cost "
    "independent of snapshot size. Both sides are filtered views of "
    "the ONE shared signature frame (the production artifact-reuse "
    "shape).",
    oracle=_MINHASH_CTE
    + """,
snapb AS (SELECT * FROM banded WHERE doc_id % 10 < 8),
batchb AS (SELECT * FROM banded WHERE doc_id % 10 >= 8),
cand AS (
  SELECT DISTINCT b.doc_id AS bid, s.doc_id AS iid
  FROM batchb b JOIN snapb s ON b.band = s.band
),
ver AS (
  SELECT c.bid FROM cand c
  JOIN t tb ON tb.doc_id = c.bid
  JOIN t ti ON ti.doc_id = c.iid
  WHERE len(list_intersect(tb.toks, ti.toks))::DOUBLE
        / len(list_distinct(tb.toks || ti.toks)) >= 0.8
),
counts AS (SELECT bid, count(*)::BIGINT AS n_matches FROM ver GROUP BY bid)
SELECT t.doc_id,
       coalesce(counts.n_matches, 0)::BIGINT AS n_matches,
       coalesce(counts.n_matches, 0) > 0 AS is_dup
FROM t LEFT JOIN counts ON t.doc_id = counts.bid
WHERE t.doc_id % 10 >= 8
""",
)
def incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    grouped = _shared_minhash_grouped(spark, sf_dir)
    snap_g = grouped.filter(F.col("doc_id") % 10 < 8)
    batch_g = grouped.filter(F.col("doc_id") % 10 >= 8)
    index = dedup.minhash_index(snap_g, "doc_id")
    return dedup.near_dup_against_index(batch_g, index, "doc_id", threshold=0.8)


from ..functions.hashing import simhash60_sql_from_hashes

_SIMHASH_ORACLE = f"""
WITH u AS ({_DOCS_WITH_NEAR_DUPS_SQL}),
t AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '), _t ->
           CAST(('0x' || substring(md5(_t), 1, 15)) AS UBIGINT)::BIGINT) AS hs
  FROM u
),
s AS (
  SELECT doc_id, {simhash60_sql_from_hashes('hs')} AS sh FROM t
)
SELECT id_a, id_b, hamming FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.sh::UBIGINT, b.sh::UBIGINT))::INTEGER AS hamming
  FROM s a JOIN s b ON a.doc_id < b.doc_id
) WHERE hamming <= 3
"""


@register(
    "near_dup_pairs_simhash",
    doc="SimHash(60-bit) near-dup pairs at hamming <= 3. Spark uses "
    "rotating 15-bit block bucketing (lossless for distance <= 3 by "
    "pigeonhole), so the oracle can be the plain all-pairs check.",
    oracle=_SIMHASH_ORACLE,
)
def near_dup_pairs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = (
        _docs_with_near_dups(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("toks", F.split(F.col("text"), " "))
    )
    out = dedup.near_dup_pairs_simhash(corpus, "doc_id", "toks", max_hamming=3, blocks=4)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@register(
    "near_dup_pairs_ngram",
    doc="3-gram shingle Jaccard near-dup pairs (order-aware variant of "
    "D4) at >= 0.5 over the augmented corpus.",
    oracle=f"""
WITH u AS ({_DOCS_WITH_NEAR_DUPS_SQL}),
tk AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                     _x -> _x <> '') AS toks
  FROM u
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 0) + 1),
           _i -> array_to_string(list_slice(toks, _i, _i + 2), ' '))) AS sset
  FROM tk
),
nonempty AS (SELECT * FROM sh WHERE len(sset) > 0)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(len(list_intersect(a.sset, b.sset))::DOUBLE
               / len(list_distinct(a.sset || b.sset)), 6) AS jaccard
  FROM nonempty a JOIN nonempty b ON a.doc_id < b.doc_id
) WHERE jaccard >= 0.5
""",
)
def near_dup_pairs_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _docs_with_near_dups(spark, sf_dir)
    return dedup.near_dup_pairs_ngram(corpus, "doc_id", "text", n=3, threshold=0.5)


def _cos_sql(a: str, b: str) -> str:
    from ..operators.vector import cosine_similarity_sql

    return cosine_similarity_sql(a, b)


@register(
    "near_dup_pairs_embedding",
    doc="Embedding-cosine near-dup pairs (cosine >= 0.45) on the SCALE "
    "path: multi-probe IVF (nprobe=2, per-label mean centroids) "
    "generates candidates through an equi-join on the centroid key, "
    "then the exact cosine is verified in-bucket — no all-pairs theta "
    "self-join. The oracle replicates the bucketing bit-for-bit; the "
    "all-pairs ground truth lives on as dedup.near_dup_pairs_embedding "
    "and a recall test in tests/test_dedup_semantics.py.",
    oracle="""
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
dims AS (
  SELECT label AS ckey, _i, avg(embedding[_i]::DOUBLE) AS m
  FROM embeddings, range(1, 65) r(_i)
  GROUP BY label, _i
),
cent AS (SELECT ckey, list(m ORDER BY _i) AS centroid FROM dims GROUP BY ckey),
assign AS (
  SELECT vec_id, ckey FROM (
    SELECT e.vec_id, c.ckey,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY COS_VC DESC, c.ckey ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn <= 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assign a JOIN assign b ON a.ckey = b.ckey AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM (
  SELECT c.id_a, c.id_b, round(COS_AB, 6) AS cosine
  FROM cand c
  JOIN e ea ON ea.vec_id = c.id_a
  JOIN e eb ON eb.vec_id = c.id_b
) WHERE cosine >= 0.45
""".replace("COS_VC", _cos_sql("e.v", "c.centroid")).replace(
        "COS_AB", _cos_sql("ea.v", "eb.v")
    ),
)
def near_dup_pairs_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import vector

    emb = load_table(spark, "embeddings", sf_dir)
    cents = vector.centroids_by_key(emb, "label", "embedding")
    return dedup.near_dup_pairs_embedding_ivf(
        emb, cents, "vec_id", "embedding", threshold=0.45, nprobe=2
    )


_MINHASH_VERIFIED_PAIRS_SQL = """
vp AS (
  SELECT id_a, id_b FROM (
    SELECT p.id_a, p.id_b,
           len(list_intersect(ta.toks, tb.toks))::DOUBLE
           / len(list_distinct(ta.toks || tb.toks)) AS jac
    FROM pairs p
    JOIN t ta ON ta.doc_id = p.id_a
    JOIN t tb ON tb.doc_id = p.id_b
  ) WHERE jac >= 0.8
)
"""


@register(
    "dedup_components",
    doc="Connected-components dedup: one survivor (min-id representative) "
    "per similarity component of the MinHash near-dup graph — the exact "
    "cluster semantics the reference's greedy O(n^2) loop approximates. "
    "Spark runs iterative min-label propagation (driver controls only "
    "the convergence check); the oracle is a recursive CTE.",
    oracle=(
        _MINHASH_CTE
        + ","
        + _MINHASH_VERIFIED_PAIRS_SQL
        + """,
e AS (SELECT id_a AS a, id_b AS b FROM vp UNION ALL SELECT id_b, id_a FROM vp),
reach AS (
  SELECT doc_id AS node, doc_id AS lbl FROM u
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.node
)
SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node
"""
    ).replace("WITH u AS", "WITH RECURSIVE u AS", 1),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _minhash_corpus(spark, sf_dir)
    pairs = _shared_minhash_pairs(spark, sf_dir)
    return dedup.connected_components(corpus.select("doc_id"), pairs, "doc_id")


@register(
    "dup_cluster_size_histogram",
    doc="Near-dup cluster-size distribution: how many similarity "
    "components exist at each size (1 = unique doc) — the shape report "
    "a dedup run ships (a heavy tail here means boilerplate families, "
    "not pairwise accidents). Two tiny aggregations over the shared "
    "component labels.",
    oracle=(
        _MINHASH_CTE
        + ","
        + _MINHASH_VERIFIED_PAIRS_SQL
        + """,
e AS (SELECT id_a AS a, id_b AS b FROM vp UNION ALL SELECT id_b, id_a FROM vp),
reach AS (
  SELECT doc_id AS node, doc_id AS lbl FROM u
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.node
),
comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
sizes AS (SELECT component, count(*)::BIGINT AS cluster_size FROM comp GROUP BY component)
SELECT cluster_size, count(*)::BIGINT AS n_clusters
FROM sizes GROUP BY cluster_size
"""
    ).replace("WITH u AS", "WITH RECURSIVE u AS", 1),
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _minhash_corpus(spark, sf_dir)
    pairs = _shared_minhash_pairs(spark, sf_dir)
    comp = dedup.connected_components(corpus.select("doc_id"), pairs, "doc_id")
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    )


# ---------------------------------------------------------------------------
# Incremental ingest dedup: snapshot = docs with doc_id % 10 < 8
# (the already-ingested corpus, represented only by its content-hash
# index); batch = the remaining docs ∪ engineered re-crawls (exact
# copies of snapshot docs, doc_id % 50 == 0, offset +1e6) ∪ engineered
# intra-batch dups (copies of batch docs with doc_id % 97 == 0, offset
# +2e6). The gate lists the rows that actually ingest.

_INGEST_BATCH_SQL = f"""
  SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8
  UNION ALL
  SELECT doc_id + {VARIANT_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % 10 < 8 AND doc_id % 50 = 0
  UNION ALL
  SELECT doc_id + {2 * VARIANT_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % 10 >= 8 AND doc_id % 97 = 0
"""


def _ingest_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 10 >= 8)
    recrawl = (
        docs.filter((F.col("doc_id") % 10 < 8) & (F.col("doc_id") % 50 == 0))
        .select((F.col("doc_id") + VARIANT_OFFSET).alias("doc_id"), "text")
    )
    intra = new.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 2 * VARIANT_OFFSET).alias("doc_id"), "text"
    )
    return new.unionByName(recrawl).unionByName(intra)


@register(
    "dedup_incremental",
    doc="Incremental ingest against a snapshot content-hash index: "
    "anti equi-join on md5 fingerprint (the historical corpus is never "
    "rescanned — only its persisted index), then first-wins within the "
    "batch. Lists surviving rows.",
    oracle=f"""
WITH snap_index AS (
  SELECT DISTINCT md5(lower(trim(text))) AS fp
  FROM documents WHERE doc_id % 10 < 8
),
batch AS ({_INGEST_BATCH_SQL}),
fresh AS (
  SELECT b.doc_id, md5(lower(trim(b.text))) AS fp
  FROM batch b
  WHERE NOT EXISTS (SELECT 1 FROM snap_index s
                    WHERE s.fp = md5(lower(trim(b.text))))
)
SELECT doc_id, fp FROM (
  SELECT doc_id, fp,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM fresh
) WHERE rn = 1
""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    snapshot = docs.filter(F.col("doc_id") % 10 < 8)
    index = dedup.content_index(snapshot, "text")
    batch = _ingest_batch(spark, sf_dir)
    survivors = dedup.dedup_against_index(batch, index, "text", ["doc_id"])
    return survivors.select("doc_id", F.col("_fp").alias("fp"))


# ---------------------------------------------------------------------------
# Bloom pre-filter gate: the broadcastable bitset built from the
# snapshot's fingerprint index, checked row-by-row against ground
# truth. Bloom guarantees no false negatives (every true dup is
# maybe_dup); false positives are the tunable price of the map-side
# pre-filter.

_BLOOM_M = 1 << 15
_BLOOM_K = 4


@register(
    "dedup_bloom_prefilter",
    doc="Bloom-filter dedup index (bit_or-aggregated int64 words, 62 "
    "bits/word) built from the snapshot fingerprint index and applied "
    "as a broadcast map-side pre-filter to the ingest batch; row-level "
    "listing of (maybe_dup, is_dup) — no false negatives by "
    "construction.",
    oracle=f"""
WITH snap AS (
  SELECT DISTINCT md5(lower(trim(text))) AS fp
  FROM documents WHERE doc_id % 10 < 8
),
idx AS ({dedup.bloom_index_sql('snap', 'fp', _BLOOM_M, _BLOOM_K)}),
batch AS ({_INGEST_BATCH_SQL}),
bfp AS (SELECT doc_id, md5(lower(trim(text))) AS fp FROM batch),
pos AS (
  SELECT doc_id, fp, unnest([{', '.join(f"({hashing.stable_hash32_sql('fp', seed=i)} % {_BLOOM_M})" for i in range(_BLOOM_K))}]) AS _pos
  FROM bfp
),
chk AS (
  SELECT p.doc_id, p.fp,
         CASE WHEN i.bits IS NULL THEN FALSE
              ELSE ((i.bits >> (p._pos % {dedup.BLOOM_BITS_PER_WORD})::INT) % 2) <> 0 END AS _hit
  FROM pos p LEFT JOIN idx i ON i.slot = (p._pos // {dedup.BLOOM_BITS_PER_WORD})::BIGINT
),
maybe AS (
  SELECT doc_id, fp,
         (sum(CASE WHEN _hit THEN 1 ELSE 0 END) = {_BLOOM_K}) AS maybe_dup
  FROM chk GROUP BY doc_id, fp
)
SELECT m.doc_id, m.maybe_dup, (s.fp IS NOT NULL) AS is_dup
FROM maybe m LEFT JOIN snap s ON s.fp = m.fp
""",
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    snapshot = docs.filter(F.col("doc_id") % 10 < 8)
    snap_index = dedup.content_index(snapshot, "text")
    bloom = dedup.bloom_index(snap_index, "fp", _BLOOM_M, _BLOOM_K)
    batch = _ingest_batch(spark, sf_dir).withColumn(
        "fp", dedup.content_hash(F.coalesce(F.col("text"), F.lit("")))
    ).select("doc_id", "fp")
    maybe = dedup.bloom_might_contain(batch, bloom, "fp", _BLOOM_M, _BLOOM_K)
    return maybe.join(
        snap_index.select(F.col("fp"), F.lit(True).alias("_in")), "fp", "left"
    ).select(
        "doc_id", "maybe_dup", F.coalesce(F.col("_in"), F.lit(False)).alias("is_dup")
    )


@register(
    "dedup_components_keep_newest",
    doc="Cluster dedup with the keep-newest survivor policy (highest "
    "doc_id per similarity component — the 'latest crawl wins' rule), "
    "distinguishing the policy window from dedup_components' min-id "
    "special case: engineered near-dup variants carry +1e6 ids, so "
    "keep-newest selects the VARIANT where min-id selects the "
    "original.",
    oracle=(
        _MINHASH_CTE
        + ","
        + _MINHASH_VERIFIED_PAIRS_SQL
        + """,
e AS (SELECT id_a AS a, id_b AS b FROM vp UNION ALL SELECT id_b, id_a FROM vp),
reach AS (
  SELECT doc_id AS node, doc_id AS lbl FROM u
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.node
),
comp AS (SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node)
SELECT doc_id, component FROM (
  SELECT c.doc_id, c.component,
         row_number() OVER (PARTITION BY c.component ORDER BY c.doc_id DESC) AS rn
  FROM comp c
) WHERE rn = 1
"""
    ).replace("WITH u AS", "WITH RECURSIVE u AS", 1),
)
def dedup_components_keep_newest(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _minhash_corpus(spark, sf_dir)
    pairs = _shared_minhash_pairs(spark, sf_dir)
    survivors = dedup.dedup_components_keep_best(
        corpus.select("doc_id"), pairs, "doc_id", [F.col("doc_id").desc()]
    )
    return survivors.select("doc_id", "component")


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup by embedding-cluster pruning (Abbas et al.
# 2023, arXiv:2303.09540). The oracle replays the exact integer-grid
# Lloyd's chain (shared CTE builder with the kmeans_train gate), then
# prunes within clusters exactly like the Spark operator: a member is
# dropped iff an earlier-in-keep-order member of its cluster is within
# cosine tau. Keep-order = centroid_sim ASC, vec_id ASC (keep the most
# atypical member of each duplicate group, per the paper).


def _semdedup_sql(
    k: int | str = 8,
    iters: int = 2,
    tau: float = 0.35,
    relation: str = "embeddings",
    pre_ctes: str = "",
) -> str:
    from ..operators import vector
    from .vector_q import _cos_sql, _kmeans_ctes

    ctes = ",".join(_kmeans_ctes(k=k, iters=iters, dim=64, relation=relation))
    if pre_ctes:
        ctes = pre_ctes + "," + ctes
    return f"""
WITH {ctes},
af AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {vector.sqdist_q_sql('e.q', 'c.cent')} ASC,
                                       c.cid ASC) AS rn
    FROM e CROSS JOIN c{iters} c) WHERE rn = 1),
dq AS (
  SELECT cid AS ckey,
         list_transform(cent, _x -> (_x - {vector.Q_OFFSET})::DOUBLE / {vector.Q_SCALE}) AS centroid
  FROM c{iters}),
base AS (
  SELECT em.vec_id, a.cid AS cluster, em.embedding AS v,
         round({_cos_sql('em.embedding', 'd.centroid')}, 6) AS centroid_sim
  FROM {relation} em
  JOIN af a ON a.vec_id = em.vec_id
  JOIN dq d ON d.ckey = a.cid),
dropped AS (
  SELECT DISTINCT x.vec_id
  FROM base x JOIN base y ON y.cluster = x.cluster
   AND (y.centroid_sim < x.centroid_sim
        OR (y.centroid_sim = x.centroid_sim AND y.vec_id < x.vec_id))
  WHERE round({_cos_sql('x.v', 'y.v')}, 6) >= {tau})
SELECT b.vec_id, b.cluster, b.centroid_sim
FROM base b ANTI JOIN dropped d ON d.vec_id = b.vec_id
"""


@register(
    "semdedup_prune",
    doc="SemDeDup semantic dedup (arXiv:2303.09540): k-means the "
    "embeddings with the integer-exact Lloyd's trainer, then within "
    "each cluster drop members whose cosine to an earlier-in-keep-order "
    "member reaches tau=0.35; keep-order is centroid_sim ASC (the "
    "paper keeps the most atypical member of each dup group). Survivor "
    "frame (vec_id, cluster, centroid_sim). Cost is sum(|cluster|^2), "
    "bounded by choosing k ~ n/target_cluster_size at scale.",
    oracle=_semdedup_sql(),
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return dedup.semdedup_survivors(
        emb, "vec_id", "embedding", k=8, iters=2, tau=0.35
    )


@register(
    "lsh_tuning_report",
    doc="LSH index-quality harness (the near-dup twin of "
    "ann_recall_report): candidate-stage precision and true-pair "
    "recall of the 16-hash/8-band MinHash scheme against exact "
    "shingle-set Jaccard >= 0.8 ground truth on the augmented corpus. "
    "The all-pairs ground-truth side is the quarantined eval baseline "
    "(run on a sample at 100 TB); the candidate side is the production "
    "banded equi-join. Theory check: banding collision prob at s=0.8 "
    "is 1-(1-s^2)^8 ~ 0.99, so recall_permille should sit near 990+.",
    oracle=_MINHASH_CTE
    + """,
ver AS (
  SELECT p.id_a, p.id_b,
         len(list_intersect(ta.toks, tb.toks))::DOUBLE
           / len(list_distinct(ta.toks || tb.toks)) AS jac
  FROM pairs p
  JOIN t ta ON ta.doc_id = p.id_a
  JOIN t tb ON tb.doc_id = p.id_b
),
truth AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
          / len(list_distinct(a.toks || b.toks)) >= 0.8
)
SELECT (SELECT count(*) FROM truth)::BIGINT AS n_true,
       (SELECT count(*) FROM pairs)::BIGINT AS n_candidates,
       (SELECT count(*) FROM ver WHERE jac >= 0.8)::BIGINT AS n_hits,
       ((1000 * (SELECT count(*) FROM ver WHERE jac >= 0.8))
        // greatest((SELECT count(*) FROM pairs), 1))::BIGINT AS precision_permille,
       ((1000 * (SELECT count(*) FROM ver WHERE jac >= 0.8))
        // greatest((SELECT count(*) FROM truth), 1))::BIGINT AS recall_permille
""",
)
def lsh_tuning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    grouped = _shared_minhash_grouped(spark, sf_dir)
    # candidate pairs with their verified jaccard (threshold=0 keeps
    # every banded candidate, so the count measures the raw candidate
    # stage the production threshold filters)
    cand = dedup.near_dup_pairs_minhash(
        _minhash_corpus(spark, sf_dir), "doc_id", "toks",
        threshold=0.0, num_hashes=16, bands=8, shingle_n=3, grouped=grouped,
    )
    a = grouped.select(F.col("doc_id").alias("id_a"), F.col("_hset").alias("_aset"))
    b = grouped.select(F.col("doc_id").alias("id_b"), F.col("_hset").alias("_bset"))
    truth = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(dedup.jaccard_token_sets(F.col("_aset"), F.col("_bset")) >= 0.8)
        .select("id_a", "id_b")
    )
    stats = (
        cand.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(F.when(F.col("jaccard") >= 0.8, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hits"),
        )
        .crossJoin(
            F.broadcast(
                truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
            )
        )
    )
    return stats.select(
        "n_true",
        "n_candidates",
        "n_hits",
        F.expr(
            "cast(1000 * n_hits div greatest(n_candidates, 1) as bigint)"
        ).alias("precision_permille"),
        F.expr(
            "cast(1000 * n_hits div greatest(n_true, 1) as bigint)"
        ).alias("recall_permille"),
    )


@register(
    "winnowing_fingerprints",
    doc="Winnowing document fingerprints (Schleimer/Wilkerson/Aiken "
    "SIGMOD'03, the MOSS algorithm): per 4-window of 4-gram hashes "
    "select the minimum (rightmost on ties), dedupe — guarantees any "
    "shared run >= w+k-1 = 7 tokens yields a shared fingerprint at "
    "~2/(w+1) density. Per-doc stats report; pure array algebra over "
    "MATERIALIZED intermediate columns (token hashes -> grams -> "
    "selection; re-expanding the gram fold per selector reference is "
    "a measured multi-minute blowup), no explode, one scan.",
    oracle=f"""
WITH th AS (
  SELECT doc_id, {hashing.token_hashes32_sql(tokens_sql("text"))} AS _h FROM documents
),
g AS (
  SELECT doc_id, greatest(len(_h) - 3, 0)::BIGINT AS n_grams,
         {dedup.gram_hash_array_sql("_h", 4)} AS _g
  FROM th
),
fp AS (
  SELECT doc_id, n_grams,
         len({dedup.winnow_fingerprints_sql("_g", 4)})::BIGINT AS n_fps
  FROM g
)
SELECT doc_id, n_grams, n_fps,
       ((1000 * n_fps) // greatest(n_grams, 1))::BIGINT AS density_permille
FROM fp
""",
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cleaning import tokens as _tokens

    docs = load_table(spark, "documents", sf_dir)
    staged = (
        docs.withColumn(
            "_h", F.transform(_tokens(F.col("text")), lambda t: hashing.stable_hash32(t))
        )
        .withColumn("n_grams", F.greatest(F.size("_h") - 3, F.lit(0)).cast("bigint"))
        .withColumn("_g", dedup.gram_hash_array(F.col("_h"), k=4))
        .withColumn("n_fps", F.size(dedup.winnow_fingerprints(F.col("_g"), w=4)).cast("bigint"))
    )
    return staged.select(
        "doc_id",
        "n_grams",
        "n_fps",
        F.expr("cast(1000 * n_fps div greatest(n_grams, 1) as bigint)").alias(
            "density_permille"
        ),
    )


@register(
    "near_dup_pairs_winnowing",
    doc="Winnowing-based near-dup pairs over the augmented corpus: "
    "docs sharing >= 4 winnowed fingerprint hashes. Candidate "
    "generation is an equi-join on the fingerprint hash (sub-linear "
    "index: ~2/(w+1) of gram count) — the substring-guarantee "
    "counterpart to MinHash's whole-doc similarity (any shared 7-token "
    "run WILL produce a shared fingerprint). Hot fingerprints "
    "(boilerplate grams) are exactly the skew the report families "
    "surface; cap or drop top-k keys at 100 TB.",
    oracle=f"""
WITH u AS ({_DOCS_WITH_NEAR_DUPS_SQL}),
th AS (
  SELECT doc_id, {hashing.token_hashes32_sql(tokens_sql("text"))} AS _h FROM u
),
g AS (
  SELECT doc_id, {dedup.gram_hash_array_sql("_h", 4)} AS _g FROM th
),
fp AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           {dedup.winnow_fingerprints_sql("_g", 4)}, _s -> _s.fp))) AS fp
  FROM g
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_shared FROM pairs WHERE n_shared >= 4
""",
)
def near_dup_pairs_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cleaning import tokens as _tokens

    corpus = _docs_with_near_dups(spark, sf_dir)
    fps = (
        corpus.withColumn(
            "_h", F.transform(_tokens(F.col("text")), lambda t: hashing.stable_hash32(t))
        )
        .withColumn("_g", dedup.gram_hash_array(F.col("_h"), k=4))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        dedup.winnow_fingerprints(F.col("_g"), w=4),
                        lambda s: s["fp"],
                    )
                )
            ).alias("fp"),
        )
    )
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= 4)
    )


@register(
    "semdedup_prune_autok",
    doc="SemDeDup through the PRODUCTION auto-k lane: k=None derives "
    "k = ceil(n / target_cluster_size) from a corpus count at plan "
    "construction (the arXiv:2303.09540 constant-cluster-fill regime "
    "that keeps the in-cluster quadratic prune linear — scale_smoke "
    "asserts its 4x ratio bound). At sf0.01 the derivation lands on "
    "k = ceil(500/64) = 8, so the fixed-k oracle CTE replays the "
    "exact same clustering — the gate exercises the auto-k code path "
    "end-to-end while staying hash-comparable.",
    oracle=_semdedup_sql(k=8),
)
def semdedup_prune_autok(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return dedup.semdedup_survivors(
        emb, "vec_id", "embedding", k=None, iters=2, tau=0.35,
        target_cluster_size=64,
    )


# Sampled-slice twin predicate for the embeddings table: the ~10% md5
# slice PLUS the seed block vec_id < 8 — Lloyd's seeding takes the
# vectors with vec_id < k, and auto-k never exceeds 8 below 512 slice
# rows (sf0.1's slice is ~232), so keeping the seed block makes the
# seeding rule total on the slice at every sweep scale.
_S10E_PRED_SQL = (
    "(vec_id < 8 OR substring(md5(vec_id::VARCHAR), 1, 2) < '1a')"
)


@register(
    "semdedup_prune_sampled",
    doc="SemDeDup through the auto-k lane over the deterministic "
    "embeddings slice (~10% md5 sample + the vec_id<8 seed block) — "
    "the sf0.1-sweep twin of the bench-headlining semdedup gates, "
    "whose full oracles are sf0.01-only. The k-derivation is pinned "
    "to the SLICE size on both sides: Spark derives "
    "k = max(1, ceil(n_slice/64)) from a count of the sliced frame, "
    "and the oracle computes the identical k as a scalar subquery, so "
    "the twin stays hash-comparable at any scale factor.",
    oracle=_semdedup_sql(
        k="(SELECT _k FROM _kk)",
        relation="s10e",
        pre_ctes=f"""
s10e AS (SELECT * FROM embeddings WHERE {_S10E_PRED_SQL}),
_kk AS (SELECT greatest(1, ceil(count(*) / 64.0))::INT AS _k FROM s10e)""",
    ),
)
def semdedup_prune_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir).filter(
        (F.col("vec_id") < 8)
        | (F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2) < "1a")
    )
    return dedup.semdedup_survivors(
        emb, "vec_id", "embedding", k=None, iters=2, tau=0.35,
        target_cluster_size=64,
    )


# Perceptual (pHash) media near-dup — the image analogue of the
# SimHash gate. The corpus has no media column, so the gate
# synthesizes one deterministically per doc: content depends ONLY on
# the doc's group (doc_id % 17) while the ENCODING alternates by
# doc_id parity (even -> PNG of the RGB raster, odd -> baseline 4:2:0
# JPEG of the same raster's YCbCr planes). The luma lattice is
# per-8x8-block constant with a flat q=8 quant table — the DC-only
# lattice where the JPEG roundtrip is bit-exact (see the
# jpeg_image_decode_stats note) — so a PNG copy and a JPEG re-encode
# of the same picture decode to IDENTICAL pixels and must collide at
# hamming 0, while block values come from a murmur3-fmix32 avalanche
# mix so cross-group pHash distances are large (verified min 20 over
# all 136 group pairs vs the gate's max_hamming=6; a linear g*73+b*41
# pattern was rejected because groups then differ by a near-constant
# brightness shift, which pHash is DESIGNED to ignore). Ground truth
# is therefore closed-form — all same-group pairs at hamming 0 — and
# the oracle states it as a plain group self-join while Spark earns
# it through the full lane: payload synth, real PNG/JPEG decode,
# 32x32 area resize, 2D DCT, median threshold, 9-bit-block pigeonhole
# banding, exact hamming filter.
_PHASH_GROUPS = 17


def _phash_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    from ..operators import multimodal

    docs = (
        load_table(spark, "documents", sf_dir)
        .filter(F.col("doc_id") % 3 == 1)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def synth(batches):
        import numpy as np

        m32 = (1 << 32) - 1

        def fmix32(x: int) -> int:
            x &= m32
            x ^= x >> 16
            x = (x * 0x85EBCA6B) & m32
            x ^= x >> 13
            x = (x * 0xC2B2AE35) & m32
            x ^= x >> 16
            return x

        flat8 = [8] * 64
        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                g = d % _PHASH_GROUPS
                y = np.zeros((64, 64), dtype=np.uint8)
                for b in range(64):
                    by, bx = divmod(b, 8)
                    y[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                        fmix32(g * 64 + b + 1) >> 24
                    )
                cbv, crv = (g * 13 + 40) % 256, (g * 11 + 80) % 256
                if d % 2 == 0:
                    yf = y.astype(np.float64)
                    r = np.clip(np.floor(yf + 1.402 * (crv - 128) + 0.5), 0, 255)
                    gc = np.clip(
                        np.floor(
                            yf - 0.344136 * (cbv - 128) - 0.714136 * (crv - 128) + 0.5
                        ),
                        0,
                        255,
                    )
                    bl = np.clip(np.floor(yf + 1.772 * (cbv - 128) + 0.5), 0, 255)
                    rgb = np.stack([r, gc, bl], axis=-1).astype(np.uint8)
                    payload = multimodal.write_png(rgb)
                else:
                    payload = multimodal.write_jpeg(
                        y,
                        np.full((64, 64), cbv, dtype=np.uint8),
                        np.full((64, 64), crv, dtype=np.uint8),
                        q_luma=flat8,
                        q_chroma=flat8,
                        subsampling="420",
                    )
                ids.append(d)
                payloads.append(payload)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return docs.mapInPandas(synth, schema)


@register(
    "near_dup_pairs_phash",
    doc="Perceptual near-dup pairs over REAL image payloads: 63-bit "
    "DCT pHash (BT.601 luma -> 32x32 area resize -> 2D DCT-II -> "
    "median-threshold of the DC-less 8x8 corner) computed off real "
    "PNG/JPEG decodes, pairs via the 9-bit-block pigeonhole equi-join "
    "(lossless for hamming <= 6, no all-pairs product). Same-group "
    "docs carry the same picture under DIFFERENT encodings (PNG vs "
    "baseline 4:2:0 JPEG on the DC-exact lattice), so the re-encoded "
    "copies must collide at hamming 0; cross-group distances are >= "
    "20 by construction, so ground truth is the closed-form group "
    "self-join the oracle states.",
    oracle=f"""
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INTEGER) AS hamming
FROM documents a JOIN documents b
  ON a.doc_id % {_PHASH_GROUPS} = b.doc_id % {_PHASH_GROUPS}
 AND a.doc_id < b.doc_id
WHERE a.doc_id % 3 = 1 AND b.doc_id % 3 = 1
""",
)
def near_dup_pairs_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _phash_corpus(spark, sf_dir)
    out = dedup.near_dup_pairs_phash(
        corpus, "doc_id", "payload", max_hamming=6, blocks=7
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# Audio analogue of the pHash gate: same-group docs carry the SAME
# recording under different encodings — 16-bit PCM for even doc_ids,
# G.711 mu-law for odd — synthesized ON the companding lattice (frame
# sample values are exact mu-law decode-table outputs, so the lossy
# telephony transcode roundtrips bit-exactly; the audio analogue of
# the DC-exact JPEG lattice). Per-frame codes come through the same
# murmur3-fmix32 avalanche mix, giving verified min cross-group
# fingerprint distance 20 over all 78 group pairs vs max_hamming=6,
# so ground truth is again the closed-form group self-join while
# Spark earns it through real WAV synthesis, container decode,
# framed-energy fingerprinting, banding, and the hamming filter.
_AUDIO_GROUPS = 13


def _audio_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    from ..operators import multimodal

    docs = (
        load_table(spark, "documents", sf_dir)
        .filter(F.col("doc_id") % 3 == 2)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def synth(batches):
        import numpy as np

        m32 = (1 << 32) - 1

        def fmix32(x: int) -> int:
            x &= m32
            x ^= x >> 16
            x = (x * 0x85EBCA6B) & m32
            x ^= x >> 13
            x = (x * 0xC2B2AE35) & m32
            x ^= x >> 16
            return x

        table = multimodal.ulaw_decode_table()
        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                g = d % _AUDIO_GROUPS
                codes = np.array(
                    [fmix32(g * 97 + f * 131 + 7) >> 24 for f in range(64)],
                    dtype=np.uint8,
                )
                if d % 2 == 0:
                    samples = np.repeat(table[codes], 256).astype(np.int16)
                    payload = multimodal.write_wav(samples, 8000)
                else:
                    payload = multimodal.write_wav_g711(
                        bytes(np.repeat(codes, 256)), 8000
                    )
                ids.append(d)
                payloads.append(payload)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return docs.mapInPandas(synth, schema)


@register(
    "near_dup_pairs_audio",
    doc="Perceptual near-dup pairs over REAL audio payloads: 63-bit "
    "energy-delta fingerprint (Haitsma-Kalker family: 64 frames x 256 "
    "samples, bit = next frame louder) computed off real WAV decodes, "
    "pairs via the shared 9-bit-block pigeonhole equi-join. Same-group "
    "docs carry the same recording as 16-bit PCM vs G.711 mu-law ON "
    "the companding lattice, so the lossy transcode collides at "
    "hamming 0; cross-group distances are >= 20 by construction and "
    "ground truth is the closed-form group self-join.",
    oracle=f"""
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INTEGER) AS hamming
FROM documents a JOIN documents b
  ON a.doc_id % {_AUDIO_GROUPS} = b.doc_id % {_AUDIO_GROUPS}
 AND a.doc_id < b.doc_id
WHERE a.doc_id % 3 = 2 AND b.doc_id % 3 = 2
""",
)
def near_dup_pairs_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _audio_corpus(spark, sf_dir)
    out = dedup.near_dup_pairs_audio_fp(
        corpus, "doc_id", "payload", max_hamming=6, blocks=7
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# Video analogue, completing the perceptual-dedup family across the
# doc partition (%3==1 images, %3==2 audio, %3==0 video): same-group
# docs carry the SAME 3-frame clip in different CONTAINERS — MJPEG-
# in-AVI (each frame a real baseline JPEG on the DC-exact lattice
# with neutral chroma 128, so the decode is exactly the gray frame)
# for even doc_ids, raw YUV4MPEG2 luma for odd. Per-frame pHashes are
# identical across containers, so the majority-vote fingerprints
# collide at hamming 0; cross-group distances are >= 26 (verified
# over all 55 group pairs) vs max_hamming=6.
_VIDEO_GROUPS = 11


def _video_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    from ..operators import multimodal

    docs = (
        load_table(spark, "documents", sf_dir)
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def synth(batches):
        import numpy as np

        m32 = (1 << 32) - 1

        def fmix32(x: int) -> int:
            x &= m32
            x ^= x >> 16
            x = (x * 0x85EBCA6B) & m32
            x ^= x >> 13
            x = (x * 0xC2B2AE35) & m32
            x ^= x >> 16
            return x

        flat8 = [8] * 64
        gray = np.full((64, 64), 128, dtype=np.uint8)
        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                g = d % _VIDEO_GROUPS
                lumas = []
                for fidx in range(3):
                    y = np.zeros((64, 64), dtype=np.uint8)
                    for b in range(64):
                        by, bx = divmod(b, 8)
                        y[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                            fmix32(g * 1000 + fidx * 64 + b + 1) >> 24
                        )
                    lumas.append(y)
                if d % 2 == 0:
                    payload = multimodal.write_avi_mjpeg(
                        [
                            multimodal.write_jpeg(
                                y, gray, gray, q_luma=flat8,
                                q_chroma=flat8, subsampling="420",
                            )
                            for y in lumas
                        ],
                        64,
                        64,
                    )
                else:
                    payload = multimodal.write_y4m(np.stack(lumas))
                ids.append(d)
                payloads.append(payload)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return docs.mapInPandas(synth, schema)


@register(
    "near_dup_pairs_video",
    doc="Perceptual near-dup pairs over REAL video payloads: per-frame "
    "63-bit DCT pHash folded by per-bit majority vote, computed off "
    "real MJPEG-in-AVI decodes (every frame through the T.81 decoder) "
    "and YUV4MPEG2 luma planes, pairs via the shared 9-bit-block "
    "pigeonhole equi-join. Same-group docs carry the same 3-frame clip "
    "in the two containers, which must collide at hamming 0; cross-"
    "group distances are >= 26 by construction and ground truth is the "
    "closed-form group self-join.",
    oracle=f"""
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INTEGER) AS hamming
FROM documents a JOIN documents b
  ON a.doc_id % {_VIDEO_GROUPS} = b.doc_id % {_VIDEO_GROUPS}
 AND a.doc_id < b.doc_id
WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 = 0
""",
)
def near_dup_pairs_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _video_corpus(spark, sf_dir)
    out = dedup.near_dup_pairs_video_fp(
        corpus, "doc_id", "payload", max_hamming=6, blocks=7
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# --- sf0.1-sweep slice twin for the LSH eval harness (r11 item 3) ----
# lsh_tuning_report's ground-truth side is all-pairs Jaccard, so the
# full gate is sf0.01-only; this twin runs the SAME recipe over the
# first-600-base-doc slice (augmentation inside the slice keeps every
# base+variant near-dup pair whole), keeping the oracle tractable at
# sf0.1 while the sweep verifies the lineage against the sf0.1 files.

_LSH_SLICE_N = 600


def _docs_with_near_dups_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-600-base-doc slice of the augmented near-dup corpus: the
    slice is applied BEFORE augmentation so every base+variant pair
    stays whole (Spark half of _docs_with_near_dups_sql(slice))."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    sliced = docs.filter(F.col("doc_id") < _LSH_SLICE_N)
    toks = F.split(F.col("text"), " ")
    variants = sliced.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + VARIANT_OFFSET).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
        ).alias("text"),
    )
    return sliced.unionByName(variants).repartition(
        spark.sparkContext.defaultParallelism
    )


@register(
    "lsh_tuning_report_sliced",
    doc="lsh_tuning_report over the first-600-base-doc slice — the "
    "sf0.1-sweep twin of the full gate (whose exact ground truth is "
    "all-pairs by design). Same 16-hash/8-band scheme, same "
    "precision/recall arithmetic.",
    oracle=_minhash_cte(f" AND doc_id < {_LSH_SLICE_N}")
    + """,
ver AS (
  SELECT p.id_a, p.id_b,
         len(list_intersect(ta.toks, tb.toks))::DOUBLE
           / len(list_distinct(ta.toks || tb.toks)) AS jac
  FROM pairs p
  JOIN t ta ON ta.doc_id = p.id_a
  JOIN t tb ON tb.doc_id = p.id_b
),
truth AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
          / len(list_distinct(a.toks || b.toks)) >= 0.8
)
SELECT (SELECT count(*) FROM truth)::BIGINT AS n_true,
       (SELECT count(*) FROM pairs)::BIGINT AS n_candidates,
       (SELECT count(*) FROM ver WHERE jac >= 0.8)::BIGINT AS n_hits,
       ((1000 * (SELECT count(*) FROM ver WHERE jac >= 0.8))
        // greatest((SELECT count(*) FROM pairs), 1))::BIGINT AS precision_permille,
       ((1000 * (SELECT count(*) FROM ver WHERE jac >= 0.8))
        // greatest((SELECT count(*) FROM truth), 1))::BIGINT AS recall_permille
""",
)
def lsh_tuning_report_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _docs_with_near_dups_sliced(spark, sf_dir).withColumn(
        "toks", dedup.tokens(F.col("text"))
    )
    grouped = dedup.minhash_grouped(
        corpus, "doc_id", "toks", num_hashes=16, shingle_n=3
    )
    cand = dedup.near_dup_pairs_minhash(
        corpus, "doc_id", "toks",
        threshold=0.0, num_hashes=16, bands=8, shingle_n=3, grouped=grouped,
    )
    a = grouped.select(F.col("doc_id").alias("id_a"), F.col("_hset").alias("_aset"))
    b = grouped.select(F.col("doc_id").alias("id_b"), F.col("_hset").alias("_bset"))
    truth = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(dedup.jaccard_token_sets(F.col("_aset"), F.col("_bset")) >= 0.8)
        .select("id_a", "id_b")
    )
    stats = (
        cand.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(F.when(F.col("jaccard") >= 0.8, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hits"),
        )
        .crossJoin(
            F.broadcast(
                truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
            )
        )
    )
    return stats.select(
        "n_true",
        "n_candidates",
        "n_hits",
        F.expr(
            "cast(1000 * n_hits div greatest(n_candidates, 1) as bigint)"
        ).alias("precision_permille"),
        F.expr(
            "cast(1000 * n_hits div greatest(n_true, 1) as bigint)"
        ).alias("recall_permille"),
    )


_SLICE_WHERE = f" AND doc_id < {_LSH_SLICE_N}"


@register(
    "dedup_fuzzy_jaccard_sliced",
    doc="dedup_fuzzy_jaccard over the first-600-base-doc slice — the "
    "sf0.1-sweep twin of the full gate (all-pairs Jaccard oracle). "
    "Same exact Jaccard operator, same keep-the-longer policy.",
    oracle=f"""
WITH u AS ({_docs_with_near_dups_sql(_SLICE_WHERE)}),
t AS (
  SELECT doc_id, length(text) AS tlen,
         list_distinct(string_split(text, ' ')) AS toks
  FROM u
),
dup AS (
  SELECT DISTINCT b.doc_id
  FROM t a JOIN t b
    ON ((a.tlen > b.tlen) OR (a.tlen = b.tlen AND a.doc_id < b.doc_id))
  WHERE len(a.toks) > 0 AND len(b.toks) > 0
    AND len(list_intersect(a.toks, b.toks))::DOUBLE
        / len(list_distinct(a.toks || b.toks)) >= 0.95
)
SELECT doc_id FROM t WHERE doc_id NOT IN (SELECT doc_id FROM dup)
""",
)
def dedup_fuzzy_jaccard_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _docs_with_near_dups_sliced(spark, sf_dir).withColumn(
        "tlen", F.length("text")
    ).withColumn("toks", F.split(F.col("text"), " "))
    return dedup.dedup_similarity_exact(
        corpus, "doc_id", "toks", threshold=0.95, prefer_desc_col="tlen"
    ).select("doc_id")


@register(
    "near_dup_pairs_ngram_sliced",
    doc="near_dup_pairs_ngram over the first-600-base-doc slice — the "
    "sf0.1-sweep twin (all-pairs shingle-Jaccard oracle). Same "
    "operator, same 3-gram shingles, same threshold.",
    oracle=f"""
WITH u AS ({_docs_with_near_dups_sql(_SLICE_WHERE)}),
tk AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                     _x -> _x <> '') AS toks
  FROM u
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 0) + 1),
           _i -> array_to_string(list_slice(toks, _i, _i + 2), ' '))) AS sset
  FROM tk
),
nonempty AS (SELECT * FROM sh WHERE len(sset) > 0)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(len(list_intersect(a.sset, b.sset))::DOUBLE
               / len(list_distinct(a.sset || b.sset)), 6) AS jaccard
  FROM nonempty a JOIN nonempty b ON a.doc_id < b.doc_id
) WHERE jaccard >= 0.5
""",
)
def near_dup_pairs_ngram_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _docs_with_near_dups_sliced(spark, sf_dir)
    return dedup.near_dup_pairs_ngram(corpus, "doc_id", "text", n=3, threshold=0.5)


@register(
    "near_dup_pairs_containment_sliced",
    doc="near_dup_pairs_containment over the first-600-base-doc slice "
    "— the sf0.1-sweep twin (the independent quadratic containment "
    "oracle). Same prefix-filter candidate generation + exact "
    "verification.",
    oracle=_minhash_cte(_SLICE_WHERE)
    + """
SELECT id_a, id_b, containment FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         (floor((len(list_intersect(a.toks, b.toks))::DOUBLE / len(a.toks)) * 1000000.0 + 0.5) / 1000000.0)
           AS containment,
         len(list_intersect(a.toks, b.toks))::DOUBLE / len(a.toks) AS _raw
  FROM t a JOIN t b ON a.doc_id <> b.doc_id
) WHERE _raw >= 0.8
""",
)
def near_dup_pairs_containment_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _docs_with_near_dups_sliced(spark, sf_dir).withColumn(
        "toks", dedup.tokens(F.col("text"))
    )
    grouped = dedup.minhash_grouped(
        corpus, "doc_id", "toks", num_hashes=16, shingle_n=3
    )
    return dedup.containment_pairs(
        corpus, "doc_id", "toks", threshold=0.8, shingle_n=3, grouped=grouped
    )


@register(
    "near_dup_pairs_winnowing_sliced",
    doc="near_dup_pairs_winnowing over the first-600-base-doc slice — "
    "the sf0.1-sweep twin (the fingerprint self-join's verification "
    "side is corpus-quadratic in DuckDB). Same winnowing window, same "
    "shared-fingerprint floor.",
    oracle=f"""
WITH u AS ({_docs_with_near_dups_sql(_SLICE_WHERE)}),
th AS (
  SELECT doc_id, {hashing.token_hashes32_sql(tokens_sql("text"))} AS _h FROM u
),
g AS (
  SELECT doc_id, {dedup.gram_hash_array_sql("_h", 4)} AS _g FROM th
),
fp AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           {dedup.winnow_fingerprints_sql("_g", 4)}, _s -> _s.fp))) AS fp
  FROM g
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_shared FROM pairs WHERE n_shared >= 4
""",
)
def near_dup_pairs_winnowing_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cleaning import tokens as _tokens

    corpus = _docs_with_near_dups_sliced(spark, sf_dir)
    fps = (
        corpus.withColumn(
            "_h", F.transform(_tokens(F.col("text")), lambda t: hashing.stable_hash32(t))
        )
        .withColumn("_g", dedup.gram_hash_array(F.col("_h"), k=4))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        dedup.winnow_fingerprints(F.col("_g"), w=4),
                        lambda s: s["fp"],
                    )
                )
            ).alias("fp"),
        )
    )
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= 4)
    )


@register(
    "near_dup_pairs_embedding_sliced",
    doc="near_dup_pairs_embedding over the first-500-vec_id slice — "
    "the sf0.1-sweep twin (the in-bucket verification is bucket-"
    "quadratic in DuckDB at sf0.1). Same multi-probe IVF candidate "
    "generation, same exact-cosine verification.",
    oracle="""
WITH es AS (SELECT * FROM embeddings WHERE vec_id < 500),
e AS (SELECT vec_id, embedding AS v FROM es),
dims AS (
  SELECT label AS ckey, _i, avg(embedding[_i]::DOUBLE) AS m
  FROM es, range(1, 65) r(_i)
  GROUP BY label, _i
),
cent AS (SELECT ckey, list(m ORDER BY _i) AS centroid FROM dims GROUP BY ckey),
assign AS (
  SELECT vec_id, ckey FROM (
    SELECT e.vec_id, c.ckey,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY COS_VC DESC, c.ckey ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn <= 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assign a JOIN assign b ON a.ckey = b.ckey AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM (
  SELECT c.id_a, c.id_b, round(COS_AB, 6) AS cosine
  FROM cand c
  JOIN e ea ON ea.vec_id = c.id_a
  JOIN e eb ON eb.vec_id = c.id_b
) WHERE cosine >= 0.45
""".replace("COS_VC", _cos_sql("e.v", "c.centroid")).replace(
        "COS_AB", _cos_sql("ea.v", "eb.v")
    ),
)
def near_dup_pairs_embedding_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import vector

    emb = load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 500)
    cents = vector.centroids_by_key(emb, "label", "embedding")
    return dedup.near_dup_pairs_embedding_ivf(
        emb, cents, "vec_id", "embedding", threshold=0.45, nprobe=2
    )

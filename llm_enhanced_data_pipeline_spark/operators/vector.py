"""Vector / similarity-search operators (SURVEY.md §2.10, J4/R1-R5).

Reference parity: the reference's vector store is parallel in-memory
arrays with brute-force cosine top-k (`RAG/rag.ipynb` cell 1,
``VectorStore.search`` source lines 488-530). Here the corpus is a
DataFrame with an ``array<float>`` column; similarity math is built-in
higher-order functions (JVM-side), so the brute-force path is already
distributed. The scale path adds IVF (centroid-routed search) — at
100 TB the corpus is bucketed by centroid so a query probes only its
cluster's partitions instead of the full scan.

All math is done in double precision (cast from float32 storage) in
left-to-right order so the DuckDB oracle reproduces values bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ a_i * b_i, accumulated in double, sequential order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_sql(a: str, b: str) -> str:
    return f"list_sum(list_transform(range(1, len({a}) + 1), _i -> ({a})[_i]::DOUBLE * ({b})[_i]::DOUBLE))::DOUBLE"


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def l2_norm_sql(a: str) -> str:
    return f"sqrt(list_sum(list_transform({a}, _x -> _x::DOUBLE * _x::DOUBLE))::DOUBLE)"


def cosine_similarity(a: Column, b: Column) -> Column:
    """dot/(|a||b|) with a zero-norm guard (reference's norm guard:
    rag.ipynb `_embed_simple` normalizes only when norm > 0)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def cosine_similarity_sql(a: str, b: str) -> str:
    denom = f"({l2_norm_sql(a)} * {l2_norm_sql(b)})"
    return f"(CASE WHEN {denom} > 0 THEN {dot_sql(a, b)} / {denom} ELSE 0.0 END)"


# ---------------------------------------------------------------------------
# Brute-force cosine top-k: one query vector against the corpus
# (VectorStore.search). The reference's threshold quirk is replicated:
# similarity ordering decides the top-k FIRST; the threshold only
# excludes results beyond rank k (rag.ipynb source lines 514-516) — so
# for k <= corpus it is effectively plain top-k. We expose `threshold`
# applied the same way: keep rank <= k, then optionally extras >= τ is
# NOT done (the reference breaks out of the loop at k).

def cosine_topk(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: Column,
    k: int,
) -> DataFrame:
    """Top-k rows by cosine similarity; ties broken by id ascending."""
    scored = corpus.select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), query_vec), 6).alias("sim"),
    )
    return scored.orderBy(F.col("sim").desc(), F.col(id_col).asc()).limit(k)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int,
    exclude_self: bool = True,
) -> DataFrame:
    """k nearest corpus rows for every query row (brute force).

    Shuffle shape: corpus is broadcast when small; otherwise Spark
    falls back to a shuffled nested-loop — at real scale use
    :func:`ivf_knn_join`.
    """
    from pyspark.sql import Window

    q = queries.select(F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qv"))
    c = corpus.select(F.col(corpus_id).alias("_cid"), F.col(corpus_vec).alias("_cv"))
    cond = F.lit(True) if not exclude_self else (F.col("_qid") != F.col("_cid"))
    scored = q.join(c, cond).withColumn(
        "sim", F.round(cosine_similarity(F.col("_qv"), F.col("_cv")), 6)
    )
    w = Window.partitionBy("_qid").orderBy(F.col("sim").desc(), F.col("_cid").asc())
    return (
        scored.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias("neighbor_id"),
            F.col("_rank").alias("rank"),
            F.col("sim"),
        )
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) approximate search: corpus rows are assigned to
# the nearest of a small centroid set; a query searches only its
# nearest centroid's bucket (nprobe=1 here). Centroids come from any
# deterministic source — `centroids_by_key` builds them as per-group
# dimension means, which doubles as the oracle-checkable construction.

def random_hyperplanes(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH, derived
    from md5 so any engine (or the SQL oracle) reproduces them exactly:
    h[p][d] = md5_int32(f"{p}:{d}") / 2^32 - 0.5."""
    import hashlib

    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16)
            row.append(h / 2**32 - 0.5)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit p set iff dot(vec, plane_p) > 0.

    Planes are literals, so the captured lambda subtree is free to
    re-evaluate; cosine-similar vectors land in the same bucket with
    probability 1 - theta/pi per bit."""
    bucket = F.lit(0).cast("bigint")
    for p, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(v) for v in plane])
        d = dot(vec, plane_col)
        bucket = bucket + F.when(d > 0, F.lit(2**p).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    return bucket


def lsh_bucket_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """DuckDB twin of :func:`lsh_bucket` (identical literal planes)."""
    terms = []
    for p, plane in enumerate(planes):
        arr = "[" + ", ".join(repr(v) for v in plane) + "]"
        d = (
            f"list_sum(list_transform(range(1, len({vec_expr}) + 1), "
            f"_i -> ({vec_expr})[_i]::DOUBLE * ({arr})[_i]))::DOUBLE"
        )
        terms.append(f"(CASE WHEN {d} > 0 THEN {2**p}::BIGINT ELSE 0::BIGINT END)")
    return "(" + " + ".join(terms) + ")"


def centroids_by_key(
    corpus: DataFrame, key_col: str, vec_col: str
) -> DataFrame:
    """Element-wise mean vector per key: explode → avg per (key, pos) →
    re-assemble ordered by position. Distributed (no driver collect)."""
    exploded = corpus.select(
        F.col(key_col).alias("ckey"), F.posexplode(F.col(vec_col)).alias("pos", "val")
    )
    means = exploded.groupBy("ckey", "pos").agg(
        F.avg(F.col("val").cast("double")).alias("mval")
    )
    return means.groupBy("ckey").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mval"))), lambda s: s["mval"]
        ).alias("centroid")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int = 1,
) -> DataFrame:
    """Assign every row to its ``nprobe`` max-cosine centroids
    (broadcast join — centroid sets are tiny by construction).

    nprobe=1 is the classic IVF assignment (one row per input row);
    nprobe>1 emits one row per probed centroid, which multi-probe
    candidate generation uses to catch pairs that straddle a cluster
    boundary."""
    from pyspark.sql import Window

    scored = corpus.crossJoin(F.broadcast(centroids)).withColumn(
        "_csim", cosine_similarity(F.col(vec_col), F.col("centroid"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_csim").desc(), F.col("ckey").asc())
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= nprobe)
        .drop("_r", "_csim", "centroid")
    )


def ivf_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int,
) -> DataFrame:
    """Approximate kNN: route query and corpus rows to centroid buckets
    and run the exact kNN within each bucket (equi-join on ckey → a
    plain shuffle join, no cross product)."""
    from pyspark.sql import Window

    cq = ivf_assign(queries, centroids, query_id, query_vec).select(
        F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qv"), "ckey"
    )
    cc = ivf_assign(corpus, centroids, corpus_id, corpus_vec).select(
        F.col(corpus_id).alias("_cid"), F.col(corpus_vec).alias("_cv"), "ckey"
    )
    scored = (
        cq.join(cc, "ckey")
        .filter(F.col("_qid") != F.col("_cid"))
        .withColumn("sim", F.round(cosine_similarity(F.col("_qv"), F.col("_cv")), 6))
    )
    w = Window.partitionBy("_qid").orderBy(F.col("sim").desc(), F.col("_cid").asc())
    return (
        scored.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias("neighbor_id"),
            F.col("_rank").alias("rank"),
            F.col("sim"),
        )
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    query_grp: str,
    corpus_grp: str,
    k: int,
) -> DataFrame:
    """Hard-negative mining for retrieval / embedding training (DPR,
    Karpukhin et al. 2020, arXiv:2004.04906; ANCE, arXiv:2007.00808):
    for every query, the top-k most-similar corpus items from a
    DIFFERENT positive group — the near-misses that in-batch random
    negatives never surface and that contrastive training needs.

    Same IVF-routed shape as :func:`ivf_knn_join` (bucket equi-join,
    exact scoring within the bucket) with the positive group excluded
    at the candidate stage, so mined negatives can never leak a
    positive. Returns (query_id, neighbor_id, rank, sim).

    Scale shape: two broadcast centroid assignments + one equi-join on
    the bucket key + a per-query top-k window. Never query x corpus.
    """
    from pyspark.sql import Window

    cq = ivf_assign(queries, centroids, query_id, query_vec).select(
        F.col(query_id).alias("_qid"),
        F.col(query_vec).alias("_qv"),
        F.col(query_grp).alias("_qg"),
        "ckey",
    )
    cc = ivf_assign(corpus, centroids, corpus_id, corpus_vec).select(
        F.col(corpus_id).alias("_cid"),
        F.col(corpus_vec).alias("_cv"),
        F.col(corpus_grp).alias("_cg"),
        "ckey",
    )
    scored = (
        cq.join(cc, "ckey")
        .filter(F.col("_qg") != F.col("_cg"))
        .withColumn("sim", F.round(cosine_similarity(F.col("_qv"), F.col("_cv")), 6))
    )
    w = Window.partitionBy("_qid").orderBy(F.col("sim").desc(), F.col("_cid").asc())
    return (
        scored.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias("neighbor_id"),
            F.col("_rank").alias("rank"),
            F.col("sim"),
        )
    )


# ---------------------------------------------------------------------------
# K-means (Lloyd's) centroid training — the production IVF training
# path. `centroids_by_key` needs a pre-existing grouping key; k-means
# learns the partitioning from the vectors themselves, which is how a
# real IVF index is built when no label column exists.
#
# Engine-exact by construction: every vector component is quantized to
# a non-negative 64-bit integer grid (floor(x * 1e6) + 2e6), so
# distances, sums, and mean updates are integer arithmetic — immune to
# the floating-point summation-order nondeterminism that would
# otherwise make a distributed k-means unreproducible across engines
# (or across two runs of the same engine with different partitioning).
# The 2e6 offset keeps the grid non-negative (supports |x| < 2), which
# makes Spark's `div` (truncate toward zero) and DuckDB's `//` (floor)
# agree on the mean update. Distance bound: diff < 4e6, squared < 1.6e13,
# x dim 64 < 1.1e15 — no int64 overflow for dims up to ~500k.

Q_SCALE = 1_000_000
Q_OFFSET = 2_000_000


def quantize_vec(vec: Column) -> Column:
    """float array -> exact non-negative bigint grid array."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * Q_SCALE).cast("bigint") + Q_OFFSET
    )


def quantize_vec_sql(expr: str) -> str:
    return (
        f"list_transform({expr}, _x -> CAST(floor(_x::DOUBLE * {Q_SCALE}) "
        f"AS BIGINT) + {Q_OFFSET})"
    )


def sqdist_q(a: Column, b: Column) -> Column:
    """Exact integer squared L2 distance between quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def sqdist_q_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"_i -> (({a})[_i] - ({b})[_i]) * (({a})[_i] - ({b})[_i])))::BIGINT"
    )


def kmeans_assign(quantized: DataFrame, centroids: DataFrame, id_col: str) -> DataFrame:
    """Nearest-centroid assignment: broadcast the (tiny) centroid frame,
    rank by (distance, cid) for a total tie order. Returns
    (id_col, _q, cid) — one row per input vector."""
    from pyspark.sql import Window

    scored = quantized.crossJoin(F.broadcast(centroids)).withColumn(
        "_d", sqdist_q(F.col("_q"), F.col("_cent"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_d").asc(), F.col("cid").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "_q", "cid")
    )


def kmeans_update(assigned: DataFrame) -> DataFrame:
    """Integer mean update: explode dims, per-(cid, pos) truncated-mean,
    re-assemble ordered by position. All values non-negative, so
    truncation == floor and both engines agree exactly."""
    dims = (
        assigned.select("cid", F.posexplode("_q").alias("_pos", "_v"))
        .groupBy("cid", "_pos")
        .agg(F.expr("sum(_v) div count(1)").alias("_m"))
    )
    return dims.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", "_m"))), lambda s: s["_m"]
        ).alias("_cent")
    )


def kmeans_train_quantized(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means over the quantized grid. Seeds = the vectors of
    the k smallest ids (deterministic, oracle-reproducible). Returns
    (assignments, centroids): the final assignment frame
    (id_col, _q, cid) against the last-updated centroid frame
    (cid, _cent); empty clusters drop out (same in both engines).

    Scale shape: each iteration is one broadcast nested-loop against k
    rows (k is small by definition), one window (same hash partitioning
    reused), and one explode+groupBy pair keyed on (cid, pos) — k*dim
    groups, trivially balanced. No driver collect; lineage grows
    linearly in `iters` (use localCheckpoint beyond ~20 iterations).
    """
    q = corpus.select(F.col(id_col), quantize_vec(F.col(vec_col)).alias("_q"))
    cents = q.filter(F.col(id_col) < k).select(
        F.col(id_col).cast("int").alias("cid"), F.col("_q").alias("_cent")
    )
    for _ in range(iters):
        assigned = kmeans_assign(q, cents, id_col)
        cents = kmeans_update(assigned)
    return kmeans_assign(q, cents, id_col), cents


def dequantize_centroids(cents: DataFrame) -> DataFrame:
    """(cid, _cent bigint grid) -> (ckey, centroid double) frame in the
    shape `ivf_assign`/`ivf_knn_join` consume — the bridge from k-means
    training to IVF serving."""
    return cents.select(
        F.col("cid").alias("ckey"),
        F.transform(
            F.col("_cent"), lambda v: (v - Q_OFFSET).cast("double") / Q_SCALE
        ).alias("centroid"),
    )


def mmr_topk(
    corpus: DataFrame,
    query_row: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick k items maximizing
    ``lam * rel(d) - (1 - lam) * max_{s in selected} sim(d, s)`` —
    relevance traded against redundancy, the standard diversified
    retrieval pass behind RAG context assembly (reference anchor:
    RAG/rag.ipynb VectorStore.search, which returns the UNdiversified
    top-k this operator upgrades).

    ``query_row`` is a 1-row frame with a ``qv`` vector column.
    Returns (id, rank, score), rank 1..k in selection order.

    Fully lazy — no driver-side loop state: each round appends a 1-row
    TakeOrderedAndProject (the argmax), broadcast to update every
    remaining candidate's running max-similarity, so the plan depth
    grows linearly in k and the corpus is scanned once per round under
    whole-stage codegen. max over the empty selected set is defined as
    -1.0 (the cosine infimum): round 1's scores are a uniform shift of
    pure relevance, so the first pick is the true relevance argmax and
    later rounds are exact MMR. All comparisons use 6dp-rounded scores
    with id-ascending tie-break — a total, engine-reproducible order.
    """
    cand = (
        corpus.crossJoin(F.broadcast(query_row))
        .select(
            F.col(id_col),
            F.col(vec_col).alias("_v"),
            F.round(cosine_similarity(F.col(vec_col), F.col("qv")), 6).alias(
                "_rel"
            ),
        )
        .withColumn("_mmax", F.lit(-1.0))
    )
    picks = []
    for rank in range(1, k + 1):
        scored = cand.withColumn(
            "_score",
            F.round(
                F.lit(lam) * F.col("_rel")
                - F.lit(1.0 - lam) * F.col("_mmax"),
                6,
            ),
        )
        sel = (
            scored.orderBy(F.col("_score").desc(), F.col(id_col).asc())
            .limit(1)
            .select(
                F.col(id_col).alias("_sid"),
                F.col("_v").alias("_sv"),
                F.col("_score").alias("score"),
            )
        )
        picks.append(
            sel.select(
                F.col("_sid").alias(id_col),
                F.lit(rank).cast("int").alias("rank"),
                "score",
            )
        )
        cand = (
            cand.crossJoin(F.broadcast(sel.select("_sid", "_sv")))
            .filter(F.col(id_col) != F.col("_sid"))
            .withColumn(
                "_mmax",
                F.greatest(
                    F.col("_mmax"),
                    F.round(cosine_similarity(F.col("_v"), F.col("_sv")), 6),
                ),
            )
            .drop("_sid", "_sv")
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"): the vector-compression half of IVF-PQ.
# Each subspace codebook is trained with the integer-grid Lloyd's
# trainer, codes are nearest-centroid ids, and asymmetric-distance
# scoring is exact int64 arithmetic end to end — engine-reproducible
# with no rounding anywhere.


def pq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    dim: int = 64,
    k: int = 16,
    iters: int = 2,
) -> DataFrame:
    """Per-subspace codebooks (m, cid, _cent): one quantized k-means per
    contiguous dim/m-wide subvector. At 100 TB the codebooks compress a
    d-dim float corpus to m bytes/vector (k<=256), which is what makes
    billion-scale ANN serving fit in executor memory."""
    subdim = dim // m
    parts = []
    for mi in range(m):
        sub = df.select(
            F.col(id_col),
            F.slice(F.col(vec_col), mi * subdim + 1, subdim).alias("_sv"),
        )
        _, cents = kmeans_train_quantized(sub, id_col, "_sv", k=k, iters=iters)
        parts.append(
            cents.select(F.lit(mi).cast("int").alias("m"), "cid", "_cent")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: DataFrame,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """(id, m, code) long-form PQ codes: nearest codebook centroid per
    subspace (broadcast k-row codebook, keyed argmin window)."""
    subdim = dim // m
    parts = []
    for mi in range(m):
        sub = df.select(
            F.col(id_col),
            quantize_vec(
                F.slice(F.col(vec_col), mi * subdim + 1, subdim)
            ).alias("_q"),
        )
        cb = codebooks.filter(F.col("m") == mi).select("cid", "_cent")
        assigned = kmeans_assign(sub, cb, id_col)
        parts.append(
            assigned.select(
                F.col(id_col),
                F.lit(mi).cast("int").alias("m"),
                F.col("cid").alias("code"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pq_adc_topk(
    query_row: DataFrame,
    codebooks: DataFrame,
    codes: DataFrame,
    id_col: str,
    m: int = 4,
    dim: int = 64,
    k_out: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k: the query's m*k exact-int distance
    TABLE broadcasts, candidates join it on (subspace, code) and sum —
    one equi-join + one aggregation over the compressed corpus; the
    full-precision corpus vectors are never touched at query time.
    ``query_row`` is a 1-row frame with a ``qv`` vector column."""
    subdim = dim // m
    subs = [
        query_row.select(
            F.lit(mi).cast("int").alias("m"),
            quantize_vec(
                F.slice(F.col("qv"), mi * subdim + 1, subdim)
            ).alias("_qq"),
        )
        for mi in range(m)
    ]
    qsub = subs[0]
    for s in subs[1:]:
        qsub = qsub.unionByName(s)
    dist = qsub.join(codebooks, "m").select(
        "m",
        F.col("cid").alias("code"),
        sqdist_q(F.col("_qq"), F.col("_cent")).alias("_d"),
    )
    scored = (
        codes.join(F.broadcast(dist), ["m", "code"])
        .groupBy(id_col)
        .agg(F.sum("_d").alias("adc_dist"))
    )
    return scored.orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    ).limit(k_out)


def probe_weights_row(
    emb: DataFrame,
    q_col: str = "q",
    label_col: str = "label",
    pos: int = 0,
    neg: int = 1,
) -> DataFrame:
    """Exact-integer mean-difference linear probe (the FineWeb-Edu /
    DCLM classifier-filtering shape): per-dimension
    ``mean(pos-class) − mean(neg-class)`` on the quantized grid, via
    one posexplode + one per-dimension aggregation, folded into a
    SINGLE 1-row broadcastable weight-array frame (``warr``). Floor
    divisions keep the weights bit-identical across engines and
    partitionings.

    An absent class (count 0) fails LOUD here — the same discipline
    as the empty-LM guards in ``operators/lm.py`` — instead of Spark's
    non-ANSI div-by-zero silently NULLing every weight (which would
    coalesce downstream probe gates to all-fail with no signal) while
    the DuckDB oracle's ``//`` raises."""
    guard = (
        "case when count(case when _lbl = {v} then 1 end) = 0 then "
        "cast(raise_error('probe class {v} is empty: cannot train "
        "mean-difference weights') as bigint) else "
        "count(case when _lbl = {v} then 1 end) end"
    )
    dims = (
        emb.filter(F.col(label_col).isin(pos, neg))
        .select(F.col(label_col).alias("_lbl"), F.posexplode(q_col).alias("_i0", "qi"))
        .groupBy("_i0")
        .agg(
            F.expr(
                f"cast(sum(case when _lbl = {pos} then qi end) div "
                f"({guard.format(v=pos)}) as bigint) - "
                f"cast(sum(case when _lbl = {neg} then qi end) div "
                f"({guard.format(v=neg)}) as bigint)"
            ).alias("w")
        )
    )
    return dims.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_i0", "w"))),
            lambda s: s["w"],
        ).alias("warr")
    )


def probe_score(q_col: Column, warr_col: Column) -> Column:
    """Offset-centered bigint dot product of a quantized vector with
    the probe weight array — a deterministic array fold (no float
    summation hazard); gate at ``probe_score >= 0``."""
    return F.aggregate(
        F.zip_with(q_col, warr_col, lambda a, b: (a - F.lit(Q_OFFSET)) * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )

#!/usr/bin/env python
"""Scale-smoke: empirical near-linearity check for the scale paths.

Replicates the sf0.1 corpus R times IN MEMORY (no files written) and
times the three heaviest scale-path operators at two replication
factors. If an operator hides a quadratic join, its wall-time ratio
explodes past the data ratio; near-linear ratios are the evidence that
the plans that pass test_plans.py also BEHAVE linearly.

Replica salting: every token is prefixed with a per-replica tag
(regexp, one pass), so replicas share no shingles and the engineered
near-dup structure (doc%10 variants WITHIN a replica) scales linearly
instead of forming R-sized mutual-duplicate cliques — replication that
kept replicas identical would make the OUTPUT itself quadratic and
measure nothing.

Usage: python scale_smoke.py [low_R high_R]   (defaults 2 8)
Prints one JSON line with per-operator seconds at each scale + ratios.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from llm_enhanced_data_pipeline_spark.operators import (
    bpe,
    corpus,
    dedup,
    joins,
    ranking,
    vector,
)
from llm_enhanced_data_pipeline_spark.queries.dedup_q import _docs_with_near_dups
from llm_enhanced_data_pipeline_spark.session import get_spark
from llm_enhanced_data_pipeline_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.1"


def replicated_docs(spark: SparkSession, r: int) -> DataFrame:
    base = _docs_with_near_dups(spark, SF_DIR)
    reps = spark.range(r).select(F.col("id").alias("_rep"))
    return (
        base.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("_rep") * 10_000_000).alias("doc_id"),
            F.regexp_replace(
                F.col("text"), r"(\S+)", F.concat(F.lit("x"), F.col("_rep"), F.lit("$1"))
            ).alias("text"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )


def replicated_embeddings(spark: SparkSession, r: int) -> DataFrame:
    base = load_table(spark, "embeddings", SF_DIR)
    reps = spark.range(r).select(F.col("id").alias("_rep"))
    return (
        base.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("_rep") * 10_000_000).alias("vec_id"),
            "label",
            "embedding",
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )


TITLE_STOPWORDS = (
    "the", "of", "and", "a", "in", "for", "on", "with", "to", ":", "via",
    "using", "-", "from", "an", "towards",
)


def zipf_titles(spark: SparkSession, n: int) -> DataFrame:
    """``n`` synthetic paper titles (doc_id, title, publish_year) of 6-13
    words over ONE vocabulary shared by the whole corpus, unlike the
    replica-salted docs: about a third of the words are stopwords and
    punctuation drawn Zipf-like from ``TITLE_STOPWORDS``, the rest are
    content words ``w<rank>`` drawn Zipf-like (log-uniform rank) from
    4n words, so the vocabulary grows with the corpus while the
    stopwords' document frequency grows with it too. Every 10th title
    repeats the previous one's words in reverse order: same token set,
    different string, so only D4 removes it. Deterministic: every draw
    is a hash of (title, word position)."""
    def u(salt: int) -> str:
        return f"((xxhash64(b, j, {salt}) & 9007199254740991) / 9007199254740992D)"

    stop = ", ".join(f"'{w}'" for w in TITLE_STOPWORDS)
    word = (
        f"CASE WHEN {u(1)} < 0.35"
        f" THEN element_at(array({stop}), CAST(floor(pow({len(TITLE_STOPWORDS) + 1}, {u(2)})) AS int))"
        f" ELSE concat('w', CAST(floor(pow({4 * n + 1}, {u(3)})) AS bigint)) END"
    )
    words = F.expr(f"transform(sequence(1, 6 + CAST(pmod(xxhash64(b, 0), 8) AS int)), j -> {word})")
    return (
        spark.range(n)
        .select(F.col("id").alias("doc_id"), F.expr("id - CAST(id % 10 = 9 AS bigint)").alias("b"))
        .select(
            "doc_id",
            F.array_join(
                F.when(F.col("doc_id") % 10 == 9, F.reverse(words)).otherwise(words), " "
            ).alias("title"),
            (2000 + F.expr("pmod(xxhash64(b, -1), 25)")).cast("int").alias("publish_year"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )


def replicated_events(spark: SparkSession, r: int) -> DataFrame:
    base = load_table(spark, "events", SF_DIR)
    reps = spark.range(r).select(F.col("id").alias("_rep"))
    return (
        base.crossJoin(F.broadcast(reps))
        .select(
            (F.col("event_id") + F.col("_rep") * 10_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("_rep") * 1_000_000).alias("user_id"),
            "event_type",
            "value",
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )


def _heuristic_funnel(toked: DataFrame) -> DataFrame:
    """C4 + Gopher + dedup-rank + budget, the corpus_build_v3 shape,
    over synthetic line structure built from the replicated corpus."""
    from pyspark.sql import Window

    from llm_enhanced_data_pipeline_spark.functions import hashing
    from llm_enhanced_data_pipeline_spark.operators import text_analysis
    from llm_enhanced_data_pipeline_spark.queries.text_q import _c4_structured_text

    base = toked.select(
        "doc_id",
        (F.col("doc_id") % 20).alias("source"),
        _c4_structured_text(F.col("doc_id"), F.col("toks")).alias("structured"),
    )
    kept = text_analysis.c4_kept_lines(F.col("structured"))
    flagged = base.select(
        "doc_id",
        "source",
        F.array_join(kept, "\n").alias("cleaned"),
        text_analysis.c4_doc_pass(F.col("structured"), kept).alias("c4_ok"),
    ).withColumn(
        "surv",
        F.col("c4_ok")
        & text_analysis.gopher_pass(
            F.col("cleaned"), 30, ("the", "a", "table", "value", "row", "key")
        ),
    )
    w_fp = Window.partitionBy(
        hashing.md5_hex(F.lower(F.trim(F.col("cleaned"))))
    ).orderBy(F.col("surv").desc(), F.col("doc_id").asc())
    return flagged.withColumn(
        "unique_ok", F.col("surv") & (F.row_number().over(w_fp) == 1)
    )


REPS = max(1, int(os.environ.get("SPARK_GRAFT_SMOKE_REPS", "3")))


def time_op(fn) -> float:
    """MIN of REPS runs. The gate tests a COST LAW (linearity), and
    wall-clock noise on this box is one-sided — a GC pause / host
    hiccup only ever ADDS time (observed: three single-shot runs, three
    different 4-20x single-slot outliers, each slot normal in the other
    runs). The min is the estimator of intrinsic cost that such stalls
    cannot inflate; medians would still let one calm rep + two stalled
    reps fake a violation. Per-rep cache release keeps reps cold (ops
    that localCheckpoint internally would otherwise warm reps 2+)."""
    best = float("inf")
    for _ in range(REPS):
        mark = dedup.cache_mark()
        try:
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        finally:
            dedup.release_caches_since(mark)
    return round(best, 2)


def build_slots(spark: SparkSession, r: int):
    """Materialize the replicated inputs for scale factor ``r`` and
    return (meta, slots, cleanup): per-scale row counts, an ORDERED
    name -> thunk map of every timed operation, and a cleanup thunk.

    Slots are built for BOTH scales before anything is timed so main()
    can interleave low/high timing per slot — the two measurements of a
    ratio run seconds apart under near-identical session state. The
    earlier sequential design (full low pass, then full high pass) put
    ~5 minutes of JIT/GC/cache drift between a slot's numerator and
    denominator, and single slots randomly read 4-20x hot across runs
    while honest in isolation."""
    docs = replicated_docs(spark, r).persist()
    n_docs = docs.count()
    toked = docs.withColumn("toks", dedup.tokens(F.col("text")))
    slots: dict[str, object] = {}

    slots["minhash_pairs"] = lambda: dedup.near_dup_pairs_minhash(
        toked, "doc_id", "toks", num_hashes=16, shingle_n=3
    ).count()
    slots["simhash_pairs"] = lambda: dedup.near_dup_pairs_simhash(
        toked, "doc_id", "toks"
    ).count()
    # containment join: prefix-filtered candidates (rarest shingles
    # only) — must track corpus size, not shingle-frequency skew
    slots["containment_pairs"] = lambda: dedup.containment_pairs(
        toked, "doc_id", "toks", threshold=0.8, shingle_n=3
    ).count()

    # exact Jaccard joins: candidates come from an equi-join on set
    # prefixes, so cost must track corpus size. D4 runs over 3-gram
    # shingle arrays: every word of the 31-word synthetic vocabulary is
    # in most docs, which defeats any prefix filter over word sets.
    slots["ngram_pairs"] = lambda: dedup.near_dup_pairs_ngram(
        docs, "doc_id", "text", n=3, threshold=0.5
    ).count()
    shingled = toked.withColumn("shingles", dedup.word_shingles(F.col("toks"), 3))
    slots["d4_exact"] = lambda: dedup.dedup_similarity_exact(
        shingled, "doc_id", "shingles", threshold=0.9
    ).count()
    # the production D4 shape: lower-cased title words at t = 0.9 with
    # keep-newest, over a shared vocabulary whose stopwords are in most
    # titles. A prefix taken in plain element order would put them in
    # most prefixes and make the candidate join quadratic again.
    titles = zipf_titles(spark, 5_000 * r).withColumn(
        "toks", dedup.tokens(F.col("title"))
    ).persist()
    n_titles = titles.count()
    slots["d4_titles"] = lambda: dedup.dedup_similarity_exact(
        titles, "doc_id", "toks", threshold=0.9, prefer_desc_col="publish_year"
    ).count()

    # connected components over the engineered near-dup pair graph: the
    # iterative star-contraction loop localCheckpoints each round, so
    # wall time must track edge count, not blow up with plan depth
    pairs = (
        dedup.near_dup_pairs_minhash(toked, "doc_id", "toks", num_hashes=16, shingle_n=3)
        .select(F.col("id_a"), F.col("id_b"))
        .localCheckpoint(eager=True)
    )
    slots["components"] = lambda: dedup.connected_components_star(
        docs.select("doc_id"), pairs, "doc_id"
    ).count()

    # corpus-construction scale paths: decontamination's gram equi-join,
    # chunk explosion, Gopher repetition aggs — all should track data size
    is_eval = corpus.split_bucket(F.col("doc_id").cast("string")) >= 950
    slots["decontamination"] = lambda: corpus.contamination_scores(
        toked.filter(~is_eval), toked.filter(is_eval), "doc_id", "toks", n=3
    ).count()
    slots["chunking"] = lambda: corpus.chunk_documents(
        toked, "doc_id", "toks", 32, 24
    ).count()
    slots["repetition"] = lambda: corpus.repetition_stats(
        toked, "doc_id", "toks", n=2
    ).count()
    # unaligned exact-substring dedup: gram explode + gram-text window +
    # per-doc island merge — replica salting keeps grams replica-local,
    # so the gram groups stay constant-size and cost must track tokens
    slots["substring_spans"] = lambda: corpus.duplicated_spans(
        toked, "doc_id", "toks", k=8
    ).count()
    # APPLY side: island aggregation + per-row array-slice excision.
    # count() would prune the clean_text assembly, so force it through
    # a row-hash reduction (same device as bench.py's force()).
    slots["substring_apply"] = lambda: (
        corpus.remove_duplicated_spans(toked, "doc_id", "toks", k=8)
        .select(
            F.bit_xor(
                F.xxhash64("doc_id", "n_tokens", "n_kept", "clean_text")
            ).alias("h")
        )
        .collect()
    )
    # DoReMi reweighting: token shuffle + vocab-keyed join + D-row tail
    slots["doremi"] = lambda: corpus.doremi_domain_weights(
        toked.withColumn("dom", (F.col("doc_id") % 7).cast("string")),
        "dom",
        "toks",
    ).count()

    ev = replicated_events(spark, r).persist()
    n_events = ev.count()
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    slots["asof_join"] = lambda: joins.asof_join(
        views, purchases, "user_id", "ts", "ts", ["value"], right_tiebreak="event_id"
    ).count()
    win = 30 * 60 * 1_000_000_000
    intervals = purchases.select(
        "user_id", F.col("ts").alias("_s"), (F.col("ts") + win).alias("_e")
    )
    slots["range_join"] = lambda: joins.range_join_bucketed(
        views, intervals, "user_id", "ts", "_s", "_e", win
    ).count()

    # heuristic-filter funnel: pure column algebra + two keyed windows —
    # must track data size exactly
    slots["heuristic_funnel"] = lambda: _heuristic_funnel(toked).count()

    # WARC ingestion lane (the newest heavy Python-per-record family):
    # gzip-member inflate + 1->N record expansion + HTTP envelope split
    # inside mapInPandas, then the declarative html-strip/token-floor
    # gates. Payloads are pre-materialized OUTSIDE the timed thunk (the
    # lane under test is ingestion, not fixture synthesis); per-record
    # Python cost must track record count R-linearly.
    from pyspark.sql import types as T

    from llm_enhanced_data_pipeline_spark.functions import hashing as _wh
    from llm_enhanced_data_pipeline_spark.operators import cleaning as _wc
    from llm_enhanced_data_pipeline_spark.sources import warc as _warc

    warc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def _warc_synth(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                page = (
                    "<html><body><h1>Doc</h1><p>" + (text or "")
                    + "</p><script>track();</script></body></html>"
                )
                ok = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                recs = [
                    {"headers": {"WARC-Type": "response",
                                 "WARC-Target-URI": f"http://ex.com/{d}"},
                     "content": (ok + page).encode()},
                    {"headers": {"WARC-Type": "response",
                                 "WARC-Target-URI": f"http://ex.com/{d}/old"},
                     "content": b"HTTP/1.1 404 NF\r\n\r\n<p>gone</p>"},
                ]
                ids.append(d)
                payloads.append(_warc.write_warc(recs, gzip_members=True))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    warc_payloads = docs.select("doc_id", "text").mapInPandas(
        _warc_synth, warc_schema
    ).localCheckpoint(eager=True)

    def _warc_ingest():
        recs = _warc.read_warc_records(
            warc_payloads, "doc_id", "payload", parse_http=True
        )
        return (
            recs.filter(
                (F.col("http_status") == 200)
                & (F.col("http_content_type") == "text/html")
            )
            .withColumn("clean", _wc.html_strip(F.col("body_text")))
            .withColumn(
                "n_toks", F.size(_wc.tokens(F.col("clean"))).cast("bigint")
            )
            .filter(F.col("n_toks") >= 3)
            .select(
                F.bit_xor(
                    F.xxhash64(
                        "doc_id", "n_toks", _wh.md5_hex(F.col("clean"))
                    )
                ).alias("h")
            )
            .collect()
        )

    slots["warc_ingest"] = _warc_ingest

    # crawl frontier (r10: the lane after ingestion): sitemap harvest
    # -> canonicalize -> RFC 9309 group-scoped admission -> per-domain
    # Crawl-delay schedule, scaled by DOMAIN count (each doc is one
    # domain). Every stage is a per-domain keyed op or a domain-equi
    # join, so wall time must track domains ~R-linearly; a regression
    # to an unkeyed window or a non-equi admission join shows up as a
    # superlinear ratio.
    from llm_enhanced_data_pipeline_spark.operators import web as _web

    _fd = F.col("doc_id")
    _fds = _fd.cast("string")
    frontier_meta = docs.select(
        "doc_id",
        F.concat(
            F.lit("<urlset><url><loc>http://d"), _fds, F.lit(".com/keep/"),
            _fds, F.lit("</loc></url><url><loc>http://d"), _fds,
            F.lit(".com/private/a</loc></url><url><loc>http://d"), _fds,
            F.lit(".com/keep/dup/?utm_source=x</loc></url></urlset>"),
        ).alias("xml"),
        F.concat(
            F.lit("User-agent: *\nDisallow: /keep\n\n"
                  "User-agent: trainbot\nDisallow: /private\nCrawl-delay: "),
            ((_fd % 3) + 1).cast("string"),
            F.lit("\n"),
        ).alias("robots_txt"),
    )

    def _crawl_frontier():
        urls = (
            _web.sitemap_urls(frontier_meta, "doc_id", "xml")
            .filter(F.col("kind") == "url")
            .select(
                (F.col("doc_id") * 10 + F.col("entry_idx")).cast("bigint")
                .alias("url_id"),
                _web.canonicalize_url(F.col("loc")).alias("curl"),
            )
            .select(
                "url_id",
                F.regexp_extract("curl", r"://([^/?#]+)", 1).alias("domain"),
                F.regexp_extract("curl", r"://[^/?#]+(/[^?#]*)", 1).alias(
                    "path"
                ),
            )
        )
        domain_of = F.concat(
            F.lit("d"), F.col("doc_id").cast("string"), F.lit(".com")
        )
        rules = _web.read_robots_rules(
            frontier_meta, "doc_id", "robots_txt"
        ).withColumn("domain", domain_of)
        delays = _web.select_ua_delays(
            rules,
            _web.read_robots_delays(
                frontier_meta, "doc_id", "robots_txt"
            ).withColumn("domain", domain_of),
            "trainbot",
        )
        admitted = _web.robots_admission(
            urls, rules.select("domain", "user_agent", "pattern", "allow"),
            user_agent="trainbot",
        ).filter(F.col("allowed")).select("url_id")
        return (
            _web.schedule_fetches(urls.join(admitted, "url_id"), delays)
            .select(
                F.bit_xor(
                    F.xxhash64("url_id", "domain", "path", "fetch_offset_s")
                ).alias("h")
            )
            .collect()
        )

    slots["crawl_frontier"] = _crawl_frontier

    # host-graph PageRank (r11): page-level links -> weighted host
    # graph -> 3 exact-integer power iterations. The replica tag
    # partitions the HOST space (each replica contributes its own
    # 23-host component), so nodes, edges, and page-link volume all
    # scale with R while per-host structure stays constant — the cost
    # law is one linear aggregation over page links plus per-iteration
    # equi-joins on the R-linear edge list; anything pairwise in the
    # rank joins would blow past the data ratio.
    def _pagerank():
        from llm_enhanced_data_pipeline_spark.operators import (
            graph as _graph,
        )

        d = F.col("doc_id")
        rep = F.expr("doc_id div 10000000")
        s = (d % 23) + rep * 23

        def hurl(h):
            return F.concat(
                F.lit("https://h"), h.cast("string"), F.lit(".example/p/x")
            )

        base = docs.filter(d % 23 < 21).select(
            hurl(s).alias("src_url"), d.alias("doc_id"),
            s.alias("_s"), rep.alias("_rep"),
        )
        links = base.select(
            "src_url",
            hurl((F.col("_s") * 3 + 1) % 23 + F.col("_rep") * 23).alias(
                "dst_url"
            ),
        ).union(
            base.select(
                "src_url",
                hurl((F.col("_s") * 7 + 2) % 23 + F.col("_rep") * 23).alias(
                    "dst_url"
                ),
            )
        )
        edges = _graph.host_graph(links, "src_url", "dst_url")
        return (
            _graph.pagerank_int(edges, n_iter=3)
            .select(F.bit_xor(F.xxhash64("node", "rank_u")).alias("h"))
            .collect()
        )

    slots["host_pagerank"] = _pagerank

    # HyperBall harmonic centrality (r11) over the same R-partitioned
    # host space: counters are m=64 rows per node, each radius step is
    # one regs<->edges equi-join (m x |edges| fan-out, linear in R)
    # plus a keyed (node, j) max — a superlinear ratio here means the
    # counter flow stopped being keyed.
    def _hyperball():
        from llm_enhanced_data_pipeline_spark.operators import (
            graph as _graph,
        )

        d = F.col("doc_id")
        rep = F.expr("doc_id div 10000000")
        s = (d % 23) + rep * 23

        def hurl(h):
            return F.concat(
                F.lit("https://h"), h.cast("string"), F.lit(".example/p/x")
            )

        links = docs.filter(d % 23 < 21).select(
            hurl(s).alias("src_url"),
            hurl(((d % 23) * 3 + 1) % 23 + rep * 23).alias("dst_url"),
        )
        edges = _graph.host_graph(links, "src_url", "dst_url")
        return (
            _graph.hyperball_harmonic(edges, n_iter=2)
            .select(
                F.bit_xor(
                    F.xxhash64("node", "hc_milli", "reach_milli")
                ).alias("h")
            )
            .collect()
        )

    slots["hyperball_harmonic"] = _hyperball

    # perceptual media dedup (r11): PNG synth -> decode -> DCT pHash
    # -> banded Hamming pair join, scaled by IMAGE count. The decode/
    # hash stage is per-row Arrow work (linear by construction); the
    # part this slot guards is the banding join - a regression from
    # the block-bucketed equi-join to anything pairwise would blow
    # past the data ratio. Images are 64x64 block lattices keyed by
    # doc_id >> 1, so clusters stay FIXED-size (~2) while the cluster
    # COUNT scales with R - the way duplicate mass actually grows in
    # a bigger crawl (more duplicated pages, not deeper clusters).
    img_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def _img_synth(batches):
        import numpy as np
        import pandas as pd

        from llm_enhanced_data_pipeline_spark.operators import (
            multimodal as _mm,
        )

        m32 = (1 << 32) - 1

        def fmix32(x: int) -> int:
            x &= m32
            x ^= x >> 16
            x = (x * 0x85EBCA6B) & m32
            x ^= x >> 13
            x = (x * 0xC2B2AE35) & m32
            x ^= x >> 16
            return x

        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                g = d >> 1
                arr = np.zeros((64, 64, 3), dtype=np.uint8)
                for b in range(64):
                    by, bx = divmod(b, 8)
                    v = fmix32(g * 64 + b + 1)
                    arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                        v >> 24,
                        (v >> 16) & 255,
                        (v >> 8) & 255,
                    )
                ids.append(d)
                payloads.append(_mm.write_png(arr))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    img_payloads = docs.select("doc_id").mapInPandas(
        _img_synth, img_schema
    ).localCheckpoint(eager=True)

    def _phash_pairs():
        return (
            dedup.near_dup_pairs_phash(img_payloads, "doc_id", "payload")
            .select(
                F.bit_xor(F.xxhash64("id_a", "id_b", "hamming")).alias("h")
            )
            .collect()
        )

    slots["phash_near_dup"] = _phash_pairs

    # audio / video perceptual lanes (r11 verdict item 4): they share
    # phash's banded pigeonhole join, but their DECODE stages (WAV
    # sample walk, per-frame pHash majority vote) are the expensive
    # part worth a payload-ratio check. Same pairing structure as the
    # image slot (g = doc_id >> 1 -> exact-copy pairs, no spurious
    # cliques: fingerprints carry 63 random-looking bits per g).
    # Sampled to 1/4 of the docs each: the lanes' cost law is the
    # point, not payload tonnage.
    audio_schema = img_schema  # (doc_id, payload binary)

    def _audio_synth(batches):
        import numpy as np
        import pandas as pd

        from llm_enhanced_data_pipeline_spark.operators import (
            multimodal as _mm,
        )

        table = _mm.ulaw_decode_table()
        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                r = np.random.default_rng(d >> 1)
                codes = r.integers(0, 256, 64).astype(np.uint8)
                samples = np.repeat(table[codes], 256).astype(np.int16)
                ids.append(d)
                payloads.append(_mm.write_wav(samples, 8000))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    wav_payloads = docs.filter(F.col("doc_id") % 8 < 2).select(  # keeps (2k, 2k+1) pairs whole
        "doc_id"
    ).mapInPandas(_audio_synth, audio_schema).localCheckpoint(eager=True)
    slots["audio_fp_near_dup"] = lambda: (
        dedup.near_dup_pairs_audio_fp(wav_payloads, "doc_id", "payload")
        .select(F.bit_xor(F.xxhash64("id_a", "id_b", "hamming")).alias("h"))
        .collect()
    )

    def _video_synth(batches):
        import numpy as np
        import pandas as pd

        from llm_enhanced_data_pipeline_spark.operators import (
            multimodal as _mm,
        )

        m32 = (1 << 32) - 1

        def fmix32(x: int) -> int:
            x &= m32
            x ^= x >> 16
            x = (x * 0x85EBCA6B) & m32
            x ^= x >> 13
            x = (x * 0xC2B2AE35) & m32
            x ^= x >> 16
            return x

        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                g = d >> 1
                frames = []
                for f in range(3):
                    luma = np.zeros((64, 64), dtype=np.uint8)
                    for b in range(64):
                        by, bx = divmod(b, 8)
                        v = fmix32(g * 192 + f * 64 + b + 1)
                        luma[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                            v >> 24
                        )
                    frames.append(luma)
                ids.append(d)
                payloads.append(_mm.write_y4m(np.stack(frames)))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    y4m_payloads = docs.filter((F.col("doc_id") % 8 >= 2) & (F.col("doc_id") % 8 < 4)).select(
        "doc_id"
    ).mapInPandas(_video_synth, audio_schema).localCheckpoint(eager=True)
    slots["video_fp_near_dup"] = lambda: (
        dedup.near_dup_pairs_video_fp(y4m_payloads, "doc_id", "payload")
        .select(F.bit_xor(F.xxhash64("id_a", "id_b", "hamming")).alias("h"))
        .collect()
    )

    # distributed global rank / LPT shard packing: by construction two
    # corpus-scan aggregate folds (quantile boundaries, bucket counts —
    # both driver-inlined literals) + one partitioned window pass, so
    # wall time must track rows ~R-linearly; a regression back to a
    # single-partition sort shows up as a superlinear ratio (the sort
    # buffer AND the lost parallelism both scale with R). groupBy(shard)
    # forces the window (a bare count() could let the optimizer drop
    # the unreferenced rank column).
    sized = docs.select(
        "doc_id", F.length(F.col("text")).cast("bigint").alias("n_bytes")
    )
    slots["shard_pack"] = lambda: (
        ranking.pack_shards_lpt(sized, "n_bytes", "doc_id", n_shards=16)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_bytes").alias("b"))
        .count()
    )

    # incremental ingest: anti equi-join against the snapshot hash index
    snap = docs.filter(F.col("doc_id") % 10 < 8)
    batch = docs.filter(F.col("doc_id") % 10 >= 8)
    slots["incremental_dedup"] = lambda: dedup.dedup_against_index(
        batch, dedup.content_index(snap, "text"), "text", ["doc_id"]
    ).count()

    # DSIR selection: feature explode + <=B-row model joins + per-doc agg
    slots["dsir"] = lambda: corpus.dsir_scores(
        toked, "doc_id", "toks", F.col("doc_id") % 5 == 0, num_buckets=1024
    ).count()
    # BPE training: 4 merge rounds over the word-type table (replica
    # salting grows the vocab linearly, the production-relevant axis)
    slots["bpe_train"] = lambda: bpe.bpe_train(bpe.word_freqs(toked, "toks"), iters=4)
    # snapshot diff: full-outer equi-join of id+fp projections
    from llm_enhanced_data_pipeline_spark.functions import hashing as _h

    old_fp = docs.select("doc_id", _h.md5_hex(F.col("text")).alias("fp"))
    new_fp = docs.filter(F.col("doc_id") % 17 != 3).select(
        "doc_id", _h.md5_hex(F.concat(F.col("text"), F.lit("v"))).alias("fp")
    )
    slots["snapshot_diff"] = lambda: corpus.snapshot_diff(
        old_fp, new_fp, "doc_id", "fp"
    ).count()

    emb = replicated_embeddings(spark, r).persist()
    n_vecs = emb.count()
    cents = vector.centroids_by_key(emb, "label", "embedding")
    queries = emb.filter(F.col("vec_id") < 8)
    slots["ivf_knn"] = lambda: vector.ivf_knn_join(
        queries, emb, cents, "vec_id", "vec_id", "embedding", "embedding", k=5
    ).count()
    # k-means training: per-iteration cost = broadcast K-row scoring +
    # (cid, pos) agg — linear in rows, independent of K's data share
    slots["kmeans_train"] = lambda: vector.kmeans_train_quantized(
        emb, "vec_id", "embedding", k=8, iters=3
    )[0].count()
    # SemDeDup prune under the production invariant — the auto-k regime
    # (dedup.semdedup_auto_k): cluster COUNT grows with the corpus,
    # cluster SIZE stays at the constant target, so the in-cluster
    # quadratic side is n * target = linear. The synthetic assignment
    # hash-shards vectors into exactly that many clusters (the trainer
    # itself is timed separately in the kmeans_train slot).
    # target=256 (not the production default 64) so the pair work term
    # DOMINATES the slot's wall time: at target 64 the slot is
    # scheduler-overhead-bound and its ratio wobbles 1.2-1.7 with
    # ambient noise, while a genuinely broken invariant also hides in
    # overhead (r6's break read only 2.41). Calibrated 2026-08-15 at
    # target 256, min-of-3, interleaved: honest (k tracks n) = 1.29;
    # broken (k stuck at the low-scale value -> 16x pairs) = 4.13.
    n_clusters = dedup.semdedup_auto_k(n_vecs, 256)
    sd_base = emb.select(
        "vec_id",
        F.pmod(_h.stable_hash32(F.col("vec_id").cast("string")), F.lit(n_clusters))
        .cast("bigint")
        .alias("cluster"),
        F.col("embedding").alias("_v"),
        ((F.col("vec_id") % 997) / 997.0).alias("centroid_sim"),
    )
    slots["semdedup_prune"] = lambda: dedup.semdedup_prune_within(
        sd_base, "vec_id", 0.35
    ).count()
    # MMR: k greedy rounds, each one corpus scan + a 1-row broadcast
    mq = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    slots["mmr"] = lambda: vector.mmr_topk(
        emb.filter(F.col("vec_id") != 0), mq, "vec_id", "embedding", k=5
    ).count()

    # CCNet perplexity lane (r12 verdict item 6): one token explode ->
    # broadcast unigram-model join -> keyed per-doc aggregation. Cost
    # must track TOKEN count; the model (built fresh in the thunk — the
    # LM-count job is part of the lane's cost law) is vocab-bounded and
    # must stay a broadcast join at any corpus size. Forced through a
    # row-hash reduction: count() would prune the xent arithmetic.
    from llm_enhanced_data_pipeline_spark.operators import lm as _lm

    lm_ref = toked.filter(F.col("doc_id") % 4 == 0)
    slots["lm_perplexity"] = lambda: (
        _lm.cross_entropy_milli(
            toked, "doc_id", "toks", _lm.unigram_counts(lm_ref, "toks")
        )
        .select(F.bit_xor(F.xxhash64("doc_id", "n_toks", "xent_milli")).alias("h"))
        .collect()
    )

    # embedding linear-probe filter (r12 verdict item 6): posexplode ->
    # 64-group weight agg -> 1-row broadcast fold -> per-vector array
    # fold. Training and scoring both scale with vector count; a
    # superlinear ratio would mean the weight fold stopped being a
    # broadcast. Forced through a row-hash reduction for the same
    # pruning reason.
    emb_q = emb.select(
        "vec_id", "label", vector.quantize_vec(F.col("embedding")).alias("q")
    )
    slots["probe_filter"] = lambda: (
        emb_q.crossJoin(F.broadcast(vector.probe_weights_row(emb_q)))
        .select(
            "vec_id",
            "label",
            vector.probe_score(F.col("q"), F.col("warr")).alias("score_u"),
        )
        .select(F.bit_xor(F.xxhash64("vec_id", "label", "score_u")).alias("h"))
        .collect()
    )

    # ARPA 5-gram Katz scoring (r14): one full-width window explode ->
    # 9 broadcast gram-table joins -> keyed per-doc aggregation. Cost
    # must track token count; the model is a parsed fixture file, so
    # (unlike lm_perplexity) the model build is constant-cost and any
    # superlinear ratio is the scoring lane itself. Forced through a
    # row-hash reduction: count() would prune the cascade arithmetic.
    from llm_enhanced_data_pipeline_spark.queries.lm_q import (
        _arpa5_text as _arpa5_fixture,
    )

    arpa_tabs = _lm.arpa_tables(spark, _lm.parse_arpa(_arpa5_fixture()))
    slots["arpa_5gram"] = lambda: (
        _lm.arpa_ngram_logprob_milli(toked, "doc_id", "toks", arpa_tabs)
        .select(
            F.bit_xor(F.xxhash64("doc_id", "n_ngrams", "nll10_milli")).alias("h")
        )
        .collect()
    )

    def cleanup() -> None:
        docs.unpersist()
        titles.unpersist()
        ev.unpersist()
        emb.unpersist()
        pairs.rdd.unpersist()  # free the eager localCheckpoint blocks
        warc_payloads.rdd.unpersist()
        img_payloads.rdd.unpersist()
        wav_payloads.rdd.unpersist()
        y4m_payloads.rdd.unpersist()
        dedup.release_caches()

    meta = {"n_docs": n_docs, "n_titles": n_titles, "n_events": n_events, "n_vecs": n_vecs}
    return meta, slots, cleanup


def main() -> None:
    lo, hi = (int(sys.argv[1]), int(sys.argv[2])) if len(sys.argv) > 2 else (2, 8)
    spark = get_spark("scale_smoke")
    # throwaway warm-up: every plan shape compiled outside the numbers
    wm, ws, wc = build_slots(spark, 1)
    for fn in ws.values():
        fn()
    wc()
    lo_meta, lo_slots, lo_cleanup = build_slots(spark, lo)
    hi_meta, hi_slots, hi_cleanup = build_slots(spark, hi)
    low: dict[str, float] = dict(lo_meta)
    high: dict[str, float] = dict(hi_meta)
    # interleave: a slot's low and high run back-to-back so the ratio
    # compares like session states (see build_slots docstring)
    for name in lo_slots:
        low[name] = time_op(lo_slots[name])
        high[name] = time_op(hi_slots[name])
    lo_cleanup()
    hi_cleanup()
    data_ratio = hi / lo
    report = {
        "data_ratio": data_ratio,
        "low": low,
        "high": high,
        # every timed op, derived from the measurement dict itself so a
        # newly-added slot can never silently miss the ratio report
        "wall_ratios": {
            k: round(high[k] / max(low[k], 0.01), 2)
            for k in low
            if not k.startswith("n_")
        },
    }
    # Invariant gates: every slot must stay under the data ratio, and
    # semdedup — the one op whose cost law DEPENDS on the auto-k
    # invariant — carries a tighter tripwire (r6 verdict), recalibrated
    # 2026-08-15 for the work-dominated slot (target 256) against
    # MEASURED failure modes: a deliberately broken invariant (k stuck
    # at the low-scale value -> 16x pairs) reads 4.13, an all-pairs
    # prune regression reads >= 12x, while the honest invariant reads
    # 1.29-2.46 across session states (min-of-3, interleaved). Bound
    # 3.0 splits honest from broken with real margin each way; the old
    # 1.6 bound sat inside the overhead-noise band of the old tiny
    # slot and tripped on ambient stalls (1.62-1.71 across 2026-08-15
    # runs with the op proven unchanged and honest in isolation, 1.17).
    bounds = {k: data_ratio for k in report["wall_ratios"]}
    bounds["semdedup_prune"] = min(3.0, data_ratio)
    report["ratio_violations"] = {
        k: {"ratio": report["wall_ratios"][k], "bound": round(b, 2)}
        for k, b in bounds.items()
        if report["wall_ratios"][k] > b
    }
    print(json.dumps(report))
    spark.stop()
    if report["ratio_violations"]:
        sys.exit(f"scale invariant violated: {report['ratio_violations']}")


if __name__ == "__main__":
    main()

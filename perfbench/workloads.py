"""The three paper workloads, driven only through the package's public
functions. Each workload has:

- ``build(spark)``: make the seeded inputs and any program state (set-up);
- ``op(spark, k, tracer)``: one timed operation; with a tracer, each
  layer call runs under its own job group and ends in a forced action,
  so the event log and the wall clock split the operation by layer;
- ``check(spark, k, result)``: the output checks, run outside the timing.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager
from decimal import ROUND_HALF_UP, Decimal
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from llm_enhanced_data_pipeline_spark.enrich import DeterministicFakeLLM, enrich_with_llm
from llm_enhanced_data_pipeline_spark.enrich.embedding import deterministic_hash_embedder, embed_with
from llm_enhanced_data_pipeline_spark.functions.parsing import parse_llm_json
from llm_enhanced_data_pipeline_spark.operators.vector import cosine_topk
from llm_enhanced_data_pipeline_spark.plans import pipeline
from llm_enhanced_data_pipeline_spark.sources.checkpoint import ParquetCheckpoint
from llm_enhanced_data_pipeline_spark.sources.jsonl import read_jsonl, valid_lines, write_jsonl

from . import gen

S, L, A = T.StringType(), T.LongType(), T.ArrayType(T.StringType())


def struct(**fields) -> T.StructType:
    return T.StructType([T.StructField(name, t) for name, t in fields.items()])


def write_lines(path: str, lines) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.writelines(line + "\n" for line in lines)


def noop(df) -> None:
    """Force a frame without collecting it."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """Runs each layer call under a job group named after the layer and
    records its wall time for the current operation."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.op_s: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = {}

    @contextmanager
    def layer(self, tag: str):
        self.sc.setJobGroup(tag, tag)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.op_s[tag] += time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)


@contextmanager
def _layer(tracer: Tracer | None, tag: str):
    if tracer is None:
        yield
    else:
        with tracer.layer(tag):
            yield


class Workload:
    name = ""
    block = 1  # warm-up compares medians of this many ops
    warmup_max_s = 30.0  # no warm-up block starts after this; see README "Warm-up and run budget"
    warming = False  # set while the ops are warm-up, not samples

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.dir = work_dir

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)


def round_half_up(x: float, places: int = 6) -> float:
    """Spark's ``round`` on a double: HALF_UP on the value's decimal string."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), rounding=ROUND_HALF_UP))


EMBED = deterministic_hash_embedder(64)


class VectorIndex:
    """A corpus ``(doc_id, embedding)``, cached and queried with
    ``operators.vector.cosine_topk``, plus a numpy copy of the vectors to
    check each answer by brute force."""

    K = 5

    def __init__(self, corpus):
        self.corpus = corpus.cache()
        rows = self.corpus.orderBy("doc_id").collect()
        self.doc_ids = np.array([r.doc_id for r in rows])
        self.vecs = np.array([r.embedding for r in rows], dtype=np.float64)
        self.vec_norms = np.sqrt(np.cumsum(self.vecs * self.vecs, axis=1)[:, -1])

    def topk(self, qvec: list[float]):
        """The top-k frame for query vector ``qvec``."""
        return cosine_topk(self.corpus, "doc_id", "embedding", F.array(*[F.lit(float(v)) for v in qvec]), self.K)

    def check(self, qvec: list[float], ids: list[int]) -> list[str]:
        """Brute force with Spark's accumulation order, HALF_UP rounding to
        6 places and the doc_id tie-break."""
        q = np.array(qvec, dtype=np.float64)
        dots = np.cumsum(self.vecs * q, axis=1)[:, -1]
        denom = self.vec_norms * np.sqrt(np.cumsum(q * q)[-1])
        sims = [round_half_up(d / n) if n > 0 else 0.0 for d, n in zip(dots, denom)]
        order = sorted(range(len(sims)), key=lambda i: (-sims[i], self.doc_ids[i]))[: self.K]
        want = [int(self.doc_ids[i]) for i in order]
        return [] if ids == want else [f"top-{self.K} ids {ids} != brute force {want}"]


# ---------------------------------------------------------------------------
# paper_etl: crawl JSONL -> run_with_counts -> JSONL


CRAWL_SCHEMAS = {
    "arxiv": dict(source=S, paper_id=S, title=S, abstract=S, authors=A, publish_date=S, url=S, categories=A),
    "s2": dict(source=S, paper_id=S, title=S, abstract=S, authors=A, publish_date=S, publish_year=L,
               url=S, fields_of_study=A),
    "openalex": dict(source=S, paper_id=S, title=S, abstract=S, abstract_source=S, authors=A, publish_year=L,
                     venue=S, citation_count=L, fields_of_study=A, url=S),
}
SIDE_SCHEMAS = {
    "scores": dict(paper_id=S, **{f: S for f in gen.SCORE_FIELDS}),
    "keywords": dict(paper_id=S, keywords=A),
    "fields": dict(paper_id=S, fields_enriched=A),
    "contributions": dict(paper_id=S, problem=S, method=S),
}
SIDES = list(SIDE_SCHEMAS)


class PaperEtl(Workload):
    """Three-source crawl through D1-D4 dedup, cleaning, alignment and the
    5-way final build (``run_with_counts``, exact D4), written as JSONL."""

    name = "paper_etl"
    # D4-exact is one quadratic task (~14 us per title pair): hundreds of
    # papers keep an op near a second, where the paper's 7,397 would take
    # minutes per evaluation.
    N_PAPERS = 150

    def build(self, spark) -> None:
        crawl = gen.make_crawl(self.seed, self.N_PAPERS)
        os.makedirs(self.path("in"), exist_ok=True)
        for name, lines in crawl["sources"].items():
            write_lines(self.path("in", f"{name}.jsonl"), lines)
        for name, rows in crawl["sides"].items():
            write_lines(self.path("in", f"{name}.jsonl"), (json.dumps(r) for r in rows))
        self.expected = crawl["expected"]
        self.items = crawl["records"]

    def _read(self, spark):
        srcs = [
            valid_lines(read_jsonl(spark, self.path("in", f"{n}.jsonl"), struct(**CRAWL_SCHEMAS[n])))
            for n in CRAWL_SCHEMAS
        ]
        sides = [
            read_jsonl(spark, self.path("in", f"{n}.jsonl"), struct(**SIDE_SCHEMAS[n]), keep_corrupt=False)
            for n in SIDES
        ]
        return srcs, sides

    def op(self, spark, k: int, tracer: Tracer | None = None) -> dict:
        out = self.path(f"out-{k}")
        if tracer is None:
            srcs, sides = self._read(spark)
            passed, counts = pipeline.run_with_counts(srcs, *sides)
            write_jsonl(passed, out)
            return {"items": self.items, "counts": counts, "out": out}

        with tracer.layer("sources.read"):
            srcs, sides = self._read(spark)
            for df in srcs + sides:
                noop(df)
        with tracer.layer("pipeline"):
            _, counts = pipeline.run_with_counts(srcs, *sides)
        with tracer.layer("dedup"):
            deduped = pipeline.dedup_stage(pipeline.merge_sources(srcs)).cache()
            noop(deduped)
        with tracer.layer("cleaning"):
            aligned = pipeline.align_stage(pipeline.clean_stage(deduped)).cache()
            noop(aligned)
        with tracer.layer("final_build"):
            passed, reasons = pipeline.final_build(aligned, *sides)
            passed = passed.cache()
            noop(passed)
            reasons.collect()
        with tracer.layer("sources.write"):
            write_jsonl(passed, out)
        for df in (deduped, aligned, passed):
            df.unpersist()
        tracer.counts = {
            "sources.rows": self.items,
            "dedup.rows_in": counts.merged,
            "dedup.rows_out": counts.after_similarity,
            "cleaning.rows_out": counts.after_citation_filter,
            "quality.pass_ratio": counts.final / max(counts.after_citation_filter, 1),
        }
        return {"items": self.items, "counts": counts, "out": out}

    def check(self, spark, k: int, result: dict) -> list[str]:
        c = result["counts"]
        got = {f: getattr(c, f) for f in self.expected}
        errors = [f"{f}: got {got[f]}, planted {v}" for f, v in self.expected.items() if got[f] != v]
        written = 0
        for name in os.listdir(result["out"]):
            if name.startswith("part-"):
                with open(os.path.join(result["out"], name), encoding="utf-8") as f:
                    written += sum(1 for _ in f)
        if written != c.final:
            errors.append(f"wrote {written} papers, counted {c.final}")
        shutil.rmtree(result["out"], ignore_errors=True)
        return errors


# ---------------------------------------------------------------------------
# llm_enrich: delta batch -> 4x (remaining -> enrich -> append) -> final_build -> top-k

ALIGNED_SCHEMA = dict(nid=L, source=S, paper_id=S, title=S, abstract=S, abstract_source=S, authors=A,
                      publish_year=L, venue=S, citation_count=L, fields_of_study=A, url=S)
# task -> (DeterministicFakeLLM task, from_json schema of its reply, column
# name for a reply that is not an object)
TASKS = {
    "fields": ("fields", "array<string>", "fields_enriched"),
    "keywords": ("keywords", "array<string>", "keywords"),
    "scores": ("scoring", "novelty double, technical_depth double, clarity double, "
                          "impact_potential double, confidence double", None),
    "contributions": ("contributions", "problem string, method string", None),
}


class PaidFakeLLM:
    """``DeterministicFakeLLM`` behind a fixed simulated service time, with
    a ledger: every call appends one byte to a per-process file, so the
    benchmark process can count calls made in any worker exactly."""

    def __init__(self, task: str, service_s: float, ledger_dir: str):
        self.inner = DeterministicFakeLLM(task=task)
        self.service_s = service_s
        self.ledger = os.path.join(ledger_dir, f"{os.getpid()}-{id(self)}")

    def generate(self, prompt: str, max_tokens: int = 300) -> str:
        time.sleep(self.service_s)
        with open(self.ledger, "ab") as f:
            f.write(b"1")
        return self.inner.generate(prompt, max_tokens)


def ledger_calls(ledger_dir: str) -> int:
    return sum(os.path.getsize(os.path.join(ledger_dir, n)) for n in os.listdir(ledger_dir))


def prompt(task: str, title, abstract):
    """The enrichment prompt; works on strings and on pandas columns."""
    return f"[{task}] " + title + "\n" + abstract


def _prompts(task: str, pdf):
    return prompt(task, pdf["title"], pdf["abstract"])


class LlmEnrich(Workload):
    """A delta batch of aligned papers, mostly already checkpointed, through
    the four paid enrichment passes and the final build, then a top-k
    lookup of related papers for one new paper. Every op starts from the
    same checkpoint state."""

    name = "llm_enrich"
    DONE, FRESH = 400, 400  # checkpointed papers, pool of new papers
    # Papers per op, of which new: the reference scripts checkpoint every
    # 30-100 rows (BASELINE.md, throughput knobs), so a batch brings one
    # such interval of new papers; the rest are re-submitted, already done.
    BATCH, NEW = 200, 30
    # Simulated remote-call time. The reference spaces calls 0.15-1.0 s
    # apart (BASELINE.md); 15 ms, ten times below that, keeps an op within
    # the run budget while the 120 serial calls of a batch stay about a
    # quarter of its time, so calls in flight show in throughput.
    SERVICE_S = 0.015
    warmup_max_s = 25.0  # three ops: a cold one of 12-17 s and two of 5-6 s

    def build(self, spark) -> None:
        """The checkpoint as earlier runs left it: every ``DONE`` paper's
        replies, written the way ``enrich_with_llm`` would have produced
        them (fake reply -> ``parse_llm_json`` -> canonical JSON); and the
        embedded corpus of all papers for the related-paper lookup."""
        self.papers = gen.make_papers(self.seed, self.DONE + self.FRESH)
        os.makedirs(self.path("ledger"), exist_ok=True)
        for task, (client_task, _, _) in TASKS.items():
            client = DeterministicFakeLLM(task=client_task)
            prompts = [prompt(task, p["title"], p["abstract"]) for p in self.papers[: self.DONE]]
            replies = [parse_llm_json(client.generate(p)) for p in prompts]
            table = pa.table({
                "nid": pa.array(range(self.DONE), pa.int64()),
                "prompt": prompts,
                "llm_json": [None if r is None else json.dumps(r, sort_keys=True) for r in replies],
            })
            os.makedirs(self.path("base", task))
            pq.write_table(table, self.path("base", task, "part-00000-base.parquet"))
        # related-paper lookup over every paper, embedded from title and
        # abstract in this process: no Python workers to start in set-up
        vecs = EMBED([self._text(p) for p in self.papers])
        self.index = VectorIndex(spark.createDataFrame(
            [(p["nid"], v) for p, v in zip(self.papers, vecs)], struct(doc_id=L, embedding=T.ArrayType(T.FloatType()))))

    @staticmethod
    def _text(paper: dict) -> str:
        return paper["title"] + "\n" + paper["abstract"]

    def _enrich(self, df, task: str):
        service_s = 0.0 if self.warming else self.SERVICE_S  # sleeping warms nothing up
        factory = partial(PaidFakeLLM, TASKS[task][0], service_s, self.path("ledger"))
        return enrich_with_llm(df.select("nid", "title", "abstract"), "nid", partial(_prompts, task),
                               factory, rate_per_sec=1e9)

    @staticmethod
    def _side(full, task: str):
        _, schema, alias = TASKS[task]
        parsed = F.from_json("llm_json", schema)
        cols = [parsed.alias(alias)] if alias else [parsed.alias("p")]
        side = full.select(F.format_string("2511.%05d", "nid").alias("paper_id"), *cols)
        return side if alias else side.select("paper_id", "p.*")

    def op(self, spark, k: int, tracer: Tracer | None = None) -> dict:
        nids = gen.delta_batch(self.seed, k, self.DONE, self.FRESH, self.BATCH, self.NEW)
        op_dir = self.path(f"op-{k}")
        write_lines(op_dir + ".jsonl", (json.dumps(self.papers[i]) for i in nids))
        shutil.copytree(self.path("base"), op_dir)
        calls0 = ledger_calls(self.path("ledger"))

        with _layer(tracer, "sources.read"):
            batch = read_jsonl(spark, op_dir + ".jsonl", struct(**ALIGNED_SCHEMA), keep_corrupt=False)
            if tracer:
                noop(batch)
        sides, parse_ok, new_rows = {}, 0, 0
        for task in TASKS:
            ck = ParquetCheckpoint(spark, os.path.join(op_dir, task), "nid")
            with _layer(tracer, "sources.checkpoint_remaining"):
                todo = ck.remaining(batch)
                if tracer:
                    todo = todo.cache()
                    noop(todo)
            with _layer(tracer, "enrich"):
                enriched = self._enrich(todo, task)
                if tracer:
                    enriched = enriched.cache()
                    stats = enriched.agg(F.count("*").alias("n"), F.count("llm_json").alias("ok")).first()
                    new_rows += stats.n
                    parse_ok += stats.ok
            with _layer(tracer, "sources.checkpoint_append"):
                ck.append(enriched)
            # load(), not merged(enriched): merged after append returns the
            # new rows twice and re-runs their paid calls (README, "Known limits")
            sides[task] = self._side(ck.load(), task)
            if tracer:
                enriched.unpersist()
                todo.unpersist()
        with _layer(tracer, "final_build"):
            passed, reasons = pipeline.final_build(
                batch, sides["scores"], sides["keywords"], sides["fields"], sides["contributions"])
            n_passed = passed.count()
            dropped = {r.reason: r.n for r in reasons.collect()}
        # related papers of the batch's first new paper
        query = self.papers[next(i for i in nids if i >= self.DONE)]
        qvec = EMBED([self._text(query)])[0]
        with _layer(tracer, "vector"):
            rows = self.index.topk(qvec).collect()
        related = [r.doc_id for r in sorted(rows, key=lambda r: (-r.sim, r.doc_id))]
        if tracer:
            calls = ledger_calls(self.path("ledger")) - calls0
            files = sum(len([n for n in os.listdir(os.path.join(op_dir, t)) if n.endswith(".parquet")])
                        for t in TASKS)
            tracer.counts = {
                "sources.rows": len(nids),
                "sources.checkpoint_files": files,
                "enrich.calls": calls,
                "enrich.parse_ok_ratio": parse_ok / max(new_rows, 1),
                "enrich.calls_in_flight": calls * self.SERVICE_S / max(tracer.op_s["enrich"], 1e-9),
                "quality.pass_ratio": n_passed / len(nids),
                "llm_calls_per_item": calls / max(sum(1 for i in nids if i >= self.DONE), 1),
            }
        return {"items": len(nids), "nids": nids, "calls0": calls0, "op_dir": op_dir,
                "passed": n_passed, "dropped": dropped, "qvec": qvec, "related": related}

    def check(self, spark, k: int, result: dict) -> list[str]:
        nids, op_dir = result["nids"], result["op_dir"]
        errors = []
        new = sum(1 for i in nids if i >= self.DONE)
        calls = ledger_calls(self.path("ledger")) - result["calls0"]
        if calls != len(TASKS) * new:
            errors.append(f"{calls} paid calls for {new} new papers (want {len(TASKS) * new})")
        want = set(range(self.DONE)) | set(nids)
        for task in TASKS:
            got = pq.read_table(os.path.join(op_dir, task), columns=["nid"]).column("nid").to_pylist()
            if len(got) != len(set(got)) or set(got) != want:
                errors.append(f"{task} checkpoint holds {len(set(got))} papers ({len(got)} rows), want {len(want)}")
        if result["passed"] + sum(result["dropped"].values()) != len(nids):
            errors.append(f"final build accounts for {result['passed']} + {result['dropped']} of {len(nids)}")
        errors += self.index.check(result["qvec"], result["related"])
        shutil.rmtree(op_dir, ignore_errors=True)
        os.remove(op_dir + ".jsonl")
        return errors


# ---------------------------------------------------------------------------
# rag_qa: closed loop, one client: embed question -> cosine_topk -> context -> answer


class RagQa(Workload):
    """Seeded questions, Zipf-repeated from a pool, against a corpus whose
    embeddings are built in set-up."""

    name = "rag_qa"
    block = 10
    N_DOCS = 2000

    def build(self, spark) -> None:
        docs, self.questions = gen.make_corpus(self.seed, self.N_DOCS)
        self.docs = spark.createDataFrame(docs, struct(doc_id=L, text=S)).cache()
        self.index = VectorIndex(embed_with(self.docs, "doc_id", "text", EMBED))
        self.answerer = DeterministicFakeLLM(task="contributions")

    def op(self, spark, k: int, tracer: Tracer | None = None) -> dict:
        question = self.questions[gen.question_at(self.seed, k, len(self.questions))]
        with _layer(tracer, "enrich"):
            qvec = EMBED([question])[0]
        with _layer(tracer, "vector"):
            top = self.index.topk(qvec)
            rows = top.join(self.docs, "doc_id").select("doc_id", "sim", "text").collect()
        rows.sort(key=lambda r: (-r.sim, r.doc_id))
        context = "\n".join(r.text for r in rows)
        with _layer(tracer, "enrich"):
            answer = self.answerer.generate(f"Question: {question}\nContext:\n{context}")
        if tracer:
            tracer.counts = {"llm_calls_per_item": 1.0, "enrich.calls": 1,
                             "enrich.parse_ok_ratio": float(parse_llm_json(answer) is not None)}
        return {"items": 1, "qvec": qvec, "ids": [r.doc_id for r in rows], "answer": answer}

    def check(self, spark, k: int, result: dict) -> list[str]:
        errors = self.index.check(result["qvec"], result["ids"])
        if not result["answer"]:
            errors.append("empty answer")
        return errors

"""Enrichment harness (P19/P20/P11): deterministic fake client through
mapInPandas, rate limiting, checkpoint-protected resume."""

from __future__ import annotations

import importlib.util
import json

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from llm_enhanced_data_pipeline_spark.enrich import (
    DeterministicFakeLLM,
    RateLimiter,
    enrich_with_llm,
)
from llm_enhanced_data_pipeline_spark.enrich.client import retry_with_backoff


def _prompts(pdf: pd.DataFrame) -> pd.Series:
    return "Score: " + pdf["title"]


def test_fake_llm_is_deterministic():
    c1, c2 = DeterministicFakeLLM(task="scoring"), DeterministicFakeLLM(task="scoring")
    assert c1.generate("same prompt") == c2.generate("same prompt")
    assert c1.generate("a") != c1.generate("b")


def test_fake_llm_emits_malformed_shapes():
    c = DeterministicFakeLLM(task="scoring")
    shapes = {"fenced": 0, "prose": 0, "plain": 0}
    for i in range(300):
        r = c.generate(f"prompt {i}")
        if r.startswith("```"):
            shapes["fenced"] += 1
        elif r.startswith("Here is"):
            shapes["prose"] += 1
        else:
            shapes["plain"] += 1
    assert shapes["fenced"] > 0 and shapes["prose"] > 0 and shapes["plain"] > 200


def test_enrich_with_llm_parses_all_rows(spark):
    df = spark.createDataFrame([Row(doc_id=i, title=f"paper {i}") for i in range(40)])

    def prompts(pdf: pd.DataFrame) -> pd.Series:
        return "Score: " + pdf["title"]

    out = enrich_with_llm(
        df, "doc_id", prompts, lambda: DeterministicFakeLLM(task="scoring"),
        rate_per_sec=10_000.0,
    ).collect()
    assert len(out) == 40
    for r in out:
        parsed = json.loads(r.llm_json)
        assert set(parsed) >= {"novelty", "clarity", "confidence"}
        assert 0 <= parsed["novelty"] <= 10

    # determinism across runs (same prompts → same parsed payloads)
    out2 = enrich_with_llm(
        df, "doc_id", prompts, lambda: DeterministicFakeLLM(task="scoring"),
        rate_per_sec=10_000.0,
    ).collect()
    assert {r.doc_id: r.llm_json for r in out} == {r.doc_id: r.llm_json for r in out2}


def test_rate_limiter_throttles():
    import time

    rl = RateLimiter(rate=50.0, burst=1)
    t0 = time.monotonic()
    for _ in range(6):
        rl.acquire()
    elapsed = time.monotonic() - t0
    assert elapsed >= 0.08  # 5 waits at ~1/50s


def test_rate_limiter_holds_rate_across_threads():
    # 8 threads share one bucket, as the partition's call pool does: the
    # first `burst` calls are free, the other 155 come at `rate`/s. A
    # bucket that lost updates between threads would let them through
    # several times faster.
    import sys
    import threading
    import time

    rl = RateLimiter(rate=200.0, burst=5)
    threads = [
        threading.Thread(target=lambda: [rl.acquire() for _ in range(20)])
        for _ in range(8)
    ]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        t0 = time.monotonic()
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        elapsed = time.monotonic() - t0
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert elapsed >= (160 - 5) / 200.0


def _serial_enrichment(rows, prompts, client):
    """The one-call-at-a-time loop, as the reference for the pool."""
    from llm_enhanced_data_pipeline_spark.functions.parsing import parse_llm_json

    pdf = pd.DataFrame([r.asDict() for r in rows])
    out = []
    for doc_id, prompt in zip(pdf["doc_id"], prompts(pdf)):
        parsed = parse_llm_json(client.generate(prompt))
        out.append((doc_id, prompt, None if parsed is None else json.dumps(parsed, sort_keys=True)))
    return out


def test_enrich_with_llm_overlaps_calls_up_to_burst(spark, tmp_path):
    import threading
    import time

    peak_file = str(tmp_path / "peak")

    class SlowLLM:
        """20 ms per call; records the most calls it saw in flight."""

        def __init__(self):
            self.inner = DeterministicFakeLLM(task="scoring")
            self.lock = threading.Lock()
            self.in_flight = self.peak = 0

        def generate(self, prompt, max_tokens=300):
            with self.lock:
                self.in_flight += 1
                if self.in_flight > self.peak:
                    self.peak = self.in_flight
                    with open(peak_file, "w") as f:
                        f.write(str(self.peak))
            time.sleep(0.02)
            with self.lock:
                self.in_flight -= 1
            return self.inner.generate(prompt, max_tokens)

    df = spark.createDataFrame([Row(doc_id=i, title=f"paper {i}") for i in range(40)]).coalesce(1)
    out = enrich_with_llm(df, "doc_id", _prompts, SlowLLM, rate_per_sec=10_000.0).collect()

    with open(peak_file) as f:
        peak = int(f.read())
    assert 2 <= peak <= RateLimiter().burst
    expected = _serial_enrichment(df.collect(), _prompts, DeterministicFakeLLM(task="scoring"))
    assert [(r.doc_id, r.prompt, r.llm_json) for r in out] == expected


def test_enrich_with_llm_retries_failed_calls_per_row(spark, tmp_path):
    # The first attempt of every 3rd prompt raises. Each row is retried
    # inside the task, so the task never fails and Spark never re-runs a
    # partition: the paid-call ledger holds exactly one call per row plus
    # one per injected failure. The ledger is a per-process file because
    # the calls happen in Python worker processes.
    import os
    import threading

    ledger = tmp_path / "ledger"
    ledger.mkdir()

    class FlakyLLM:
        def __init__(self):
            self.inner = DeterministicFakeLLM(task="scoring")
            self.lock = threading.Lock()
            self.failed: set[str] = set()
            self.path = ledger / f"{os.getpid()}-{id(self)}"

        def generate(self, prompt, max_tokens=300):
            with open(self.path, "ab") as f:
                f.write(b"1")
            with self.lock:
                fail = int(prompt.rsplit(" ", 1)[1]) % 3 == 0 and prompt not in self.failed
                self.failed.add(prompt)
            if fail:
                raise ConnectionError("transient")
            return self.inner.generate(prompt, max_tokens)

    n = 30
    df = spark.createDataFrame([Row(doc_id=i, title=f"paper {i}") for i in range(n)]).repartition(3)
    out = enrich_with_llm(df, "doc_id", _prompts, FlakyLLM, rate_per_sec=10_000.0).collect()

    assert sorted(r.doc_id for r in out) == list(range(n))
    assert all(json.loads(r.llm_json)["novelty"] in range(11) for r in out)
    calls = sum(p.stat().st_size for p in ledger.iterdir())
    assert calls == n + n // 3


def test_retry_with_backoff_retries_then_succeeds():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    assert retry_with_backoff(flaky, max_tries=5, base_delay=0.001) == "ok"
    assert calls["n"] == 3


def test_embed_with_adapter_batches_and_normalizes(spark):
    from llm_enhanced_data_pipeline_spark.enrich.embedding import (
        deterministic_hash_embedder,
        embed_with,
    )

    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta doc {i}") for i in range(10)]
        + [Row(doc_id=99, text="")]
    )
    out = embed_with(df, "doc_id", "text", deterministic_hash_embedder(dim=8), batch_size=4)
    rows = {r.doc_id: r.embedding for r in out.collect()}
    assert len(rows) == 11
    assert len(rows[0]) == 8
    norm = sum(v * v for v in rows[0]) ** 0.5
    assert abs(norm - 1.0) < 1e-5
    assert rows[99] == [0.0] * 8  # empty text → zero vector (norm guard)
    # determinism across runs
    rows2 = {r.doc_id: r.embedding for r in embed_with(
        df, "doc_id", "text", deterministic_hash_embedder(dim=8)).collect()}
    assert rows == rows2


def test_embed_with_honors_batch_size_contract(spark):
    # Injection test for the real-model adapter path (reference batching:
    # rag.ipynb EmbeddingModel, batch 32): a fake batch model stands in
    # for sentence-transformers. The fake runs on executors, so it
    # ENCODES what it observed into the output vectors: each embedding is
    # [len(batch), position_in_batch, text_length] — collected back
    # through Arrow for the assertions.
    from llm_enhanced_data_pipeline_spark.enrich.embedding import embed_with

    def fake_batch_model(texts: list[str]) -> list[list[float]]:
        n = float(len(texts))
        return [[n, float(i), float(len(t))] for i, t in enumerate(texts)]

    df = spark.createDataFrame(
        [Row(doc_id=i, text="x" * (i + 1)) for i in range(10)]
    ).repartition(1)  # one Arrow batch → deterministic chunking
    out = embed_with(df, "doc_id", "text", fake_batch_model, batch_size=4)

    assert dict(out.dtypes) == {"doc_id": "bigint", "embedding": "array<float>"}
    rows = {r.doc_id: list(r.embedding) for r in out.collect()}
    assert len(rows) == 10
    # 10 rows at batch_size=4 → the model must see chunks of 4, 4, 2 —
    # never the whole partition at once, never row-at-a-time.
    sizes = sorted(v[0] for v in rows.values())
    assert sizes == [2.0, 2.0] + [4.0] * 8
    # every position index is within its chunk
    assert all(v[1] < v[0] for v in rows.values())
    # Arrow round-trip preserves the float payload (text i has length i+1)
    assert all(rows[i][2] == float(i + 1) for i in range(10))


def test_vendored_transformer_embedder_properties():
    """The vendored numpy transformer (384-d, fixed seeded weights) must
    behave like a real encoder where the TF/hash fallbacks cannot:
    deterministic across calls, ORDER-sensitive (attention + position
    embeddings see sequence structure; bag-of-words cannot), and
    batch-shape invariant (a text's vector must not depend on its batch
    neighbors — pad keys carry exact-zero attention weight)."""
    import numpy as np

    from llm_enhanced_data_pipeline_spark.enrich.embedding import (
        vendored_transformer_embedder,
    )

    embed = vendored_transformer_embedder()
    texts = [
        "deep learning for vision",
        "vision for learning deep",  # same bag of words, different order
        "graph neural networks operate on molecular structures",
        "",
    ]
    out = embed(texts)
    assert [len(v) for v in out] == [384] * 4
    # unit norm for non-empty, zero vector for empty
    for v in out[:3]:
        assert abs(sum(x * x for x in v) ** 0.5 - 1.0) < 1e-4
    assert out[3] == [0.0] * 384
    # determinism: a fresh factory (fresh lazy weights) reproduces bits
    out2 = vendored_transformer_embedder()(texts)
    assert out == out2
    # order sensitivity: permuted tokens give a genuinely different
    # vector (cosine clearly below 1) — the hash/TF fallbacks tie here
    cos = float(np.dot(out[0], out[1]))
    assert cos < 0.999
    # batch-shape invariance: same text alone vs inside a mixed batch
    solo = embed([texts[2]])[0]
    assert np.allclose(out[2], solo, atol=1e-5)


def test_vendored_transformer_through_embed_with(spark):
    """End-to-end adapter run at the reference's shape (384-d, batch 32)
    through mapInPandas on real documents — the model builds lazily on
    executors and the vectors come back Arrow-batched, partition-count
    independent."""
    import numpy as np

    from llm_enhanced_data_pipeline_spark.enrich.embedding import (
        embed_with,
        vendored_transformer_embedder,
    )
    from llm_enhanced_data_pipeline_spark.tables import load_table

    from .conftest import SMOKE_SF_DIR

    docs = load_table(spark, "documents", SMOKE_SF_DIR).select("doc_id", "text")
    out = embed_with(
        docs, "doc_id", "text", vendored_transformer_embedder(), batch_size=32
    )
    assert dict(out.dtypes) == {"doc_id": "bigint", "embedding": "array<float>"}
    rows = {r.doc_id: list(r.embedding) for r in out.collect()}
    assert len(rows) == docs.count()
    assert all(len(v) == 384 for v in rows.values())
    # partitioning must not change the vectors
    rows8 = {
        r.doc_id: list(r.embedding)
        for r in embed_with(
            docs.repartition(8), "doc_id", "text",
            vendored_transformer_embedder(), batch_size=32,
        ).collect()
    }
    sample = list(rows)[:5]
    for k in sample:
        assert np.allclose(rows[k], rows8[k], atol=1e-5)


def test_sentence_transformer_embedder_is_cleanly_gated():
    import pytest as _pytest

    from llm_enhanced_data_pipeline_spark.enrich.embedding import (
        sentence_transformer_embedder,
    )

    if importlib.util.find_spec("sentence_transformers") is not None:
        _pytest.skip("sentence-transformers IS installed; real-model test covers this")
    with _pytest.raises(NotImplementedError):
        sentence_transformer_embedder()


def test_sentence_transformer_embedder_real_model(spark):
    """Opt-in real-model run (reference: RAG/rag.ipynb cell 1
    EmbeddingModel, all-MiniLM-L6-v2, 384-d, source lines 343-444).
    Skips when the model library is absent — this container bans package
    installs, so the skip reason is the recorded decision; on an
    executor image that ships sentence-transformers the same adapter
    (embed_with → mapInPandas) runs the genuine model unchanged."""
    if importlib.util.find_spec("sentence_transformers") is None:
        pytest.skip(
            "sentence-transformers not installed (no pip install allowed "
            "in this container); adapter contract covered by the "
            "injection tests above"
        )
    from llm_enhanced_data_pipeline_spark.enrich.embedding import (
        embed_with,
        sentence_transformer_embedder,
    )

    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="Deep learning for vision."),
            Row(doc_id=1, text="Transformers process sequences."),
            Row(doc_id=2, text="Graph neural networks on molecules."),
        ]
    )
    out = embed_with(df, "doc_id", "text", sentence_transformer_embedder(), batch_size=2)
    rows = {r.doc_id: r.embedding for r in out.collect()}
    assert len(rows) == 3
    assert all(len(v) == 384 for v in rows.values())


def test_adaptive_rate_limiter_scales_both_ways():
    from llm_enhanced_data_pipeline_spark.enrich.client import AdaptiveRateLimiter

    rl = AdaptiveRateLimiter(min_delay=0.001, max_delay=1.0)
    start = rl.current_delay
    for _ in range(30):
        rl.record(True)
    assert rl.current_delay < start  # healthy window shrinks the delay
    shrunk = rl.current_delay
    rl.record(False)
    rl.record(False)
    assert rl.current_delay >= shrunk * 4  # failures multiply it up
    for _ in range(200):
        rl.record(True)
    assert abs(rl.current_delay - 0.001) < 1e-9  # floors at min_delay

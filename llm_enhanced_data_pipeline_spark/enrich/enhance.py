"""LLM enrichment over DataFrames (SURVEY.md §2.2 P19/P21, §3.2).

The reference runs four per-row enrichment passes with a thread pool
(enhance_fields_of_study.py:286-322 etc.). Spark-first shape:

    base → checkpoint.remaining() → repartition(P) →
    mapInPandas(pooled client calls, per-partition rate limit) →
    checkpoint.append()

Each partition keeps up to the token bucket's burst of calls in flight
on a thread pool, so the cluster runs partitions × burst in-flight
calls, each partition at most `rate`/s — the analog of MAX_WORKERS ×
BASE_DELAY. The parquet checkpoint replaces the every-N JSON dumps;
``append`` returns the durable rows read back, so nothing downstream
re-runs the paid lineage. A transient client failure is retried per
row inside the task, so it does not make Spark re-run the partition
and re-pay its calls (tests/test_enrich.py fault-injection test).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.parsing import parse_llm_json
from .client import LLMClient, RateLimiter, retry_with_backoff

RESULT_FIELD = "llm_json"


def enrich_with_llm(
    df: DataFrame,
    id_col: str,
    prompt_builder: Callable[[pd.Series], pd.Series],
    client_factory: Callable[[], LLMClient],
    rate_per_sec: float = 10.0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Returns (id, prompt, llm_json) — parsed canonical JSON per row,
    in input order.

    ``client_factory`` is invoked once per partition on the executor
    (clients hold connections; they must not be pickled from the
    driver). The partition's calls run on a pool of ``RateLimiter.burst``
    threads sharing that one client, so ``client.generate`` must be
    thread-safe. Each call is retried with :func:`retry_with_backoff`
    (every attempt takes a rate-limiter token); a call that still fails
    after ``max_tries`` raises and fails the task. Non-deterministic by
    nature: persist/checkpoint the result before fan-out (see
    sources/checkpoint.py).
    """
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("prompt", T.StringType()),
            T.StructField(RESULT_FIELD, T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = client_factory()
        limiter = RateLimiter(rate=rate_per_sec)

        def attempt(prompt: str) -> str:
            limiter.acquire()
            return client.generate(prompt)

        def call(prompt: str) -> str | None:
            parsed = parse_llm_json(retry_with_backoff(partial(attempt, prompt)))
            return None if parsed is None else json.dumps(parsed, sort_keys=True)

        with ThreadPoolExecutor(max_workers=limiter.burst) as pool:
            for pdf in batches:
                prompts = prompt_builder(pdf)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].astype("int64"),
                        "prompt": prompts,
                        RESULT_FIELD: list(pool.map(call, prompts)),
                    }
                )

    work = df if num_partitions is None else df.repartition(num_partitions)
    return work.mapInPandas(run, schema)

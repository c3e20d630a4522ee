"""Pluggable LLM client + rate limiting (SURVEY.md §2.2 P19/P20).

The reference wraps chat-completion HTTP calls in a thread pool with a
global min-delay lock, exponential backoff (max 5 tries / 300 s) and
Retry-After handling (enhance_fields_of_study.py:49-96,
enhance_summary.py:55-111). In the Spark engine the same discipline
lives *inside each partition*: an executor-local token bucket shared
by a pool of call threads, and per-row retries at one site
(``enrich_with_llm``), never Spark task retries — a task retry would
re-spend every paid call of the partition; see sources/checkpoint.py
for the durability half.

`DeterministicFakeLLM` makes correctness runs reproducible: responses
are seeded by the prompt's md5, and it deliberately emits the
reference's malformed-output pathologies (fenced JSON, prose-wrapped
JSON, bare key:value lines) so the P11 parser cascade is exercised.
"""

from __future__ import annotations

import hashlib
import json
import threading
import time
from dataclasses import dataclass, field
from typing import Protocol


class LLMClient(Protocol):
    def generate(self, prompt: str, max_tokens: int = 300) -> str: ...


@dataclass
class RateLimiter:
    """Token bucket: at most `rate` calls per second, burst `burst`.

    Executor-local (one per mapInPandas partition iterator) and
    thread-safe: the partition's call pool has `burst` threads that all
    acquire from this bucket. The wait happens under the lock, so the
    spacing holds across threads and the sustained rate stays `rate`.
    Cluster-wide that is partitions × burst calls in flight, each
    partition at most `rate`/s — the Spark analog of the reference's
    MAX_WORKERS × BASE_DELAY throttle. Because the pool shares one
    client, `client.generate` must be thread-safe; `DeterministicFakeLLM`
    and `HttpChatClient` are, being stateless per call.
    """

    rate: float = 10.0
    burst: int = 5
    _tokens: float = field(default=0.0, init=False)
    _last: float = field(default=0.0, init=False)
    _lock: threading.Lock = field(
        default_factory=threading.Lock, init=False, repr=False, compare=False
    )

    def acquire(self) -> None:
        with self._lock:
            now = time.monotonic()
            if self._last == 0.0:
                self._tokens = float(self.burst)
            else:
                self._tokens = min(self.burst, self._tokens + (now - self._last) * self.rate)
            self._last = now
            if self._tokens < 1.0:
                wait = (1.0 - self._tokens) / self.rate
                time.sleep(wait)
                self._tokens = 1.0
                self._last = time.monotonic()
            self._tokens -= 1.0


def retry_with_backoff(fn, max_tries: int = 5, base_delay: float = 0.1, max_delay: float = 300.0):
    """backoff.expo-equivalent (enhance_fields_of_study.py:61-66)."""
    delay = base_delay
    for attempt in range(max_tries):
        try:
            return fn()
        except Exception:
            if attempt == max_tries - 1:
                raise
            time.sleep(min(delay, max_delay))
            delay *= 2


@dataclass
class HttpChatClient:
    """Production client shell for an OpenAI-compatible chat endpoint
    (the reference's DeepSeek calls, enhance_fields_of_study.py:68-117).
    Stdlib-only (urllib) so it needs no extra dependency; constructed
    per partition via the client_factory so connections are never
    pickled from the driver. One request per call: a failure raises,
    and ``enrich_with_llm`` retries the row with
    :func:`retry_with_backoff`. Stateless per call, so the partition's
    call pool may share one instance. The protocol surface matches
    DeterministicFakeLLM exactly, so swapping clients is one argument.
    """

    base_url: str
    api_key: str
    model: str = "deepseek-chat"
    temperature: float = 0.2

    def generate(self, prompt: str, max_tokens: int = 300) -> str:
        import urllib.request

        body = json.dumps(
            {
                "model": self.model,
                "messages": [{"role": "user", "content": prompt}],
                "temperature": self.temperature,
                "max_tokens": max_tokens,
            }
        ).encode("utf-8")
        req = urllib.request.Request(
            f"{self.base_url.rstrip('/')}/chat/completions",
            data=body,
            headers={
                "Content-Type": "application/json",
                "Authorization": f"Bearer {self.api_key}",
            },
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            payload = json.loads(resp.read().decode("utf-8"))
        return payload["choices"][0]["message"]["content"]


@dataclass
class DeterministicFakeLLM:
    """Seeded fake: same prompt → same response, forever.

    `malform_every`: every Nth response is emitted in one of the
    malformed shapes the reference's parser cascade handles.
    """

    task: str = "scoring"
    malform_every: int = 7

    def _seed(self, prompt: str) -> int:
        return int(hashlib.md5(prompt.encode("utf-8")).hexdigest()[:8], 16)

    def generate(self, prompt: str, max_tokens: int = 300) -> str:
        seed = self._seed(prompt)
        if self.task == "scoring":
            payload = {
                "novelty": seed % 11,
                "technical_depth": (seed // 11) % 11,
                "clarity": (seed // 121) % 11,
                "impact_potential": (seed // 1331) % 11,
                "confidence": round(0.3 + (seed % 70) / 100.0, 2),
            }
        elif self.task == "keywords":
            payload = [f"kw_{(seed + i) % 97}" for i in range(5 + seed % 4)]
        elif self.task == "fields":
            fields = ["Machine Learning", "Computer Vision", "Robotics", "NLP", "Theory"]
            payload = [fields[(seed + i) % len(fields)] for i in range(1 + seed % 3)]
        else:  # contributions
            payload = {
                "problem": f"problem_{seed % 1000}",
                "method": f"method_{seed % 997}",
                "key_contributions": [f"c_{(seed + i) % 31}" for i in range(1 + seed % 3)],
                "application_scenarios": [f"app_{(seed + i) % 17}" for i in range(1 + seed % 2)],
            }
        text = json.dumps(payload)
        shape = (seed % self.malform_every == 0) and (seed % 3)
        if shape == 1:
            return f"```json\n{text}\n```"
        if shape == 2:
            return f"Here is the result you asked for:\n{text}\nLet me know if you need more."
        return text

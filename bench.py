#!/usr/bin/env python
"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Stdout is ONE JSON line, printed last, after the session has stopped:

  {"metric": "headline_queries_total_wall", "value": N, "unit": "sec",
   "n_failed": 0, "failed": [], "queries": {slot: median_sec}, "sf": 0.1,
   "reps_per_slot": 3, "contaminated": false, "loadavg_before": [...]}

``value`` is the sum of the slot medians, or null when any slot failed
(a partial sum would read as a speedup). Progress, per-slot spreads and
failure messages go to stderr. Readers keep only a ~2,000-character
tail of the combined output, so the line holds nothing per slot beyond
the median.

Methodology:
- Forcing: bit_xor(xxhash64(*all_columns)) per slot consumes every
  output column (see ``force``). Rounds 1-5 forced with count(), which
  let Catalyst prune unreferenced columns, so text-transform slots
  under-reported; r6+ numbers are like-for-like with each other but NOT
  with r1-r5.
- Warm-up: every plan runs once at $SPARK_GRAFT_WARM_SF_DIR first, so
  whole-stage-codegen compilation happens outside the timed reps.
- Cold reps: each slot runs $SPARK_GRAFT_BENCH_REPS times (default 3)
  and reports the median, so a one-rep scheduler hiccup cannot
  masquerade as a regression. Every rep releases what it persisted, so
  no rep is served from an earlier rep's cache.
- Stall recovery: see ``run_slot``; ``contaminated`` is true when a
  slot's spread stays stall-shaped after the recovery reps, and such a
  record must not back a comparison. With one rep per slot the check
  cannot run and ``contaminated`` is null.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from llm_enhanced_data_pipeline_spark.operators import dedup  # noqa: E402
from llm_enhanced_data_pipeline_spark.queries import REGISTRY, dedup_q  # noqa: E402
from llm_enhanced_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM_SF_DIR = os.environ.get("SPARK_GRAFT_WARM_SF_DIR", "/root/testdata/sf0.001")
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
#: a slot whose median/min exceeds this after all reps is stall-poisoned
STALL_RATIO = 2.0
#: extra recovery reps granted to a stall-suspect slot
MAX_EXTRA_REPS = 2


def read_loadavg() -> list[float] | None:
    """1/5/15-minute load averages, or None off-Linux."""
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except (OSError, ValueError):
        return None


def run_slot(run_rep) -> list[float]:
    """Time ``run_rep(i)`` REPS times; when the spread screams ambient
    stall (median/min > STALL_RATIO — noise on a shared box is
    one-sided, a host hiccup only ever ADDS time), grant up to
    MAX_EXTRA_REPS recovery reps so calm runs can pull the median back
    to the slot's intrinsic cost. Returns every rep."""
    secs = [run_rep(i) for i in range(REPS)]
    extra = 0
    while slot_is_contaminated(secs) and extra < MAX_EXTRA_REPS:
        secs.append(run_rep(REPS + extra))
        extra += 1
    return secs


def slot_is_contaminated(secs: list[float]) -> bool:
    return (
        len(secs) >= 2
        and statistics.median(secs) / max(min(secs), 1e-9) > STALL_RATIO
    )


def force(df) -> None:
    """Force FULL execution including every output column. A bare
    count() lets Catalyst prune unreferenced columns, so row-level
    transforms (substring_dedup_apply's clean_text, text_clean chains)
    were silently benched without their actual work. bit_xor over a row
    hash genuinely consumes every column while keeping the query's own
    plan (AQE, sort/limit shortcuts) intact. Rejected alternatives, both
    measured: a noop-sink write distorts final-stage shapes by up to 7x
    on aggregates; count(xxhash64(cols)) gets optimized to count(*)
    because the hash is non-nullable, silently restoring the pruning."""
    from pyspark.sql import functions as F

    df.select(
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h")
    ).collect()


def main() -> None:
    loadavg_before = read_loadavg()
    spark = get_spark("bench")
    bench_specs = sorted(
        (s for s in REGISTRY.values() if s.bench), key=lambda s: s.name
    )
    # Warm-up pass: run every benched query once at the smallest scale
    # factor so whole-stage-codegen compilation (plan-shape dependent,
    # data-size independent) happens OUTSIDE the timed runs. Cold-start
    # JIT is ~70-85% of a one-shot run at sf0.1 and is irrelevant at
    # production scale, where each compiled plan runs for hours.
    warm_t0 = time.perf_counter()
    for spec in bench_specs:
        try:
            force(spec.fn(spark, WARM_SF_DIR))  # warm the SAME plan shape
        except Exception as exc:  # warm-up failure must not kill the bench
            print(f"# warm-up {spec.name} failed: {exc}", file=sys.stderr)
    print(
        f"# warm-up pass ({len(bench_specs)} plans at {WARM_SF_DIR}): "
        f"{time.perf_counter() - warm_t0:.1f}s",
        file=sys.stderr,
    )
    # warm-up runs at the warm-up scale persist intermediates keyed to
    # it — release them (the memoized index is built fresh below)
    dedup.release_caches()

    reps: dict[str, list[float]] = {}
    failed: list[str] = []

    def timed(name: str, run_rep) -> None:
        """One slot, isolated: a broken query must not zero the whole
        round's bench, so its error goes to stderr and the rest run."""
        try:
            secs = run_slot(run_rep)
        except Exception as exc:
            failed.append(name)
            print(f"# {name}: ERROR {type(exc).__name__}: {exc}", file=sys.stderr)
            return
        reps[name] = secs
        print(
            f"# {name}: {statistics.median(secs):.3f}s (median of {len(secs)}; "
            f"min {min(secs):.3f} max {max(secs):.3f})",
            file=sys.stderr,
        )

    # The shared MinHash signature/pair index (memoized per (session,
    # sf_dir)) serves several headline queries. Build it as its OWN
    # timed slot BEFORE the per-query loop so each consumer measures
    # its marginal cost — otherwise the build lands on whichever
    # consumer runs first and a real regression in the minhash path
    # hides inside run-order attribution noise. Between reps the memo
    # is invalidated so every rep is a cold build; the LAST build is
    # left live for the consumer slots.
    if any(s.name in dedup_q.SHARED_MINHASH_CONSUMERS for s in bench_specs):
        def minhash_rep(i: int) -> float:
            if i:
                dedup_q.invalidate_shared_minhash_index(spark, SF_DIR)
            t0 = time.perf_counter()
            dedup_q.build_shared_minhash_index(spark, SF_DIR)
            return time.perf_counter() - t0

        timed("shared_minhash_index_build", minhash_rep)

    # Per-rep cache scoping: queries that persist intermediates
    # (persist_tracked / localCheckpoint) would otherwise serve reps
    # 2..N from rep 1's cache — Spark's CacheManager matches persisted
    # frames by analyzed-plan equality — and the median would report
    # warm-cache cost while the real cold build cost hides in the max.
    # Releasing everything a rep registered makes every rep cold; the
    # shared MinHash index (registered before any mark) stays live.
    for spec in bench_specs:
        def query_rep(_i: int, _spec=spec) -> float:
            # finally: a rep that RAISES must still release what it
            # persisted — otherwise the orphaned frames hold executor
            # memory and can warm later slots sharing plan prefixes.
            mark = dedup.cache_mark()
            try:
                t0 = time.perf_counter()
                force(_spec.fn(spark, SF_DIR))  # all columns, distributed
                return time.perf_counter() - t0
            finally:
                dedup.release_caches_since(mark)

        timed(spec.name, query_rep)

    timings = {k: round(statistics.median(v), 4) for k, v in reps.items()}
    contaminated = sorted(k for k, v in reps.items() if slot_is_contaminated(v))
    if contaminated:
        print(
            "# WARNING: ambient-stall contamination survived the recovery "
            f"reps on {contaminated} (median/min > {STALL_RATIO}); this "
            "record must NOT back a comparison — re-run on a quiet machine.",
            file=sys.stderr,
        )
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    record = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 4) if not failed else None,
        "unit": "sec",
        "n_failed": len(failed),
        "failed": failed,
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "reps_per_slot": REPS,
        # the stall check compares reps, so one rep means it did not run
        "contaminated": bool(contaminated) if REPS >= 2 else None,
        "loadavg_before": loadavg_before,
    }
    spark.stop()
    # Last, after stop(): no shutdown output can follow the record.
    print(json.dumps(record), flush=True)
    if failed and not timings:
        sys.exit(1)  # non-zero only when EVERY slot failed


if __name__ == "__main__":
    main()

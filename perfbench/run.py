"""Paper-workload benchmark for the Spark pipeline.

    python3 perfbench/run.py --workload {paper_etl,llm_enrich,rag_qa} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One process, ``local[nproc]``, one client
thread. Set-up (session start, seeded inputs, program state, warm-up
until op time stops falling) is timed as ``setup_s``; then fresh
operations run back to back for ``--seconds``, at least ``MIN_OPS`` of
them, and every output is checked. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs with the Spark event log on, adds a fixed set
of traced operations (job group per layer) and prints the per-layer
metrics. The last stdout line is the JSON result; see
``perfbench/README.md`` for the metrics and what each should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import eventlog, procstat  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "cpu_s_per_item": "s",
    "ok_ratio": "ratio",
}
# Layers whose Spark time (run, GC, spill) the event log splits out; a
# layer's metrics sum every job group tagged with its name or "<name>.*".
SPARK_LAYERS = ["sources", "dedup", "cleaning", "final_build", "pipeline", "enrich", "vector"]
WALL_LAYERS = {  # metric -> job group whose wall time it reports
    "sources.read_s": "sources.read",
    "sources.write_s": "sources.write",
    "sources.checkpoint_remaining_s": "sources.checkpoint_remaining",
    "sources.checkpoint_append_s": "sources.checkpoint_append",
    "dedup.s": "dedup",
    "cleaning.s": "cleaning",
    "final_build.s": "final_build",
    "enrich.s": "enrich",
    "vector.topk_s": "vector",
}
EVENT_COUNTS = {  # metric -> (job group, event-log field), per operation
    "dedup.jobs": ("dedup", "jobs"),
    "dedup.tasks": ("dedup", "tasks"),
    "dedup.shuffle_mb": ("dedup", "shuffle_write_mb"),
    "final_build.shuffle_mb": ("final_build", "shuffle_write_mb"),
    "pipeline.jobs": ("pipeline", "jobs"),
    "pipeline.stages": ("pipeline", "stages"),
    "pipeline.tasks": ("pipeline", "tasks"),
    "vector.jobs_per_query": ("vector", "jobs"),
    "vector.tasks_per_query": ("vector", "tasks"),
}
OP_COUNTS = {  # metric -> unit; reported by the traced operations themselves
    "sources.rows": "count",
    "sources.checkpoint_files": "count",
    "dedup.rows_in": "count",
    "dedup.rows_out": "count",
    "cleaning.rows_out": "count",
    "quality.pass_ratio": "ratio",
    "enrich.calls": "count",
    "enrich.parse_ok_ratio": "ratio",
    "enrich.calls_in_flight": "count",
    "llm_calls_per_item": "count",
}
PER_LAYER = {
    "session.start_s": "s",
    **{m: "s" for m in WALL_LAYERS},
    **{m: ("MB" if m.endswith("_mb") else "count") for m in EVENT_COUNTS},
    **OP_COUNTS,
    **{f"{layer}.{f}": u for layer in SPARK_LAYERS
       for f, u in (("executor_run_s", "s"), ("gc_s", "s"), ("spill_mb", "MB"))},
    "trace.overhead_ratio": "ratio",
    # JVM heap growth differs run to run by more than any bound would
    # allow, so memory is reported from the traced run, without a bound.
    "peak_rss_mb": "MB",
}

MIN_OPS = 2  # timed operations per run, at least
TRACED_OPS = {"paper_etl": 1, "llm_enrich": 1, "rag_qa": 20}
TRACE_K0 = 1_000_000  # op index of the first traced op: same inputs in every traced run


def shutdown() -> None:
    """Stop Spark and the JVM, and wait until no child process is left."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
    deadline = time.monotonic() + 30
    while len(procstat.tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_environment(run_dir: Path, cpus: int) -> None:
    """Everything the Spark JVM and its Python workers inherit."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the launcher JVM stays out of /tmp too
    # mapInPandas workers import the package and perfbench by name
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))


def start_session(run_dir: Path, cpus: int, event_dir: Path | None = None):
    from llm_enhanced_data_pipeline_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
                                         f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        event_dir.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cpus=cpus, extra_conf=conf)


class Runner:
    def __init__(self, wl, spark, stop: threading.Event):
        self.wl = wl
        self.spark = spark
        self.stop = stop  # set once the run is told to stop
        self.attempted = 0
        self.failed = 0

    def run_op(self, k: int, tracer=None) -> dict | None:
        """One timed operation plus its checks; None if it failed."""
        self.attempted += 1
        try:
            cpu0 = procstat.cpu_seconds()
            t0 = time.perf_counter()
            result = self.wl.op(self.spark, k, tracer)
            wall = time.perf_counter() - t0
            cpu = procstat.cpu_seconds() - cpu0
            errors = self.wl.check(self.spark, k, result)
        except Exception:  # a crashed op is a failed op; keep measuring
            if self.stop.is_set():  # py4j turned our SystemExit into its own error
                raise SystemExit(143) from None
            errors = [traceback.format_exc()]
        if errors:
            self.failed += 1
            log(f"op {k} failed: {errors}")
            return None
        return {"wall": wall, "cpu": cpu, "items": result["items"]}

    def warm_up(self, k: int) -> tuple[int, dict]:
        """Run blocks of ops until op time stops falling: the first block,
        after at least two, whose median is not 5% below the best block
        before it ("rule"); no block starts once the workload's
        ``warmup_max_s`` have passed ("cap"). Every warm-up op is set-up,
        none is a sample. Returns the next op index and what the warm-up
        did."""
        best, walls, end = float("inf"), [], "cap"
        self.wl.warming = True
        t0 = time.perf_counter()
        while time.perf_counter() < t0 + self.wl.warmup_max_s:
            recs = [self.run_op(k + i) for i in range(self.wl.block)]
            k += self.wl.block
            t = statistics.median(r["wall"] if r else float("inf") for r in recs)
            walls.append(t)
            if len(walls) >= 2 and t >= 0.95 * best:
                end = "rule"
                break
            best = min(best, t)
        self.wl.warming = False
        info = {"warmup_s": time.perf_counter() - t0, "warmup_ops": len(walls) * self.wl.block,
                "warmup_end": end, "warmup_block_s": [round(w, 3) for w in walls]}
        log(f"warm-up: {info}")
        return k, info

    def timed(self, k: int, seconds: float) -> list[dict]:
        recs = []
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or len(recs) < MIN_OPS:
            rec = self.run_op(k)
            k += 1
            if rec:
                recs.append(rec)
            elif self.failed > 3 * MIN_OPS:
                break
        return recs


def end_to_end(recs: list[dict], setup_s: float, attempted: int, failed: int) -> dict:
    walls = [r["wall"] for r in recs]
    items = sum(r["items"] for r in recs)
    return {
        "setup_s": setup_s,
        "throughput_per_s": items / sum(walls),
        "latency_p50_ms": 1e3 * statistics.median(walls),
        "cpu_s_per_item": sum(r["cpu"] for r in recs) / items,
        "ok_ratio": (attempted - failed) / attempted,
    }


def traced_pass(runner: Runner, event_dir: Path, untraced_p50: float) -> dict:
    """Run the fixed traced ops after the timed ones and return the
    per-layer metrics (per op: medians of times, event-log totals divided
    by the op count)."""
    from perfbench.workloads import Tracer

    tracer = Tracer(runner.spark)
    n = TRACED_OPS[runner.wl.name]
    walls, op_s, counts = [], defaultdict(list), defaultdict(list)
    for j in range(n):
        tracer.op_s, tracer.counts = defaultdict(float), {}
        rec = runner.run_op(TRACE_K0 + j, tracer)
        if rec:
            walls.append(rec["wall"])
        for tag in WALL_LAYERS.values():
            op_s[tag].append(tracer.op_s.get(tag, 0.0))
        for m, v in tracer.counts.items():
            counts[m].append(v)
    peak_rss = procstat.peak_rss_mb()
    runner.spark.stop()  # closes the event log
    (log_file,) = [p for p in event_dir.iterdir() if not p.name.startswith(".")]
    tags = eventlog.summarize_file(str(log_file))

    def tag_total(prefix: str, field: str) -> float:
        return sum(v[field] for t, v in tags.items() if t == prefix or t.startswith(prefix + ".")) / n

    out = {m: statistics.median(op_s[tag]) for m, tag in WALL_LAYERS.items()}
    out.update({m: tag_total(tag, f) for m, (tag, f) in EVENT_COUNTS.items()})
    out.update({m: statistics.median(counts[m]) if counts[m] else 0 for m in OP_COUNTS})
    for layer in SPARK_LAYERS:
        for f in ("executor_run_s", "gc_s", "spill_mb"):
            out[f"{layer}.{f}"] = tag_total(layer, f)
    out["trace.overhead_ratio"] = statistics.median(walls) / untraced_p50 if walls else 0.0
    out["peak_rss_mb"] = peak_rss
    log("event log per job group: " + json.dumps({t: {f: round(v, 3) for f, v in d.items()} for t, d in tags.items()}))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(TRACED_OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a run stopped from outside shuts the JVM down, removes its files and
    # prints no result
    stop = threading.Event()

    def on_sigterm(*_):
        stop.set()
        sys.exit(143)

    signal.signal(signal.SIGTERM, on_sigterm)

    t_start = time.perf_counter()
    cpus = len(os.sched_getaffinity(0))
    run_dir = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    pin_environment(run_dir, cpus)
    try:
        from perfbench import workloads

        cls = {w.name: w for w in (workloads.PaperEtl, workloads.LlmEnrich, workloads.RagQa)}[args.workload]
        event_dir = run_dir / "eventlog" if args.trace else None
        t0 = time.perf_counter()
        spark = start_session(run_dir, cpus, event_dir)
        session_s = time.perf_counter() - t0
        wl = cls(args.seed, str(run_dir / "work"))
        wl.build(spark)
        build_s = time.perf_counter() - t0 - session_s
        runner = Runner(wl, spark, stop)
        k, warm = runner.warm_up(0)
        setup_s = session_s + build_s + warm["warmup_s"]
        log(f"setup: session {session_s:.2f}s, build {build_s:.2f}s, warm-up {warm['warmup_s']:.2f}s")

        recs = runner.timed(k, args.seconds)
        if not recs:
            raise RuntimeError("no operation succeeded")
        if args.trace:  # the timed ops are the untraced reference
            metrics = traced_pass(runner, event_dir, statistics.median(r["wall"] for r in recs))
            metrics["session.start_s"] = session_s
            units = PER_LAYER
        else:
            metrics = end_to_end(recs, setup_s, runner.attempted, runner.failed)
            units = END_TO_END
        shutdown()
        print(json.dumps({"workload": args.workload, "seed": args.seed, "cpus": cpus,
                          "setup": {"session_s": round(session_s, 3), "build_s": round(build_s, 3),
                                    **{m: v for m, v in warm.items() if m != "warmup_s"}},
                          "timed_ops": len(recs), "op_s": [round(r["wall"], 3) for r in recs],
                          "run_s": round(time.perf_counter() - t_start, 1)}))
        print(json.dumps({
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {m: {"value": metrics[m], "unit": u} for m, u in units.items()},
        }))
        return 0
    finally:
        if "pyspark" in sys.modules:
            shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:  # another run is using it
            pass


if __name__ == "__main__":
    sys.exit(main())

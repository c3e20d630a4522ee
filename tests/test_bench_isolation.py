"""bench.py's output contract and failure isolation: the run ends with
ONE parseable JSON line on stdout, and one broken query must not zero
the round's bench record (round 3 lost its entire bench to a single
loader exception)."""

from __future__ import annotations

import json
import statistics

import bench
from llm_enhanced_data_pipeline_spark.queries.registry import QuerySpec

#: the keys the bench reader parsed from the r01-r06 records
READER_KEYS = {"metric", "value", "unit", "n_failed", "queries", "sf"}


def _run(spark, monkeypatch, capsys, fns):
    """Run bench.main() over a fake registry of ``{name: fn}``; return
    (exit code, or None when main returned, stdout, stderr)."""
    registry = {
        name: QuerySpec(name=name, fn=fn, oracle=None, bench=True)
        for name, fn in fns.items()
    }
    monkeypatch.setattr(bench, "REGISTRY", registry)
    monkeypatch.setattr(bench, "get_spark", lambda *a, **k: spark)
    # the session fixture must survive bench's own stop() call
    monkeypatch.setattr(spark, "stop", lambda: None)
    code = None
    try:
        bench.main()
    except SystemExit as exc:
        code = exc.code
    captured = capsys.readouterr()
    return code, captured.out, captured.err


def _record(stdout):
    """The record: stdout must hold exactly this one line."""
    lines = stdout.splitlines()
    assert len(lines) == 1, lines
    return json.loads(lines[0])


def _good(s, sf_dir):
    return s.range(10)


def _raising(message):
    def broken(s, sf_dir):
        raise RuntimeError(message)

    return broken


def _recorded_reps(monkeypatch):
    """Wrap bench.run_slot so a test can read every slot's reps."""
    seen: list[list[float]] = []
    real = bench.run_slot

    def spy(run_rep):
        secs = real(run_rep)
        seen.append(secs)
        return secs

    monkeypatch.setattr(bench, "run_slot", spy)
    return seen


def test_bench_prints_one_driver_parseable_line(spark, monkeypatch, capsys):
    """The bench reader parses the LAST line of a ~2,000-character tail
    of the output. Rounds 7-15 printed payloads past that size or extra
    lines after it and the reader got nothing: with 25 slots, 12 of them
    failing with 500-character messages, stdout must still be one JSON
    line under 2,000 characters, and the messages go to stderr only."""
    names = [f"fake_slot_{i:02d}_padded_name" for i in range(25)]
    broken = names[::2][:12]
    messages = {n: f"{n} failed: ".ljust(500, "x") for n in broken}
    fns = {n: _raising(messages[n]) if n in messages else _good for n in names}

    code, out, err = _run(spark, monkeypatch, capsys, fns)

    assert code is None
    record = _record(out)
    assert len(out.rstrip("\n")) <= 2000
    assert READER_KEYS <= record.keys()
    assert record["failed"] == broken
    assert record["n_failed"] == 12
    assert record["value"] is None
    assert record["queries"].keys() == set(names) - set(broken)
    for name, message in messages.items():
        assert len(message) == 500
        assert f"# {name}: ERROR RuntimeError: {message}" in err
        assert message not in out


def test_one_broken_query_does_not_zero_the_bench(spark, monkeypatch, capsys):
    code, out, err = _run(
        spark,
        monkeypatch,
        capsys,
        {"zz_good": _good, "aa_broken": _raising("synthetic loader failure")},
    )

    assert code is None  # must NOT sys.exit (one query green)
    record = _record(out)
    assert record["queries"].keys() == {"zz_good"}
    assert record["failed"] == ["aa_broken"]
    assert "# aa_broken: ERROR RuntimeError: synthetic loader failure" in err
    # a partial total must NOT masquerade as the headline value
    assert record["value"] is None
    assert record["n_failed"] == 1


def test_clean_run_reports_zero_failed(spark, monkeypatch, capsys):
    code, out, err = _run(spark, monkeypatch, capsys, {"only_good": _good})

    assert code is None
    record = _record(out)
    assert record["n_failed"] == 0
    assert record["failed"] == []
    assert "ERROR" not in err
    assert record["value"] == record["queries"]["only_good"]


def test_all_queries_broken_exits_nonzero(spark, monkeypatch, capsys):
    code, out, err = _run(
        spark, monkeypatch, capsys, {"only_broken": _raising("boom")}
    )
    assert code == 1
    # the record is still printed before the non-zero exit
    record = _record(out)
    assert record["queries"] == {}
    assert record["failed"] == ["only_broken"]
    assert "# only_broken: ERROR RuntimeError: boom" in err


class _FakeClock:
    """Deterministic stand-in for time.perf_counter: real wall time
    contributes ZERO (the clock only moves when a query fn advances
    it), so these tests cannot flake under exactly the ambient load
    they are about."""

    def __init__(self) -> None:
        self.t = 0.0

    def perf_counter(self) -> float:
        return self.t


def test_stalled_slot_gets_recovery_reps_and_recovers(spark, monkeypatch, capsys):
    """An ambient stall inflating early reps (the BENCH_r08 poisoning:
    median/min > 2 on two slots) must trigger extra recovery reps; calm
    recovery reps pull the median back to intrinsic cost, so the record
    is NOT flagged contaminated."""
    clock = _FakeClock()
    monkeypatch.setattr(bench.time, "perf_counter", clock.perf_counter)
    reps = _recorded_reps(monkeypatch)
    calls = {"n": 0}

    def stall_then_calm(s, sf_dir):
        calls["n"] += 1
        # call 1 is bench's untimed warm-up pass; timed reps start at 2.
        # Timed reps 1-2 stalled (1.2 virtual s), everything after calm.
        clock.t += 1.2 if 2 <= calls["n"] <= 3 else 0.3
        return s.range(5)

    code, out, err = _run(spark, monkeypatch, capsys, {"stall": stall_then_calm})

    assert code is None
    record = _record(out)
    [secs] = reps
    assert len(secs) == bench.REPS + bench.MAX_EXTRA_REPS  # extras granted
    # median over [s, s, f, f, f] is a calm rep -> recovered, not flagged
    assert statistics.median(secs) / min(secs) <= bench.STALL_RATIO
    assert record["queries"]["stall"] == round(statistics.median(secs), 4)
    assert record["contaminated"] is False
    assert "contamination" not in err
    assert record["loadavg_before"] is not None  # /proc/loadavg on linux


def test_persistent_stall_marks_record_contaminated(spark, monkeypatch, capsys):
    """When the spread stays pathological after every recovery rep, the
    record must say so — a poisoned record that doesn't declare itself
    is exactly how BENCH_r08 shipped."""
    clock = _FakeClock()
    monkeypatch.setattr(bench.time, "perf_counter", clock.perf_counter)
    reps = _recorded_reps(monkeypatch)
    calls = {"n": 0}

    def alternating(s, sf_dir):
        calls["n"] += 1
        # call 1 = warm-up. Even calls stalled -> timed sequence
        # s,f,s then recovery f,s: the median never escapes the stall
        # band, so the flag must fire.
        clock.t += 1.2 if calls["n"] % 2 == 0 else 0.3
        return s.range(5)

    code, out, err = _run(spark, monkeypatch, capsys, {"flaky": alternating})

    assert code is None
    record = _record(out)
    assert record["contaminated"] is True
    assert "contamination survived the recovery reps on ['flaky']" in err
    [secs] = reps
    assert len(secs) == bench.REPS + bench.MAX_EXTRA_REPS
    assert statistics.median(secs) / min(secs) > bench.STALL_RATIO


def test_one_rep_record_says_the_stall_check_did_not_run(spark, monkeypatch, capsys):
    """The stall check compares a slot's reps, so with one rep it cannot
    fire: the record must say ``contaminated: null`` (not run), not a
    clean ``false``."""
    monkeypatch.setattr(bench, "REPS", 1)
    reps = _recorded_reps(monkeypatch)

    code, out, _ = _run(spark, monkeypatch, capsys, {"single": _good})

    assert code is None
    record = _record(out)
    assert [len(secs) for secs in reps] == [1]
    assert record["reps_per_slot"] == 1
    assert record["contaminated"] is None


def test_run_slot_no_extra_reps_when_spread_is_clean():
    """A clean slot must not pay for recovery reps it doesn't need."""
    calls = {"n": 0}

    def calm_rep(i):
        calls["n"] += 1
        return 1.0 + 0.01 * i

    secs = bench.run_slot(calm_rep)
    assert calls["n"] == bench.REPS
    assert len(secs) == bench.REPS
    assert not bench.slot_is_contaminated(secs)


def test_bench_baseline_pin_matches_the_bench_slot_set():
    """bench_baseline.json is the mechanical resolution target for the
    'within 2x of baseline' criterion — its slot set must track the
    actual bench set (every bench=True query + the explicit shared
    index-build slot) or the pin rots into archaeology again."""
    import os

    from llm_enhanced_data_pipeline_spark.queries import REGISTRY

    path = os.path.join(os.path.dirname(bench.__file__), "bench_baseline.json")
    baseline = json.load(open(path))
    expected = {n for n, s in REGISTRY.items() if s.bench}
    expected.add("shared_minhash_index_build")
    assert set(baseline["slots_sec"]) == expected, (
        f"pin drift: missing={expected - set(baseline['slots_sec'])}, "
        f"stale={set(baseline['slots_sec']) - expected}"
    )
    assert all(v > 0 for v in baseline["slots_sec"].values())


def test_shared_minhash_consumer_list_is_tight():
    """The explicit index-build slot is gated on this list; a renamed
    consumer must fail here, not silently re-attach the build cost to
    whichever query runs first. Source introspection keeps the list
    honest in BOTH directions: every registered dedup_q/pipeline_q
    query that touches the shared memo must be listed, and every
    listed name must still be registered."""
    import inspect
    import re

    from llm_enhanced_data_pipeline_spark.queries import REGISTRY, dedup_q, pipeline_q

    for name in dedup_q.SHARED_MINHASH_CONSUMERS:
        assert name in REGISTRY, f"{name} no longer registered"

    # find registered query fns whose source references the shared memo
    callers = set()
    for name, spec in REGISTRY.items():
        mod = inspect.getmodule(spec.fn)
        if mod not in (dedup_q, pipeline_q):
            continue
        src = inspect.getsource(spec.fn)
        if re.search(r"_shared_minhash_(pairs|grouped)", src):
            callers.add(name)
    assert callers == dedup_q.SHARED_MINHASH_CONSUMERS, (
        f"consumer list drift: missing={callers - dedup_q.SHARED_MINHASH_CONSUMERS}, "
        f"stale={dedup_q.SHARED_MINHASH_CONSUMERS - callers}"
    )


def test_bench_force_actually_computes_all_columns(spark):
    """Regression guard for the forcing trap bench.py documents:
    count(xxhash64(cols)) gets optimized to count(*) because the hash
    is non-nullable — silently restoring column pruning — while
    bit_xor(xxhash64(cols)) must keep the hash (and therefore every
    column's computation) in the optimized plan."""
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("expensive")
    )

    def optimized(q):
        return q._jdf.queryExecution().optimizedPlan().toString()

    pruned = optimized(
        df.select(F.count(F.xxhash64("id", "expensive")).alias("n"))
    )
    assert "xxhash64" not in pruned  # the trap: hash optimized away

    kept = optimized(
        df.select(F.bit_xor(F.xxhash64("id", "expensive")).alias("h"))
    )
    assert "xxhash64" in kept and "sha2" in kept  # real work retained


def test_every_sweep_deselect_has_a_slice_twin_in_the_sweep():
    """sweep_sf01.sh's deselect list must not rot into a blind spot
    again (r11 verdict item 3): every deselected gate needs a _sliced
    or _sampled twin registered (twins run IN the sweep), except the
    documented semdedup auto-k pair whose shared twin is
    semdedup_prune_sampled."""
    import os
    import re

    from llm_enhanced_data_pipeline_spark.queries import REGISTRY

    script = open(
        os.path.join(os.path.dirname(bench.__file__), "sweep_sf01.sh")
    ).read()
    body = re.search(r"DESELECT=\(([^)]*)\)", script).group(1)
    deselected = [n for n in body.split() if not n.startswith("#")]
    assert len(deselected) >= 15  # the list genuinely parsed
    twins = {
        "semdedup_prune": "semdedup_prune_sampled",
        "semdedup_prune_autok": "semdedup_prune_sampled",
    }
    missing = []
    for name in deselected:
        candidates = (
            twins.get(name),
            f"{name}_sliced",
            f"{name}_sampled",
        )
        if not any(c in REGISTRY for c in candidates if c):
            missing.append(name)
    assert not missing, f"deselected gates without a sweep twin: {missing}"
    # and every twin must itself be sweep-eligible (not deselected)
    for name in deselected:
        for c in (f"{name}_sliced", f"{name}_sampled"):
            assert c not in deselected

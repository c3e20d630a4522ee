"""Self-tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from perfbench import eventlog, gen, run

ROOT = Path(__file__).resolve().parents[2]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_generators_repeat_per_seed():
    assert gen.make_crawl(5, 60) == gen.make_crawl(5, 60)
    assert gen.make_crawl(5, 60) != gen.make_crawl(6, 60)
    assert gen.make_papers(5, 30) == gen.make_papers(5, 30)
    assert gen.make_corpus(5, 40) == gen.make_corpus(5, 40)
    assert gen.delta_batch(5, 3, 100, 50, 20, 4) == gen.delta_batch(5, 3, 100, 50, 20, 4)
    assert [gen.question_at(5, k, 400) for k in range(50)] == [gen.question_at(5, k, 400) for k in range(50)]


def test_planted_counts_are_consistent():
    for seed in range(5):
        exp = gen.make_crawl(seed, 300)["expected"]
        assert exp["merged"] >= exp["after_title_hash"] > exp["after_similarity"] > exp["final"] > 0
        assert exp["final"] + sum(exp["drop_reasons"].values()) == exp["after_citation_filter"]


def test_delta_batch_mixes_new_and_checkpointed():
    nids = gen.delta_batch(1, 0, done=100, fresh=50, size=30, new=5)
    assert len(set(nids)) == 30
    assert sum(1 for n in nids if n >= 100) == 5


def test_metric_names_and_units_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    names = list(run.END_TO_END) + list(run.PER_LAYER) + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    assert {w["name"] for w in spec["workloads"]} <= set(run.TRACED_OPS)


CANNED_LOG = [
    {"Event": "SparkListenerApplicationStart", "App Name": "x"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "dedup"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Number of Tasks": 2},
     "Properties": {"spark.jobGroup.id": "dedup"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 1500, "Executor CPU Time": 1_000_000_000, "JVM GC Time": 100,
        "Disk Bytes Spilled": 2_000_000,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 3_000_000}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 500, "Shuffle Write Metrics": {"Shuffle Bytes Written": 1_000_000}}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "Number of Tasks": 1},
     "Properties": {"spark.jobGroup.id": "dedup"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
        "Executor Run Time": 250,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 4_000_000}}},
    # a job that reuses stage 1's shuffle output and runs one new stage
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
     "Properties": {"spark.jobGroup.id": "final_build"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2, "Number of Tasks": 1},
     "Properties": {"spark.jobGroup.id": "final_build"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 40}},
    # no job group set
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3, "Number of Tasks": 1}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {"Executor Run Time": 10}},
]


def test_event_log_parser_on_canned_log(tmp_path):
    path = tmp_path / "app-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in CANNED_LOG))
    got = eventlog.summarize_file(str(path))
    assert set(got) == {"dedup", "final_build", "untagged"}
    dedup = got["dedup"]
    assert (dedup["jobs"], dedup["stages"], dedup["tasks"]) == (1, 2, 3)
    assert dedup["executor_run_s"] == 2.25
    assert dedup["executor_cpu_s"] == 1.0
    assert dedup["gc_s"] == 0.1
    assert dedup["spill_mb"] == 2.0
    assert dedup["shuffle_write_mb"] == 4.0
    assert dedup["shuffle_read_mb"] == 4.0
    fb = got["final_build"]
    assert (fb["jobs"], fb["stages"], fb["tasks"], fb["executor_run_s"]) == (1, 1, 1, 0.04)
    assert (got["untagged"]["jobs"], got["untagged"]["stages"], got["untagged"]["tasks"]) == (1, 1, 1)

"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

import gen
import layers
import run
from spans import Span, covered_seconds, jobs_by_span, net_seconds, parse_event_log, totals
from workloads import tail

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


GENERATORS = {
    "coins": lambda root, seed: gen.coin_days(root, seed, 3, coins_per_day=300),
    "docs": lambda root, seed: gen.corpus(os.path.join(root, "documents.parquet"), seed, 200),
    "embeddings": lambda root, seed: gen.embedding_stream(root, seed, 300, 2, 50, 2, 5),
    "events": lambda root, seed: gen.events(os.path.join(root, "events.parquet"), seed, 300),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_seed_reproduces_inputs_byte_for_byte(tmp_path, name):
    make = GENERATORS[name]
    make(str(tmp_path / "a"), 7)
    make(str(tmp_path / "b"), 7)
    make(str(tmp_path / "c"), 8)
    a, b, c = (_digest(str(tmp_path / k)) for k in "abc")
    assert a and a == b
    assert a != c


def test_corpus_plants_the_groups_it_reports(tmp_path):
    import pyarrow.parquet as pq

    info = gen.corpus(str(tmp_path / "documents.parquet"), 3, 400)
    text = dict(zip(*pq.read_table(info["path"], columns=["doc_id", "text"]).to_pydict().values()))
    assert len(text) == 400
    for g in info["exact_groups"]:
        assert len({text[i] for i in g}) == 1
    for g in info["pii_groups"]:
        assert len({text[i] for i in g}) == len(g)  # differ before redaction
    for a, b in info["neardup_pairs"]:
        assert text[a] != text[b]
        assert len(set(text[a].split()) & set(text[b].split())) >= 0.7 * len(set(text[a].split()))
    assert all(len(text[i].split()) < 8 for i in info["junk"])


def test_coin_schedule_reruns_earlier_days(tmp_path):
    info = gen.coin_days(str(tmp_path), 5, 40, coins_per_day=150)
    sched = info["schedule"]
    assert sorted(set(sched)) == list(range(40))
    assert len(sched) > 40  # some days are cleared and re-run
    assert all(sched[i] < sched[i - 1] for i in range(1, len(sched)) if sched[i] in sched[:i])
    for d in info["days"]:
        with open(d["path"]) as f:
            recs = json.load(f)
        assert len(recs) == 150 and max(r["page"] for r in recs) == d["pages"] == 2
        assert len(d["gold"]) == len({r["id"] for r in recs})


def _write_log(path: str) -> None:
    events = [
        {"Event": "SparkListenerExecutorAdded", "Executor Info": {"Total Cores": 4}},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "pb0:a"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 500, "Executor CPU Time": 400_000_000, "JVM GC Time": 20,
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 6,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 250, "Output Metrics": {"Bytes Written": 7}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 11_000},
        # ungrouped job inside span 1's interval (a thread the program started)
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 12_500,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 1000}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 13_500},
        # job outside every span: not attributed
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 99_000, "Stage IDs": []},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 99_500},
    ]
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_event_log_parser_and_attribution(tmp_path):
    p = str(tmp_path / "local-1")
    _write_log(p)
    log = parse_event_log(p)
    assert log.cores == 4
    assert sorted(log.jobs) == [0, 1, 2]
    j0 = log.jobs[0]
    assert (j0.group, j0.start, j0.end) == ("pb0:a", 10.0, 11.0)
    assert j0.counters["stages"] == 2 and j0.counters["tasks"] == 2
    assert j0.counters["executor_run_s"] == pytest.approx(0.75)
    assert j0.counters["executor_cpu_s"] == pytest.approx(0.4)
    assert j0.counters["gc_s"] == pytest.approx(0.02)
    assert j0.counters["shuffle_write_bytes"] == 100
    assert j0.counters["spill_bytes"] == 11
    assert j0.counters["output_bytes"] == 7

    spans = [
        Span("a", "x", 9.5, 11.5, group="pb0:a"),
        Span("b", "x", 12.0, 14.0, group="pb1:b"),
        Span("b.child", "x", 12.2, 13.0, parent=1, group="pb2:b.child"),
    ]
    by_span = jobs_by_span(spans, log)
    assert [j.job_id for j in by_span[0]] == [0]
    assert [j.job_id for j in by_span[2]] == [1]  # innermost span containing the submission
    assert by_span[1] == []
    assert totals([j for js in by_span.values() for j in js])["executor_run_s"] == pytest.approx(1.75)
    assert covered_seconds(spans[0], by_span[0]) == pytest.approx(1.0)
    # clipped to the span: job 1 runs 12.5-13.5 inside span b (12-14)
    assert covered_seconds(spans[1], by_span[2]) == pytest.approx(1.0)


def test_covered_seconds_merges_overlaps():
    from spans import Job

    s = Span("s", "x", 0.0, 10.0)
    jobs = [Job(0, None, 1.0, 3.0), Job(1, None, 2.0, 4.0), Job(2, None, 6.0, 7.0), Job(3, None, 9.5, 12.0)]
    assert covered_seconds(s, jobs) == pytest.approx(3.0 + 1.0 + 0.5)


def test_net_seconds_drops_probe_spans():
    spans = [
        Span("unit", "x", 0.0, 10.0),
        Span("forced", "x", 1.0, 3.0, parent=0, probe=True),
        Span("call", "x", 3.0, 8.0, parent=0),
        Span("catalyst", "x", 3.5, 4.0, parent=2, probe=True),
    ]
    assert net_seconds(spans, 0) == pytest.approx(7.5)
    assert net_seconds(spans, 2) == pytest.approx(4.5)
    assert net_seconds(spans, 1) == pytest.approx(2.0)  # a probe's own time is kept


def test_tail_rule():
    assert tail([1.0, 2.0, 3.0]) == (3.0, 100)  # too few samples: max
    xs = [float(i) for i in range(1, 101)]
    value, pct = tail(xs)
    assert pct == 90 and value == pytest.approx(90.1)
    assert sum(x > value for x in xs) >= 10
    assert tail([float(i) for i in range(25)])[1] == 60


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == [
        (name, unit) for name, unit, *_ in layers.PER_LAYER
    ]
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [w["name"] for w in bench["workloads"]] == list(__import__("workloads").WORKLOADS)

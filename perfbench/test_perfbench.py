"""The benchmark's own tests: input determinism, metric names against
BENCHMARK.json, span and event-log arithmetic, output-check helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pytest

import checks
import gen
import layers
import run
from eventlog import read_jobs
from spans import Span, Tracer, covered, outermost_per_layer, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


# --------------------------------------------------------------------------
# generators
# --------------------------------------------------------------------------
def test_hm_tables_same_seed_same_input_other_seed_other_input():
    a = gen.hm_tables(7, n_transactions=500, n_customers=50, n_articles=40)
    b = gen.hm_tables(7, n_transactions=500, n_customers=50, n_articles=40)
    c = gen.hm_tables(8, n_transactions=500, n_customers=50, n_articles=40)
    assert a == b
    assert a.transactions != c.transactions and a.customers != c.customers


def test_hm_tables_have_both_batches_and_the_planted_cases():
    t = gen.hm_tables(3, n_transactions=2_000, n_customers=100, n_articles=50)
    for table in (t.articles, t.customers, t.transactions, t.images):
        assert {r[1] for r in table} == {gen.STALE_BATCH[0], gen.LATEST_BATCH[0]}
    latest = lambda rows: [json.loads(r[3]) for r in rows  # noqa: E731
                           if r[1] == gen.LATEST_BATCH[0]]
    tx = latest(t.transactions)
    assert len(tx) == 2_000
    rows = [tuple(sorted(r.items())) for r in tx]
    assert len(set(rows)) < len(rows)  # exact duplicates
    assert {r["customer_id"] for r in tx} <= {c["customer_id"] for c in latest(t.customers)}
    assert any(c["Active"] == "" for c in latest(t.customers))
    assert len(latest(t.images)) < len(latest(t.articles))
    dates = {r["t_dat"] for r in tx}
    assert min(dates) < gen.TRAIN_END <= gen.VALID_END <= max(dates)


def test_request_schedule_is_seeded_and_has_exact_unknown_share():
    a = gen.request_schedule(1, 1_000, 5.0, 60)
    assert a == gen.request_schedule(1, 1_000, 5.0, 60)
    assert a != gen.request_schedule(2, 1_000, 5.0, 60)
    assert sum(not r.known for r in a) == 6
    assert all(int(r.user_id) >= 1_000 for r in a if not r.known)
    assert [r.due_s for r in a[:3]] == [0.0, 0.2, 0.4]


def test_expected_recs_are_distinct_and_seeded():
    recs = gen.expected_recs(5, 123, 10)
    assert len(set(recs)) == 10
    assert recs != gen.expected_recs(6, 123, 10)


def test_corpus_is_seeded_with_planted_duplicates():
    a = gen.corpus(4, 400)
    assert a == gen.corpus(4, 400)
    assert a.docs != gen.corpus(5, 400).docs
    assert len(a.dup_of) == 80
    assert sorted(d for d, _, _ in a.docs) == list(range(400))
    texts = {d: t.split() for d, t, _ in a.docs}
    for copy, orig in list(a.dup_of.items())[:10]:
        same = sum(x == y for x, y in zip(texts[copy], texts[orig]))
        assert len(texts[copy]) == len(texts[orig])
        assert same >= 0.9 * len(texts[orig])
    fail_share = 1 - sum(checks.gopher_passes(t) for _, t, _ in a.docs) / 400
    assert 0.25 < fail_share < 0.55


# --------------------------------------------------------------------------
# metric names
# --------------------------------------------------------------------------
def _outcome():
    o = run.Outcome()
    o.op_s = [0.2, 0.3, 0.25]
    o.attempted, o.quality = 3, 1.0
    return o


def test_end_to_end_metric_names_match_benchmark_json():
    names = set(run.end_to_end_metrics(2.0, _outcome(), 100.0))
    assert names == {m["name"] for m in SPEC["end_to_end"]}


def test_per_layer_metric_names_match_benchmark_json():
    names = set(run.trace_metrics([], [], _outcome()))
    assert names == {m["name"] for m in SPEC["per_layer"]}


def test_benchmark_json_workloads_exist():
    assert {w["name"] for w in SPEC["workloads"]} <= set(run.WORKLOADS)


@pytest.mark.parametrize("seconds, timed", [(10.0, 2), (1.0, 1)])
def test_batch_times_operations_while_the_next_one_fits(monkeypatch, seconds, timed):
    clock = [0.0]
    monkeypatch.setattr(run.time, "perf_counter", lambda: clock[0])
    cleared = []

    class FourSeconds(run.Batch):
        def op(self, r, request):
            clock[0] += 4.0
            return request

        def check_op(self, result):
            return [], 1.0

    r = run.Run(1, seconds, "unused")
    r.spark = types.SimpleNamespace(
        catalog=types.SimpleNamespace(clearCache=lambda: cleared.append(1)))
    batch = FourSeconds()
    batch.warm_up(r)
    out = batch.measure(r)
    # the warm-up is not timed; at least one operation is
    assert out.op_s == [4.0] * timed and out.attempted == timed
    assert batch.results == [str(i) for i in range(timed)]
    assert len(cleared) == timed + 1  # every operation starts from an empty cache
    batch.check(out)
    assert out.failed == 0 and out.quality == 1.0


# --------------------------------------------------------------------------
# spans, self time, event log
# --------------------------------------------------------------------------
def _span(i, name, layer, parent, start, end, request="0"):
    return Span(i, name, layer, parent, request, start, end)


def test_covered_counts_overlaps_once_and_clips():
    assert covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert covered([(1, 3), (2, 4)], 2.5, 3.5) == 1
    assert covered([], 0, 1) == 0


def test_self_time_is_span_minus_child_cover():
    spans = [
        _span(1, "op", "op", None, 0.0, 10.0),
        _span(2, "model.grid_search", "model", 1, 1.0, 6.0),
        _span(3, "model.train_als", "model", 2, 2.0, 4.0),
        _span(4, "model.train_als", "model", 2, 3.0, 5.0),  # overlaps 3
        _span(5, "io.kv_export_parquet", "io", 1, 7.0, 9.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 5 - 2)
    assert st[2] == pytest.approx(5 - 3)
    assert st[3] == pytest.approx(2) and st[5] == pytest.approx(2)
    outer = {s.span_id for s in outermost_per_layer(spans)}
    assert outer == {1, 2, 5}


def test_tracer_nests_spans_and_restores_patched_functions():
    class Owner:
        @staticmethod
        def inner(x):
            return x + 1

        @staticmethod
        def outer(x):
            return Owner.inner(x) * 2

    original = Owner.outer
    tracer = Tracer()
    tracer.install([(Owner, "outer", "pipeline"), (Owner, "inner", "model")])
    with tracer.span("op", "op", "r1"):
        assert Owner.outer(1) == 4
    tracer.uninstall()
    assert Owner.outer is original
    op, outer, inner = tracer.spans
    assert (outer.name, outer.parent, outer.request) == ("pipeline.outer", op.span_id, "r1")
    assert (inner.name, inner.parent) == ("model.inner", outer.span_id)
    assert op.start <= outer.start <= inner.start <= inner.end <= outer.end <= op.end


def _write_events(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_event_log_jobs_are_attributed_to_spans_and_layers(tmp_path):
    props = lambda span, ex: {"perfbench.span": str(span),  # noqa: E731
                              "spark.sql.execution.id": str(ex)}
    task = lambda stage, ms, reason="Success": {  # noqa: E731
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Metrics": {"Executor Run Time": ms, "Memory Bytes Spilled": 0,
                         "Disk Bytes Spilled": 1024 * 1024,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 2 * 1024 * 1024},
                         "Input Metrics": {"Records Read": 10}}}
    _write_events(tmp_path / "app-1", [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 2000,
         "Stage IDs": [0, 1], "Properties": props(2, 7)},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}},
        task(0, 500), task(1, 1500, reason="ExceptionFailure"),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 4000},
        # stage 1 is reused (skipped) by job 1
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000,
         "Stage IDs": [1, 2], "Properties": props(3, 8)},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}},
        task(2, 1000),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 6000},
        # a job outside any span is ignored by the per-layer table
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000,
         "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 9500},
    ])
    jobs = read_jobs(str(tmp_path))
    assert [(j.job_id, j.span_id, j.stages_run) for j in jobs] == [
        (0, 2, 2), (1, 3, 1), (2, None, 0)]
    assert jobs[0].task_s == 2.0 and jobs[0].tasks_failed == 1

    spans = [
        _span(1, "op", "op", None, 0.0, 10.0),
        _span(2, "model.train_als", "model", 1, 1.0, 5.0),
        _span(3, "io.point_lookup", "io", 1, 4.5, 6.5),
    ]
    t = layers.per_layer(spans, jobs)
    assert t["model.jobs"] == 1 and t["model.task_s"] == 2.0
    assert t["model.shuffle_write_mb"] == 4.0 and t["model.spill_mb"] == 2.0
    assert t["model.stages_skipped_share"] == 0.0
    assert t["io.stages_skipped_share"] == 0.5
    assert t["io.lookup_jobs"] == 1 and t["io.lookup_rows_read"] == 10
    assert t["model.als_fits"] == 1 and t["model.als_fit_s"] == 4.0
    # jobs cover [2, 4] and [5, 6] of the 10 s op
    assert t["driver.self_s"] == pytest.approx(7.0)
    assert t["model.self_s"] == 4.0 and t["model.wall_s"] == 4.0


# --------------------------------------------------------------------------
# output checks
# --------------------------------------------------------------------------
def test_dedup_quality_counts_one_survivor_per_planted_cluster():
    docs = [(i, "", "web") for i in range(6)]
    corpus = gen.Corpus(docs=docs, dup_of={1: 0, 2: 0, 4: 3})
    kept = {0, 1, 2, 3, 4, 5}
    assert checks.dedup_quality(corpus, kept, {0, 3, 5}) == (1.0, 1.0)
    recall, precision = checks.dedup_quality(corpus, kept, {0, 1, 3})
    assert recall == pytest.approx(2 / 3) and precision == pytest.approx(2 / 3)


def test_gopher_twin_and_chunk_count():
    ok = " ".join(["the"] * 3 + ["word"] * 37)
    assert checks.gopher_passes(ok)
    assert not checks.gopher_passes(" ".join(["word"] * 40))  # no stopwords
    assert not checks.gopher_passes(" ".join(["the"] + ["word"] * 10))
    assert checks.expected_chunks(" ".join(["w"] * 48), 24) == 2
    assert checks.expected_chunks(" ".join(["w"] * 49), 24) == 3


def test_bare_checkout_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_lookup",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""

"""Benchmark for pyspark_recs: one workload per run, seeded inputs,
checked outputs, one JSON result line.

    python3 perfbench/run.py --workload flow_train --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --seed 1      # every workload, untraced and traced

Run it from the repository root. See perfbench/README.md for the
workloads and the metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the program under test

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from eventlog import read_jobs  # noqa: E402
from spans import Tracer  # noqa: E402

# Two Spark task threads on a 4-core host leave the other cores to the
# JVM's scheduler, JIT and GC threads and to this Python process, so a run
# does not contend with itself.
CPUS = "2"
# The session's own default is 8g. With that much room G1 grows the heap
# on its pause-time heuristics, and the peak resident set wandered between
# 3.4 and 4.8 GB over five seeds of flow_train (4 cores, 15 GB host); a
# 2 GB heap keeps the JVM's peak near the program's working set and the
# run small on a shared host.
DRIVER_MEMORY = "2g"
TOP_K = 10

FLOW_SIZE = dict(n_transactions=100_000, n_customers=10_000, n_articles=3_000)
SERVE_USERS = 100_000
SERVE_RATE = 5.0           # requests per second, open loop
SERVE_WORKERS = 4
SERVE_LIMIT_S = 1.0        # a request answered later than this is not ok
CORPUS_DOCS = 2_000
ENVELOPE_COLUMNS = ["etl_timestamp", "etl_id", "event_type", "raw_data"]
CORPUS_STRIDE = 24         # prepare_corpus's default chunk stride


class Run:
    """State of one benchmark run: the session, the scratch directory and
    the tracer (None when the run is untraced)."""

    def __init__(self, seed: int, seconds: float, out_dir: str):
        self.seed = seed
        self.seconds = seconds
        self.out = out_dir
        self.spark = None
        self.tracer: Tracer | None = None

    def start_session(self):
        from pyspark_recs.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def span(self, name: str, layer: str, request: str | None = None):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer, request)

    def op_span(self, request: str):
        return self.span("op", "op", request)


# ---------------------------------------------------------------------------
# Workloads. Each has setup(run), which starts the session and writes the
# inputs, warm_up(run), trace_targets(), measure(run) -> Outcome, which
# runs and times the operations, and check(outcome), which verifies what
# measure produced.
# ---------------------------------------------------------------------------
class Outcome:
    def __init__(self):
        self.op_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.quality = 0.0
        self.queue_ms: list[float] = []
        self.late_ms: list[float] = []

    def fail(self, problem: str) -> None:
        self.failed += 1
        if len(self.problems) < 5:
            self.problems.append(problem)


class Batch:
    """A batch workload: ``warm_ups`` untimed operations, then timed
    operations back to back while the next one is expected to end within
    ``--seconds`` (at least one). Every operation starts from an empty
    Spark cache, so none reuses what an earlier one cached; every timed
    operation's output is checked after the timing ends."""

    warm_ups = 1

    def warm_up(self, run: Run) -> None:
        for i in range(self.warm_ups):
            run.spark.catalog.clearCache()
            self.op(run, f"warm-up-{i}")

    def measure(self, run: Run) -> Outcome:
        out = Outcome()
        self.results = []
        start = time.perf_counter()
        while True:
            run.spark.catalog.clearCache()
            request = str(out.attempted)
            with run.op_span(request):
                t0 = time.perf_counter()
                self.results.append(self.op(run, request))
                op_s = time.perf_counter() - t0
            out.attempted += 1
            out.op_s.append(op_s)
            log(f"operation {request}: {op_s:.2f} s")
            if time.perf_counter() - start + op_s > run.seconds:
                return out

    def check(self, out: Outcome) -> None:
        quality = []
        for result in self.results:
            problems, q = self.check_op(result)
            quality.append(q)
            if problems:
                out.fail("; ".join(problems))
        out.quality = statistics.median(quality)


class FlowTrain(Batch):
    """``run_flow`` with a keyed export, one flow per operation, all on the
    input that set-up wrote. A scheduled training run starts its own
    session, so the flow is timed cold, without a warm-up; a flow takes
    longer than ``--seconds``, so a run times one."""

    warm_ups = 0

    def setup(self, run: Run) -> None:
        from pyspark_recs.io.ingest import read_raw, write_raw

        spark = run.start_session()
        tables = gen.hm_tables(run.seed, **FLOW_SIZE)
        self.out = run.out
        self.raw_dir = os.path.join(run.out, "raw")
        self.raw = {}
        for name in ("articles", "customers", "transactions", "images"):
            path = os.path.join(self.raw_dir, name)
            rows = pd.DataFrame(getattr(tables, name), columns=ENVELOPE_COLUMNS)
            write_raw(spark.createDataFrame(rows), path, mode="overwrite")
            self.raw[name] = read_raw(spark, path)

    def trace_targets(self):
        import pyspark_recs.model.metrics as metrics
        import pyspark_recs.model.retrieval as retrieval
        import pyspark_recs.pipeline as pipeline
        from pyspark_recs.features.categorify import Categorify

        # A name is patched where its caller looks it up: run_flow calls
        # what pipeline imported, grid_search what retrieval and metrics define.
        return [
            (pipeline, "run_flow", "pipeline"),
            (pipeline, "build_dataset", "sql"),
            (Categorify, "fit", "features"),
            (pipeline, "grid_search", "model"),
            (retrieval, "train_als", "model"),
            (pipeline, "recommend_topk", "model"),
            (retrieval, "recommend_topk", "model"),
            (pipeline, "ranking_metrics", "model"),
            (metrics, "ranking_metrics", "model"),
            (pipeline, "predictions_table", "io"),
            (pipeline, "kv_export_parquet", "io"),
        ]

    def op(self, run: Run, request: str):
        import pyspark_recs.pipeline as pipeline

        export = os.path.join(self.out, f"export-{request}")
        result = pipeline.run_flow(
            run.spark, self.raw["articles"], self.raw["customers"],
            self.raw["transactions"], self.raw["images"],
            pipeline.FlowConfig(top_k=TOP_K), export_path=export,
        )
        return result, export

    def check(self, out: Outcome) -> None:
        self.n_users = checks.expected_flow_users(self.raw_dir)
        self.articles = checks.latest_article_ids(self.raw_dir)
        super().check(out)

    def check_op(self, op_result):
        result, export = op_result
        problems = checks.check_flow(result, export, self.n_users, self.articles, TOP_K)
        return problems, result.test_metrics.get(f"recall_at_{TOP_K}", 0.0)


class ServeLookup:
    """Open-loop ``point_lookup`` GETs at SERVE_RATE req/s against a keyed
    table of SERVE_USERS users, served by SERVE_WORKERS threads. Each
    request is timed from its due time, so a stall also delays the
    requests queued behind it."""

    def setup(self, run: Run) -> None:
        from pyspark_recs.io.sinks import kv_export_parquet, predictions_table

        spark = run.start_session()
        self.path = os.path.join(run.out, "kv")
        recs = gen.recs_frame(spark, run.seed, SERVE_USERS, TOP_K)
        kv_export_parquet(predictions_table(recs, k=TOP_K), self.path)

    def warm_up(self, run: Run) -> None:
        from pyspark_recs.io.sinks import point_lookup

        for req in gen.request_schedule(run.seed + 1, SERVE_USERS, SERVE_RATE, 8):
            point_lookup(run.spark, self.path, req.user_id)

    def trace_targets(self):
        import pyspark_recs.io.sinks as sinks

        return [(sinks, "point_lookup", "io")]

    def measure(self, run: Run) -> Outcome:
        import pyspark_recs.io.sinks as sinks

        schedule = gen.request_schedule(
            run.seed, SERVE_USERS, SERVE_RATE, int(SERVE_RATE * run.seconds))
        out = Outcome()
        ok = 0

        def serve(i: int, req: gen.Request, due: float):
            with run.op_span(str(i)):
                start = time.perf_counter()
                answer = sinks.point_lookup(run.spark, self.path, req.user_id)
            return start - due, time.perf_counter() - due, answer

        with ThreadPoolExecutor(max_workers=SERVE_WORKERS) as pool:
            t0 = time.perf_counter() + 0.05
            futures = []
            for i, req in enumerate(schedule):
                due = t0 + req.due_s
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                out.late_ms.append((time.perf_counter() - due) * 1000)
                futures.append((req, pool.submit(serve, i, req, due)))
            for req, fut in futures:
                out.attempted += 1
                try:
                    queue_s, latency_s, answer = fut.result()
                except Exception as exc:  # a failed request is counted, not fatal
                    out.fail(f"{req.user_id}: {exc!r}")
                    continue
                out.queue_ms.append(queue_s * 1000)
                out.op_s.append(latency_s)
                if not checks.check_lookup(answer, req, run.seed, TOP_K):
                    out.fail(f"wrong answer for {req.user_id}: {answer}")
                elif latency_s <= SERVE_LIMIT_S:
                    ok += 1
        out.quality = ok / out.attempted
        return out

    def check(self, out: Outcome) -> None:
        """Every answer was checked as it arrived, in measure."""


class CorpusPrep(Batch):
    """``prepare_corpus`` with the funnel, canonical, chunks and packed
    outputs forced, one corpus run per operation, all on the documents
    that set-up wrote."""

    def setup(self, run: Run) -> None:
        spark = run.start_session()
        self.corpus = gen.corpus(run.seed, CORPUS_DOCS)
        path = os.path.join(run.out, "docs")
        rows = pd.DataFrame(self.corpus.docs, columns=["doc_id", "text", "source"])
        spark.createDataFrame(rows).write.mode("overwrite").parquet(path)
        self.docs = spark.read.parquet(path)

    def trace_targets(self):
        import pyspark_recs.llmops.pipeline as lp

        return [(lp, "prepare_corpus", "llmops")] + [
            (lp, name, "llmops")
            for name in ("gopher_rules", "verified_neardup_edges",
                         "connected_components", "chunk_documents",
                         "pack_sequences")
        ]

    def op(self, run: Run, request: str):
        import pyspark_recs.llmops.pipeline as lp

        result = lp.prepare_corpus(self.docs)
        # The returned frames are lazy; forcing them runs llmops plans.
        with run.span("llmops.outputs", "llmops"):
            funnel = {r.stage: r.n_docs for r in result.funnel.collect()}
            canonical = {r.doc_id for r in result.canonical.select("doc_id").collect()}
            packed = result.packed.count()
        return funnel, canonical, packed

    def check(self, out: Outcome) -> None:
        self.texts = {d: t for d, t, _ in self.corpus.docs}
        self.kept = {d for d, t in self.texts.items() if checks.gopher_passes(t)}
        super().check(out)

    def check_op(self, op_result):
        funnel, canonical, packed = op_result
        texts, kept = self.texts, self.kept
        chunks = sum(checks.expected_chunks(texts[d], CORPUS_STRIDE) for d in canonical)
        expect = {"input": len(texts), "quality_kept": len(kept),
                  "canonical": len(canonical), "chunks": chunks}
        stages = [funnel.get(s, -1) for s in ("input", "quality_kept", "canonical")]
        problems = []
        if funnel != expect or packed != len(canonical) or stages != sorted(stages, reverse=True) \
                or not canonical <= kept:
            problems.append(f"funnel {funnel} packed {packed}, expected {expect}")
        recall, precision = checks.dedup_quality(self.corpus, kept, canonical)
        return problems, 2 * recall * precision / (recall + precision)


WORKLOADS = {
    "flow_train": FlowTrain,
    "serve_lookup": ServeLookup,
    "corpus_prep": CorpusPrep,
}


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------
def end_to_end_metrics(setup_s: float, outcome: Outcome, rss_mb: float) -> dict:
    return {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(outcome.op_s) * 1000,
        "quality": outcome.quality,
        "peak_rss_mb": rss_mb,
    }


def trace_metrics(spans, jobs, outcome: Outcome) -> dict:
    metrics = layers.per_layer(spans, jobs)
    metrics["io.lookup_queue_ms"] = _median(outcome.queue_ms)
    metrics["serve.generator_late_ms"] = _median(outcome.late_ms)
    metrics["trace.op_ms"] = _median(outcome.op_s) * 1000
    return metrics


def _status_kb(pid, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith(field + ":"))


class MemoryProbe:
    """Peak memory of the program: the Spark JVM's peak resident set over
    its life plus what this Python process grew by during the operations.
    The Python process also generated the inputs and checks the outputs
    afterwards; resetting its peak (clear_refs) at the start leaves that
    out."""

    def __init__(self, spark):
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self.base_kb = _status_kb("self", "VmRSS")
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")  # reset VmHWM to the current resident set

    def peak_mb(self) -> float:
        growth_kb = max(0, _status_kb("self", "VmHWM") - self.base_kb)
        return (_status_kb(self.jvm_pid, "VmHWM") + growth_kb) / 1024.0


def configure_env(out: str, trace: bool) -> None:
    """Pin the session's size and keep every file Spark writes inside the
    run's scratch directory."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    conf = [f"spark.sql.warehouse.dir={os.path.join(out, 'warehouse')}",
            "spark.ui.showConsoleProgress=false"]
    if trace:
        events = os.path.join(out, "events")
        os.makedirs(events, exist_ok=True)
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{events}",
                 "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell"


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    out = os.path.abspath(os.path.join(".perfbench_out", f"{name}-{seed}-{os.getpid()}"))
    configure_env(out, trace)
    run = Run(seed, seconds, out)
    workload = WORKLOADS[name]()
    try:
        t0 = time.perf_counter()
        workload.setup(run)  # the first get_spark launches the JVM
        workload.warm_up(run)
        setup_s = time.perf_counter() - t0
        log(f"setup {setup_s:.2f} s")
        if trace:
            run.tracer = Tracer(run.spark.sparkContext)
            run.tracer.install(workload.trace_targets())
        memory = MemoryProbe(run.spark)
        try:
            outcome = workload.measure(run)
        finally:
            if run.tracer is not None:
                run.tracer.uninstall()
        rss = memory.peak_mb()
        log("measured")
        workload.check(outcome)
        run.spark.stop()  # flushes the event log
        result = {
            "correct": outcome.failed == 0,
            "attempted": outcome.attempted,
            "failed": outcome.failed,
        }
        if outcome.problems:
            print("problems: " + " | ".join(outcome.problems), file=sys.stderr)
        if trace:
            run.tracer.write(os.path.join(os.path.dirname(out), f"spans-{name}-{seed}.jsonl"))
            jobs = read_jobs(os.path.join(out, "events"))
            metrics = trace_metrics(run.tracer.spans, jobs, outcome)
        else:
            metrics = end_to_end_metrics(setup_s, outcome, rss)
        units = metric_units()
        result["metrics"] = {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()
        }
        return result
    finally:
        if run.spark is not None:
            run.spark.stop()
            stop_jvm()
        shutil.rmtree(out, ignore_errors=True)


def stop_jvm() -> None:
    """End the Spark JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def metric_units() -> dict[str, str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced then traced, each in its own process;
    prints the end-to-end metrics with units and the tracing overhead.
    Returns 1 if any output was wrong."""
    status = 0
    for name in WORKLOADS:
        results = {}
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", name,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                capture_output=True, text=True, check=False,
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{name}: run failed\n{proc.stderr[-2000:]}")
                return 1
            results[trace] = json.loads(lines[-1])
        untraced, traced = results[0], results[1]
        ok = untraced["correct"] and traced["correct"]
        status |= 0 if ok else 1
        print(f"{name}: correct={ok} attempted={untraced['attempted']} "
              f"failed={untraced['failed']}")
        for k, m in untraced["metrics"].items():
            print(f"  {k:<14} {m['value']:12.4f} {m['unit']}")
        overhead = traced["metrics"]["trace.op_ms"]["value"] - \
            untraced["metrics"]["op_p50_ms"]["value"]
        print(f"  tracing overhead {overhead:+.1f} ms per operation")
        for k, m in traced["metrics"].items():
            if m["value"]:
                print(f"    {k:<32} {m['value']:12.4f} {m['unit']}")
    return status


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=25)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload is None:
        return run_all(args.seed, args.seconds)
    log("start")
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    log("done")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

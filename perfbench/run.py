#!/usr/bin/env python3
"""Benchmark of the conceptnetwork_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload olap_sf01 --seed 1 --seconds 5 --trace 0

Workloads are defined in ``workloads.py``. One Python process drives one
``local[N]`` session (N = min(4, cores)) with one closed-loop client.

``--trace 0`` reports the end-to-end metrics. ``setup_s`` is the registry's
one-time import, timed in a cold first round that launches the JVM, plus
the median of ``WARM_SETUPS`` rounds of ``get_spark`` +
``registry.queries()`` + opening every Catalog table on a restarted
session, run after the workload. ``pass_s`` is the median time of one timed
pass, and ``query_p50_s`` the median time of one query (build plus noop
write; on ``concept_tfrecord``, the TFRecord read-back).
``--trace 1`` turns on the Spark status API, puts every job of an operation
in the operation's job group, registers a StreamingQueryListener, reports
the per-layer metrics and writes the span tree to ``.perfbench/``. Both
print readable lines first (the latency tail, peak memory, failures), then
as the last line one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``.

Exit status: 0 when every output is correct, 1 when one is not, 2 when the
engine or its test data is missing (nothing is printed on stdout then).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)  # the checkout: the engine, its tests and perfbench/
sys.path[:0] = [HERE, ROOT]

import workloads as W  # noqa: E402
from measure import (  # noqa: E402
    PeakRss,
    Trace,
    api_time,
    fetch_jobs,
    fetch_stages,
    percentile,
    tail_percentile,
)

WORKLOADS = (*W.QUERY_WORKLOADS, "concept_tfrecord")
WARM_SETUPS = 3
CORES = min(4, len(os.sched_getaffinity(0)))

MODULE_METRICS = (("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"), ("python_nodes", "count"))
SPARK_METRICS = (
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.tasks_failed", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.core_util", "ratio"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
)
STREAM_METRICS = (
    ("streaming.batches", "count"),
    ("streaming.planning_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"),
    ("streaming.state_commit_ms", "ms"),
    ("streaming.state_rows", "count"),
    ("streaming.state_mem_bytes", "bytes"),
)
PER_LAYER = (
    ("session.start_s", "s"),
    ("registry.load_s", "s"),
    ("catalog.open_s", "s"),
    ("catalog.open_jobs", "count"),
    ("catalog.jobs_per_query", "count"),
    ("query.build_self_s", "s"),
    *((f"{m}.{k}", u) for m in W.MODULES for k, u in MODULE_METRICS),
    *SPARK_METRICS,
    *STREAM_METRICS,
    ("sources.dataprep.run_s", "s"),
    ("sources.dataprep.bytes_per_input_byte", "ratio"),
    ("sources.tfrecord.write_s", "s"),
    ("sources.tfrecord.read_s", "s"),
    ("sources.tfrecord.bytes_per_row", "bytes"),
    ("ml.fit_s", "s"),
    ("trace.pass_s", "s"),
    ("trace.span_coverage", "ratio"),
)
END_TO_END = (("setup_s", "s"), ("pass_s", "s"), ("query_p50_s", "s"))


def prepare_env(root: str, tmp: str, trace: bool) -> None:
    """Environment for the session: Spark's Python workers import the engine
    from ``root``, and every scratch file lands under ``tmp``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # the JVM's own temp files too (-XX:-UsePerfData: no /tmp/hsperfdata_*)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # queries over staged fixture files stage them from the benchmarked sf
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = W.SF_DIR
    if trace:
        os.environ["SPARK_GRAFT_UI"] = "1"
    else:
        os.environ.pop("SPARK_GRAFT_UI", None)


def setup_round(spark, i: int, open_catalog: bool = True):
    """One set-up: ``get_spark`` + ``registry.queries()`` + one open of every
    Catalog table, after stopping ``spark`` if there is one. Returns the new
    session and the round's times."""
    from conceptnetwork_spark import registry
    from conceptnetwork_spark.catalog import TABLES, Catalog
    from conceptnetwork_spark.session import get_spark

    if spark is not None:
        spark.stop()
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    registry.queries()
    t2 = time.perf_counter()
    sc = spark.sparkContext
    sc.setJobGroup(f"setup{i}", "catalog open")
    if open_catalog:
        cat = Catalog(spark, W.SF_DIR)
        for t in TABLES:
            cat.table(t)
    t3 = time.perf_counter()
    sc.setLogLevel("ERROR")
    jobs = len(sc.statusTracker().getJobIdsForGroup(f"setup{i}"))
    return spark, {"session": t1 - t0, "registry": t2 - t1, "catalog": t3 - t2, "jobs": jobs}


def setup_seconds(rounds) -> float:
    """The registry's one-time import (it caches after the cold round) plus
    the median warm round."""
    return rounds[0]["registry"] + median(r["session"] + r["registry"] + r["catalog"] for r in rounds[1:])


def setup_metrics(rounds) -> dict[str, float]:
    warm = rounds[1:]
    return {
        "session.start_s": median(r["session"] for r in warm),
        "registry.load_s": rounds[0]["registry"],
        "catalog.open_s": median(r["catalog"] for r in warm),
        "catalog.open_jobs": median(r["jobs"] for r in warm),
    }


class CatalogSpans:
    """Records every ``Catalog.table`` call as a span, so jobs launched
    inside one are attributed to the catalog layer."""

    def __init__(self):
        from conceptnetwork_spark.catalog import Catalog

        self.spans: list[tuple[float, float]] = []
        self._orig = Catalog.table
        orig, spans = self._orig, self.spans

        def table(cat, name):
            t0 = time.time()
            try:
                return orig(cat, name)
            finally:
                spans.append((t0, time.time()))

        Catalog.table = table

    def close(self) -> None:
        from conceptnetwork_spark.catalog import Catalog

        Catalog.table = self._orig


class StreamProgress:
    """A StreamingQueryListener on the session that keeps every micro-batch's
    progress: its trigger time, phase durations and state-store figures."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.batches: list[dict] = []
        self.running: set[str] = set()
        batches, running = self.batches, self.running

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                running.add(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                batches.append(
                    {
                        "run": str(p.runId),
                        "start": api_time(p.timestamp),
                        "ms": dict(p.durationMs),
                        "state": [(s.numRowsTotal, s.commitTimeMs, s.memoryUsedBytes) for s in p.stateOperators],
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                running.discard(str(event.runId))

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def close(self, timeout: float = 15.0) -> None:
        """Wait until the listener bus has delivered every query's end,
        then unregister."""
        deadline = time.time() + timeout
        time.sleep(0.5)
        while self.running and time.time() < deadline:
            time.sleep(0.1)
        self.spark.streams.removeListener(self.listener)


def stream_metrics(batches: list[dict], passes: list[tuple[float, float]]) -> dict[str, float]:
    """Streaming figures per timed pass, from the micro-batches triggered
    inside one. State rows and memory are those each stream holds after its
    last batch."""
    m = dict.fromkeys((n for n, _ in STREAM_METRICS), 0.0)
    last: dict[str, dict] = {}
    for b in batches:
        if not any(s <= b["start"] <= e for s, e in passes):
            continue
        ms = b["ms"]
        m["streaming.batches"] += 1
        m["streaming.planning_ms"] += ms.get("queryPlanning", 0)
        m["streaming.add_batch_ms"] += ms.get("addBatch", 0)
        m["streaming.wal_commit_ms"] += ms.get("walCommit", 0)
        m["streaming.commit_offsets_ms"] += ms.get("commitOffsets", 0)
        m["streaming.state_commit_ms"] += sum(c for _, c, _ in b["state"])
        last[b["run"]] = b
    m["streaming.state_rows"] = sum(r for b in last.values() for r, _, _ in b["state"])
    m["streaming.state_mem_bytes"] = sum(x for b in last.values() for _, _, x in b["state"])
    return {k: v / len(passes) for k, v in m.items()}


def layer_metrics(spark, out, catalog, progress, py_nodes, trace_path) -> dict[str, float]:
    """Per-layer metrics of a traced run, but for the set-up layers. Spans run > pass > query >
    build/exec > catalog.table > Spark job. A job in an operation's job
    group goes under that operation's query; a job without one (a stream's
    micro-batch runs in the stream's own group) goes under the query whose
    time holds it. Inside the query, time places the job in build, exec or
    a catalog.table call."""
    sc = spark.sparkContext
    jobs = fetch_jobs(sc.uiWebUrl, sc.applicationId)
    stages = fetch_stages(sc.uiWebUrl, sc.applicationId)
    m = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)

    tr = Trace()
    run = tr.add("run", out.passes[0][0], out.passes[-1][1])
    pass_ids, holders, op_spans = [], [], []
    by_group: dict[str, list[int]] = {}
    for p, (s, e) in enumerate(out.passes):
        pid = tr.add("pass", s, e, run, index=p)
        pass_ids.append(pid)
        holders.append(pid)
        for _, op in (x for x in out.ops if x[0] == p):
            qid = tr.add("query", op.start, op.end, pid, query=op.name, layer=op.layer)
            bid = tr.add("build", op.start, op.build_end, qid)
            xid = tr.add("exec", op.build_end, op.end, qid)
            cats = [tr.add("catalog.table", a, b, bid) for a, b in catalog.spans if op.start <= a and b <= op.build_end]
            by_group[W.job_group(p, op.name)] = [qid, bid, xid, *cats]
            holders += [qid, bid, xid, *cats]
            op_spans.append((op, bid, cats))
    for j in jobs:
        parent = tr.innermost(j.start, by_group.get(j.group, holders), slack=0.002)
        if parent is not None:
            tr.add("job", j.start, j.end, parent, job_id=j.job_id, group=j.group, stages=j.stage_ids)
    if progress is not None:
        for b in progress.batches:
            parent = tr.innermost(b["start"], holders)
            if parent is not None:
                tr.add("stream.batch", b["start"], b["start"] + b["ms"].get("triggerExecution", 0) / 1e3, parent, run=b["run"], **b["ms"])
    kids: dict[int | None, list[int]] = {}
    for i, s in enumerate(tr.spans):
        kids.setdefault(s.parent, []).append(i)

    def jobs_under(sid: int) -> list:
        found, todo = [], [sid]
        while todo:
            for c in kids.get(todo.pop(), ()):
                (found if tr.spans[c].name == "job" else todo).append(c)
        return [tr.spans[c] for c in found]

    per_mod: dict[str, dict[str, list]] = {}
    cat_jobs, build_self = [], []
    for op, bid, cats in op_spans:
        b_jobs = jobs_under(bid)
        cat_jobs.append(sum(len(jobs_under(c)) for c in cats))
        build_self.append(tr.self_time(bid))
        d = per_mod.setdefault(op.layer, {"build_s": [], "build_jobs": [], "exec_s": [], "python_nodes": []})
        d["build_s"].append(op.build_end - op.start)
        d["build_jobs"].append(len(b_jobs))
        d["exec_s"].append(op.end - op.build_end)
        d["python_nodes"].append(py_nodes.get(op.name, 0))
    for mod, d in per_mod.items():
        for k, v in d.items():
            if f"{mod}.{k}" in m:
                m[f"{mod}.{k}"] = sum(v) / len(v)
    if cat_jobs:
        m["catalog.jobs_per_query"] = sum(cat_jobs) / len(cat_jobs)
        m["query.build_self_s"] = sum(build_self) / len(build_self)

    # Spark runtime, per pass
    n = len(pass_ids)
    acc: dict[str, float] = {}
    for pid in pass_ids:
        pass_jobs = jobs_under(pid)
        stage_ids = {s for j in pass_jobs for s in j.attrs["stages"] if s in stages}
        acc["spark.jobs"] = acc.get("spark.jobs", 0) + len(pass_jobs)
        acc["spark.stages"] = acc.get("spark.stages", 0) + len(stage_ids)
        for sid in stage_ids:
            for k, v in stages[sid].items():
                acc[k] = acc.get(k, 0) + v
    m["spark.jobs"] = acc.get("spark.jobs", 0) / n
    m["spark.stages"] = acc.get("spark.stages", 0) / n
    m["spark.tasks"] = acc.get("tasks", 0) / n
    m["spark.tasks_failed"] = acc.get("tasks_failed", 0) / n
    m["spark.executor_run_s"] = acc.get("executor_run_ms", 0) / 1e3 / n
    m["spark.executor_cpu_s"] = acc.get("executor_cpu_ns", 0) / 1e9 / n
    m["spark.gc_s"] = acc.get("gc_ms", 0) / 1e3 / n
    m["spark.shuffle_read_bytes"] = acc.get("shuffle_read_bytes", 0) / n
    m["spark.shuffle_write_bytes"] = acc.get("shuffle_write_bytes", 0) / n
    m["spark.spill_bytes"] = (acc.get("mem_spill_bytes", 0) + acc.get("disk_spill_bytes", 0)) / n
    pass_s = [e - s for s, e in out.passes]
    m["spark.core_util"] = m["spark.executor_run_s"] / (median(pass_s) * CORES)
    if progress is not None:
        m.update(stream_metrics(progress.batches, out.passes))

    # concept_tfrecord stages
    stage_metric = {
        "sources.dataprep": "sources.dataprep.run_s",
        "sources.tfrecord.write": "sources.tfrecord.write_s",
        "sources.tfrecord.read": "sources.tfrecord.read_s",
        "ml.fit": "ml.fit_s",
    }
    for layer, name in stage_metric.items():
        v = [op.seconds for op, *_ in op_spans if op.layer == layer]
        if v:
            m[name] = median(v)
    m.update(out.layer)

    m["trace.pass_s"] = median(pass_s)
    m["trace.span_coverage"] = sum(op.seconds for op, *_ in op_spans) / sum(pass_s)
    tr.dump(trace_path)
    return m


def end_to_end(workload: str, out, rounds) -> dict[str, float]:
    ops = [op for _, op in out.ops]
    if workload not in W.QUERY_WORKLOADS:
        # the one query of the chain: reading the training data back
        ops = [op for op in ops if op.layer == "sources.tfrecord.read"]
    return {
        "setup_s": setup_seconds(rounds),
        "pass_s": median(e - s for s, e in out.passes),
        "query_p50_s": median(op.seconds for op in ops),
    }


def report(out, rounds, peak_rss: int) -> list[str]:
    """Readable lines: the figures that are printed but not gated (the
    latency tail, memory, failures, throughput) and where the time went."""
    passes = [e - s for s, e in out.passes]
    lat = [op.seconds for _, op in out.ops]
    p_tail = tail_percentile(len(lat))
    label = "max" if p_tail == 100 else f"p{p_tail:g}"
    warm = [r["session"] + r["registry"] + r["catalog"] for r in rounds[1:]]
    cold = rounds[0]
    failed = len(out.failures)
    lines = [
        f"passes {' '.join(f'{p:.2f}' for p in passes)} s",
        f"cold set-up: session {cold['session']:.2f} s, registry {cold['registry']:.3f} s;"
        f" warm set-ups {' '.join(f'{s:.2f}' for s in warm)} s",
        f"phases: {out.notes['phases']}",
        f"query_tail_s {percentile(lat, p_tail):.6g} s ({label} of {len(lat)} operations over {len(passes)} passes)",
        f"peak_rss_mb {peak_rss / 2**20:.1f} MB",
        f"failed_ratio {failed / out.attempted:.6g} ({failed} of {out.attempted} operations)",
    ]
    if "valid_rows" in out.notes:
        lines.append(f"rows_per_s {out.notes['valid_rows'] / median(passes):.1f} ({out.notes['valid_rows']} valid input rows)")
    return lines


def main(argv: list[str] | None = None) -> int:
    # a SIGTERM unwinds through the finally blocks, which stop Spark and
    # remove the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    needed = (os.path.join(ROOT, "conceptnetwork_spark", "session.py"), os.path.join(ROOT, "tests", "oracle_utils.py"), W.SF_DIR)
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        print(f"perfbench: cannot run, missing {missing}; run from the root of a checkout", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="tmp-", dir=out_dir)
    prepare_env(ROOT, tmp, bool(args.trace))
    spark = catalog = progress = None
    try:
        with PeakRss() as rss:
            # the cold round only launches the JVM and imports the registry:
            # the checking pass opens the tables its queries read
            spark, cold = setup_round(None, 0, open_catalog=False)
            rounds = [cold]
            if args.trace:
                catalog, progress = CatalogSpans(), StreamProgress(spark)
            if args.workload in W.QUERY_WORKLOADS:
                runner = W.QueryRunner(spark, args.workload, args.seed, bool(args.trace))
            else:
                runner = W.ConceptRunner(spark, args.seed, tmp, bool(args.trace))
            out = runner.run(args.seconds)
        if args.trace:
            progress.close()
            catalog.close()
            trace_path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl")
            metrics = layer_metrics(spark, out, catalog, progress, getattr(runner, "py_nodes", {}), trace_path)
        # The warm set-ups come last, on a JVM the workload has warmed up:
        # restarting the session ends the status API's record of the run.
        for i in range(1, 1 + WARM_SETUPS):
            spark, r = setup_round(spark, i)
            rounds.append(r)
        if args.trace:
            metrics.update(setup_metrics(rounds))
            units = dict(PER_LAYER)
            metrics = {k: metrics[k] for k in units}
        else:
            metrics = end_to_end(args.workload, out, rounds)
            units = dict(END_TO_END)
    finally:
        if catalog is not None:
            catalog.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    for line in report(out, rounds, rss.peak):
        print(line)
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    failed = len(out.failures)
    result = {
        "correct": failed == 0,
        "attempted": out.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark of the oplog-style transcript analytics engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 10 --trace 0

Workloads: ``pipeline_batch`` and ``query_battery`` (see
``BENCHMARK.json`` and ``perfbench/DESIGN.md``).  ``--trace 0`` measures the
end-to-end metrics.  ``--trace 1`` reports the per-layer metrics: it runs the
workload in a session launched with the Spark event log, which is attached
only for one warm traced operation and the layer decomposition.  The last
line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before it
name every figure with its unit and the host facts.  All inputs are made
from ``--seed``; everything is written under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics: name -> unit.  ``wall_s``, ``work_per_s`` and
#: ``cpu_s`` are, per workload, pipeline_wall_s, pipeline_turns_per_s and
#: pipeline_cpu_s, or battery_wall_s, 1 / battery_geomean_s and
#: battery_cpu_s
END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "wall_s": "s", "work_per_s": "1/s", "cpu_s": "s"}

#: per-layer metrics of the traced run: name -> unit.  A layer the workload
#: never calls reports 0.
PER_LAYER = {
    "sources.tables.scan_s": "s",
    "operators.parse.regex_s": "s",
    "operators.parse.diff_stats_s": "s",
    "operators.parse.python_total_s": "s",
    "operators.parse.python_boot_s": "s",
    "operators.parse.python_init_s": "s",
    "operators.parse.python_sent_mb": "MB",
    "operators.parse.python_recv_mb": "MB",
    "operators.unwind_s": "s",
    "sources.sinks.route_s": "s",
    "sources.sinks.write_s": "s",
    "sources.sinks.bytes_written_mb": "MB",
    "sources.sinks.files_written": "count",
    "sources.sinks.readback_agg_s": "s",
    "sources.sinks.readback_shuffle_mb": "MB",
    "sources.sinks.readback_hash_peak_mb": "MB",
    "plans.pipeline.batch_wall_s": "s",
    "plans.pipeline.overhead_s": "s",
    "plans.pipeline.rows_in": "count",
    "plans.pipeline.rows_out": "count",
    "pipeline.unattributed_s": "s",
    "streaming.tail.drain_s": "s",
    "streaming.tail.report_s": "s",
    "streaming.tail.triggers": "count",
    "streaming.tail.add_batch_s": "s",
    "streaming.tail.planning_s": "s",
    "streaming.tail.wal_commit_s": "s",
    "streaming.tail.query_start_s": "s",
    "streaming.tail.partial_files": "count",
}


def _per_layer_units() -> dict[str, str]:
    from perfbench.workloads import BATTERY_QUERIES

    units = dict(PER_LAYER)
    units.update({f"entry_queries.{q}_s": "s" for q in BATTERY_QUERIES})
    units.update({
        "spark.cpu_s": "s", "spark.gc_s": "s", "spark.spill_mb": "MB",
        "spark.shuffle_write_mb": "MB", "trace.overhead_frac": "frac",
    })
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and fix the
    timezone the collected timestamps are rendered in."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM's temp files (native libraries it unpacks) and no perf-data
    # file under /tmp; heap and GC settings stay the engine's
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["TZ"] = "UTC"
    time.tzset()


def _emit(label: str, value, unit: str) -> None:
    text = f"{value:.6g}" if isinstance(value, float) else str(value)
    print(f"{label:40s} {text:>16} {unit}")


def run_untraced(run, workload) -> dict:
    from perfbench.harness import Session

    session = Session()
    run.cpu = session.cpu_seconds
    try:
        run.log(f"session up in {session.setup_s:.1f}s")
        workload.prepare(run, session.spark)
        run.log("inputs and references ready")
        e2e = workload.measure(run, session.spark)
        run.log("measured")
        facts = session.facts()
        rss = session.peak_rss_mb()
    finally:
        session.stop()
        run.log("session stopped")
    return {
        "facts": facts,
        "named": e2e["named"],
        "metrics": {
            "setup_s": session.setup_s,
            "peak_rss_mb": rss,
            "wall_s": e2e["wall_s"],
            "work_per_s": e2e["work_per_s"],
            "cpu_s": e2e["cpu_s"],
        },
    }


def run_traced(run, workload) -> dict:
    """One session launched with the event log on.  The event logger is
    attached only for one warm traced operation and the layer
    decomposition."""
    from perfbench import trace as T
    from perfbench.harness import Session

    log_dir = run.path("eventlog")
    spans = T.Spans()
    session = Session(event_log_dir=log_dir)
    run.cpu = session.cpu_seconds
    try:
        run.log(f"session up in {session.setup_s:.1f}s")
        session.pause_event_log()
        workload.prepare(run, session.spark)
        run.log("inputs and references ready")
        base = workload.measure(run, session.spark)
        facts = session.facts()
        # warm operations untraced, traced, untraced: the overhead compares
        # the traced one with the mean of its neighbours, which cancels the
        # warm-up still going on between them
        before = workload.measure(run, session.spark, max_ops=1)
        session.resume_event_log()
        traced = workload.measure(run, session.spark, spans, max_ops=1)
        session.pause_event_log()
        after = workload.measure(run, session.spark, max_ops=1)
        run.log("measured untraced, traced, untraced")
        session.resume_event_log()
        layers = workload.layers(run, session.spark, spans, traced)
        run.log("layers measured")
    finally:
        session.stop()
        run.log("session stopped")
    stages = T.read_stages(log_dir)
    measured = {"pipeline_batch": "pipeline", "query_battery": "query."}[workload.name]
    tot = T.stage_totals(stages, spans.windows(measured))
    layers.update({
        "spark.cpu_s": tot["cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1e3,
        "spark.spill_mb": (tot["spill_mem_bytes"] + tot["spill_disk_bytes"]) / 2**20,
        "spark.shuffle_write_mb": tot["shuffle_write_bytes"] / 2**20,
        "trace.overhead_frac": traced["wall_s"] / ((before["wall_s"] + after["wall_s"]) / 2) - 1.0,
    })
    if workload.name == "pipeline_batch":
        py = T.stage_totals(stages, workload.python_windows)
        layers.update({
            "operators.parse.python_total_s": py["python_total_ms"] / 1e3,
            "operators.parse.python_boot_s": py["python_boot_ms"] / 1e3,
            "operators.parse.python_init_s": py["python_init_ms"] / 1e3,
            "operators.parse.python_sent_mb": py["python_sent_bytes"] / 2**20,
            "operators.parse.python_recv_mb": py["python_recv_bytes"] / 2**20,
        })
    units = _per_layer_units()
    values = {name: 0.0 for name in units}
    values.update(layers)
    named = dict(base["named"])
    for tag, res in (("warm", before), ("traced", traced), ("warm_after", after)):
        named.update({f"{tag}.{k}": v for k, v in res["named"].items()})
    named.update(getattr(workload, "tail_named", {}))
    return {"facts": facts, "named": named, "metrics": values, "units": units}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "oplog_analyzer_spark")):
        print(f"perfbench: engine package oplog_analyzer_spark not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    run = harness.Run(work, args.seed, args.seconds)
    workload = WORKLOADS[args.workload]()
    try:
        if args.trace:
            result = run_traced(run, workload)
            units = result["units"]
        else:
            result = run_untraced(run, workload)
            units = END_TO_END
    finally:
        run.duck.close()
        shutil.rmtree(work, ignore_errors=True)

    facts = dict(harness.host_facts(ROOT), **result["facts"])
    facts.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace)
    print("host " + json.dumps(facts, sort_keys=True))
    for label, (value, unit) in result["named"].items():
        _emit(label, value, unit)
    failed_frac = run.failed / run.attempted if run.attempted else 1.0
    _emit("failed_ops_frac", failed_frac, "frac")
    for name, value in result["metrics"].items():
        _emit(name, float(value), units[name])
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

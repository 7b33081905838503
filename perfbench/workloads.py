"""The workloads, each driven only through the engine's public API.

Every workload is a class with ``prepare`` (inputs and references, untimed),
``measure`` (the timed closed loop, returning the end-to-end figures) and
``layers`` (the traced decomposition, run after ``measure`` with the event
log attached).  ``measure`` repeats the workload's operation until
``--seconds`` have passed; every operation is checked and counts toward
attempted/failed.
"""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from . import checks, inputs, stats
from . import trace as T

#: the headline queries the battery times, in the order it runs them: the
#: A-family aggregate, explode + fan_out, minhash dedup, packing, graph,
#: semdedup and dsir.  The other fifteen headline queries do not fit the
#: per-run time budget.
BATTERY_QUERIES = (
    "a1_ns_op_report x1_word_explode dedup_minhash_lsh sequence_packing "
    "dedup_cc_clusters semdedup dsir_select"
).split()
#: battery queries without a DuckDB oracle: in the traced run the traced
#: pass must reproduce the untraced pass's row count and fingerprint
UNORACLED = ("dedup_minhash_lsh", "sequence_packing", "dsir_select")

PIPELINE_TURNS = 60_000
PIPELINE_FILES = 12
PIPELINE_BATCHES = 3
TAIL_INCREMENTS = 4
TAIL_FILES_PER_INCREMENT = 2
TAIL_BUCKETS = (1000, 10000)
BATTERY_SF = 0.02


def _timed_loop(run, op, max_ops: int | None = None) -> None:
    """Call ``op(1)``, ``op(2)``, ... until ``run.seconds`` have passed (at
    least one call, at most ``max_ops``)."""
    deadline = time.perf_counter() + run.seconds
    i = 1
    while (i == 1 or time.perf_counter() < deadline) and (max_ops is None or i <= max_ops):
        op(i)
        i += 1


@pandas_udf(LongType())
def _plus_one(v: pd.Series) -> pd.Series:
    return v + 1


def _warm_session(spark) -> None:
    """Warm what every operation shares -- the JIT on Spark's scan,
    aggregate and shuffle paths, and the Python workers -- without running
    the engine's code, so that the operation's own first run is what gets
    timed.  Without it, when the JIT catches up varies by several seconds
    from run to run."""
    df = spark.range(0, 400_000, 1, 8).select(
        (F.col("id") % 97).alias("k"), F.col("id").cast("string").alias("s")
    )
    df.groupBy("k").agg(F.count(F.lit(1)), F.max("s")).collect()
    df.select(F.sum(_plus_one("k"))).collect()


def _drop(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class PipelineBatch:
    """``TranscriptPipeline.run(input_path=…)`` + ``final_aggregates()``."""

    name = "pipeline_batch"

    def prepare(self, run, spark) -> None:
        from oplog_analyzer_spark.transcripts import tool_catalog

        self.corpus = run.path("corpus")
        self.files = inputs.write_corpus(spark, self.corpus, run.seed, PIPELINE_TURNS, PIPELINE_FILES)
        run.log("corpus written")
        self.turns = sum(pq.ParquetFile(f).metadata.num_rows for f in self.files)
        self.catalog = tool_catalog(spark)
        cat = [(r["tool"], r["category"]) for r in self.catalog.collect()]
        self.reference = checks.pipeline_reference(run.duck, self.files, cat)
        _warm_session(spark)

    def _op(self, run, spark, i: int, spans) -> dict | None:
        from oplog_analyzer_spark.plans.pipeline import TranscriptPipeline

        work = run.path(f"pipeline_{i}")

        def op():
            c0 = run.cpu()
            e0 = time.time()
            t0 = time.perf_counter()
            p = TranscriptPipeline(spark, work, self.catalog, num_batches=PIPELINE_BATCHES)
            state = p.run(input_path=self.corpus)
            t1 = time.perf_counter()
            agg = p.final_aggregates()
            rows = agg.collect()
            t2 = time.perf_counter()
            cpu = run.cpu() - c0
            done = state["completed"].values()
            out = {
                "wall_s": t2 - t0,
                "cpu_s": cpu,
                "final_s": t2 - t1,
                "batch_wall_s": sum(b["wall_sec"] for b in done),
                "rows_in": sum(b["rows_in"] for b in done),
                "rows_out": sum(b["rows_out"] for b in done),
            }
            if spans is not None:
                spans.add("pipeline", e0, t2 - t0)
            mismatch = checks.compare(checks.from_spark(rows, agg.columns), self.reference)
            routed = p.routed().count()
            if mismatch is None and routed != out["rows_out"]:
                mismatch = f"routed rows {routed} != sum of rows_out {out['rows_out']}"
            if mismatch is None and out["rows_in"] != self.turns:
                mismatch = f"rows_in {out['rows_in']} != input turns {self.turns}"
            return out, mismatch

        try:
            return run.attempt(self.name, op)
        finally:
            _drop(work)

    def measure(self, run, spark, spans=None, max_ops: int | None = None) -> dict:
        """Timed runs until ``run.seconds`` have passed.  The first run of a
        session pays its own planning, code generation and JIT."""
        walls: list[dict] = []

        def one(i: int) -> None:
            r = self._op(run, spark, i, spans)
            run.log(f"pipeline run {i}: {r and round(r['wall_s'], 2)}s")
            if r is not None:
                walls.append(r)

        _timed_loop(run, one, max_ops)
        if not walls:
            raise RuntimeError("no pipeline run succeeded")
        wall = stats.median([w["wall_s"] for w in walls])
        return {
            "ops": walls,
            "wall_s": wall,
            "cpu_s": stats.median([w["cpu_s"] for w in walls]),
            "work_per_s": self.turns / wall,
            "named": {
                "pipeline_wall_s": (wall, "s"),
                "pipeline_cpu_s": (stats.median([w["cpu_s"] for w in walls]), "s"),
                "pipeline_turns_per_s": (self.turns / wall, "turns/s"),
                "pipeline_turns": (self.turns, "count"),
                "pipeline_runs": (len(walls), "count"),
            },
        }

    def layers(self, run, spark, spans, traced: dict) -> dict:
        """Cumulative noop-sink prefixes over the whole corpus, then the
        real sink write and the read-back aggregate on their own; the gap
        to the ``traced`` measurement's wall is ``pipeline.unattributed_s``."""
        from oplog_analyzer_spark.operators.filters import exclude_system_namespaces
        from oplog_analyzer_spark.operators.parse import parse_transcripts, unwind_applyops
        from oplog_analyzer_spark.sources.sinks import (
            per_sink_aggregates, route_categories, write_routed,
        )

        cat = self.catalog
        inp = spark.read.parquet(self.corpus)
        prefixes = [
            ("scan", lambda: inp),
            ("parse_regex", lambda: parse_transcripts(inp, with_diff_stats=False)),
            ("parse_diff", lambda: parse_transcripts(inp)),
            ("unwind", lambda: unwind_applyops(exclude_system_namespaces(parse_transcripts(inp)))),
            ("route", lambda: route_categories(
                unwind_applyops(exclude_system_namespaces(parse_transcripts(inp))), cat)),
        ]
        cum = {}
        for name, build in prefixes:
            df = build()
            for _ in range(2):  # the faster of two runs: single runs of these short jobs are noisy
                with spans.span("layer." + name):
                    df.write.format("noop").mode("overwrite").save()
            cum[name] = min(spans.seconds("layer." + name))
        sink = run.path("layers_sink")
        routed = prefixes[-1][1]()
        with spans.span("layer.write"):
            write_routed(routed, sink)
        cum["write"] = spans.seconds("layer.write")[-1]
        agg = per_sink_aggregates(spark.read.parquet(sink))
        with spans.span("layer.readback"):
            agg.collect()
        readback = spans.seconds("layer.readback")[-1]
        nodes = T.plan_nodes(agg)
        files, size = T.dir_files(sink)
        _drop(sink)

        timed = traced["ops"]
        med = {k: stats.median([w[k] for w in timed]) for k in ("wall_s", "batch_wall_s", "final_s")}
        overhead = med["wall_s"] - med["batch_wall_s"] - med["final_s"]
        layer_s = {
            "sources.tables.scan_s": cum["scan"],
            "operators.parse.regex_s": cum["parse_regex"] - cum["scan"],
            "operators.parse.diff_stats_s": cum["parse_diff"] - cum["parse_regex"],
            "operators.unwind_s": cum["unwind"] - cum["parse_diff"],
            "sources.sinks.route_s": cum["route"] - cum["unwind"],
            "sources.sinks.write_s": cum["write"] - cum["route"],
            "sources.sinks.readback_agg_s": readback,
            "plans.pipeline.overhead_s": overhead,
        }
        out = dict(layer_s)
        out["pipeline.unattributed_s"] = med["wall_s"] - sum(layer_s.values())
        out.update({
            "sources.sinks.bytes_written_mb": size / 2**20,
            "sources.sinks.files_written": files,
            "sources.sinks.readback_shuffle_mb": T.sum_metric(nodes, "ShuffleExchange", "shuffleBytesWritten") / 2**20,
            "sources.sinks.readback_hash_peak_mb": T.max_metric(nodes, "HashAggregate", "peakMemory") / 2**20,
            "plans.pipeline.batch_wall_s": med["batch_wall_s"],
            "plans.pipeline.rows_in": timed[-1]["rows_in"],
            "plans.pipeline.rows_out": timed[-1]["rows_out"],
        })
        # python metrics of the diff_stats prefix come from its stages
        self.python_windows = [spans.fastest("layer.parse_diff")]
        listener = T.ProgressListener()
        spark.streams.addListener(listener)
        tail = TailLayers()
        out.update(tail.measure(run, spark, self.files, listener))
        self.tail_named = tail.named
        return out


class TailLayers:
    """The tail's layers, measured in ``pipeline_batch``'s traced run.

    Closed loop, one producer: each increment renames a few corpus files
    into the tail's input directory, drains them with ``run_available`` and
    collects ``report()`` on one persistent work_dir.  ``report()`` must
    equal a DuckDB batch aggregate over the files landed so far."""

    def measure(self, run, spark, files: list[str], listener) -> dict:
        from oplog_analyzer_spark.streaming.tail import TailStream

        stage, inbox, work = (run.path(f"tail_{d}") for d in ("stage", "in", "work"))
        os.makedirs(stage)
        os.makedirs(inbox)
        increments = []
        for j in range(0, min(len(files), TAIL_FILES_PER_INCREMENT * TAIL_INCREMENTS), TAIL_FILES_PER_INCREMENT):
            names = []
            for f in files[j : j + TAIL_FILES_PER_INCREMENT]:
                names.append(os.path.basename(f))
                shutil.copyfile(f, os.path.join(stage, names[-1]))
            increments.append(names)
        tail = TailStream(spark, inbox, work, buckets=TAIL_BUCKETS, id_stats=True)
        landed: list[str] = []
        timed: list[dict] = []
        for i, names in enumerate(increments):
            turns = sum(pq.ParquetFile(os.path.join(stage, n)).metadata.num_rows for n in names)

            def op():
                t0 = time.perf_counter()
                for n in names:
                    os.rename(os.path.join(stage, n), os.path.join(inbox, n))
                tail.run_available()
                t1 = time.perf_counter()
                report = tail.report()
                rows = report.collect()
                t2 = time.perf_counter()
                landed.extend(os.path.join(inbox, n) for n in names)
                want = checks.tail_reference(run.duck, landed, TAIL_BUCKETS)
                mismatch = checks.compare(checks.from_spark(rows, report.columns), want)
                return {"latency_s": t2 - t0, "drain_s": t1 - t0, "report_s": t2 - t1, "turns": turns}, mismatch

            r = run.attempt("tail_increment", op)
            if r is not None and i:  # increment 0 is the warm one
                timed.append(r)
        if not timed:
            raise RuntimeError("no tail increment succeeded")
        listener.wait_terminated(len(increments))
        per_run = listener.runs()[-len(timed):]

        def med(key: str) -> float:
            return stats.median([
                sum(p["durations_ms"].get(key, 0) for p in prog) / 1000.0 for prog in per_run
            ])

        drain = [t["drain_s"] for t in timed]
        trig = [sum(p["durations_ms"].get("triggerExecution", 0) for p in prog) / 1000.0 for prog in per_run]
        partials = sum(T.dir_files(os.path.join(work, d))[0] for d in ("partials", "id_partials", "metrics"))
        lat = [t["latency_s"] for t in timed]
        self.named = {
            "tail_latency_p50_s": (stats.median(lat), "s"),
            "tail_turns_per_s": (sum(t["turns"] for t in timed) / sum(lat), "turns/s"),
            "tail_increments": (len(timed), "count"),
        }
        p = stats.supported_percentile(len(lat))
        if p is not None:
            self.named[f"tail_latency_p{p:g}_s"] = (stats.percentile(lat, p), "s")
        return {
            "streaming.tail.drain_s": stats.median(drain),
            "streaming.tail.report_s": stats.median([t["report_s"] for t in timed]),
            "streaming.tail.triggers": sum(len(prog) for prog in per_run),
            "streaming.tail.add_batch_s": med("addBatch"),
            "streaming.tail.planning_s": med("queryPlanning"),
            "streaming.tail.wal_commit_s": med("walCommit") + med("commitOffsets"),
            "streaming.tail.query_start_s": stats.median([d - t for d, t in zip(drain, trig)]),
            "streaming.tail.partial_files": partials,
        }


class QueryBattery:
    """``BATTERY_QUERIES`` over seeded battery tables, each collected once
    per pass, ``clearCache()`` between queries."""

    name = "query_battery"

    def prepare(self, run, spark) -> None:
        from oplog_analyzer_spark.entry_queries import all_oracles

        self.tables = run.path("battery")
        inputs.write_battery_tables(self.tables, run.seed, BATTERY_SF)
        run.log("battery tables written")
        for t in inputs.BATTERY_TABLES:
            run.duck.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.tables, t + '.parquet')}')"
            )
        oracles = all_oracles()
        self.oracle = {
            q: checks.fetch(run.duck, oracles[q]) for q in BATTERY_QUERIES if q not in UNORACLED
        }
        self.pins: dict[str, tuple[int, str]] = {}
        _warm_session(spark)

    def measure(self, run, spark, spans=None, max_ops: int | None = None) -> dict:
        """Timed passes until ``run.seconds`` have passed (at least one).
        The first pass of a session is cold for the queries themselves: each
        pays its own planning, code generation and JIT on first run."""
        from oplog_analyzer_spark.entry_queries import all_queries

        queries = all_queries()
        walls: dict[str, list[float]] = {q: [] for q in BATTERY_QUERIES}
        cpus: list[float] = []
        pins = self.pins

        def collect(q: str) -> None:
            def op():
                spark.catalog.clearCache()
                e0 = time.time()
                t0 = time.perf_counter()
                df = queries[q](spark, self.tables)
                rows = df.collect()
                wall = time.perf_counter() - t0
                if spans is not None:
                    spans.add("query." + q, e0, wall)
                got = checks.from_spark(rows, df.columns)
                if q in self.oracle:
                    return wall, checks.compare(got, self.oracle[q])
                fp = pins.setdefault(q, checks.fingerprint(got))
                if fp[0] == 0:
                    return wall, "no rows"
                return wall, None if checks.fingerprint(got) == fp else f"fingerprint != first run {fp}"

            wall = run.attempt(f"{self.name}.{q}", op)
            run.log(f"{q}: {wall and round(wall, 2)}s")
            if wall is not None:
                walls[q].append(wall)

        def one_pass(i: int) -> None:
            c0 = run.cpu()
            for q in BATTERY_QUERIES:
                collect(q)
            cpus.append(run.cpu() - c0)

        _timed_loop(run, one_pass, max_ops)
        if any(not w for w in walls.values()):
            raise RuntimeError("a battery query never succeeded")
        per_query = {q: stats.median(w) for q, w in walls.items()}
        total = sum(per_query.values())
        gm = stats.geomean(list(per_query.values()))
        return {
            "per_query": per_query,
            "wall_s": total,
            "cpu_s": stats.median(cpus),
            "work_per_s": 1.0 / gm,
            "named": {
                "battery_wall_s": (total, "s"),
                "battery_geomean_s": (gm, "s"),
                "battery_cpu_s": (stats.median(cpus), "s"),
                "battery_passes": (len(walls[BATTERY_QUERIES[0]]), "count"),
            },
        }

    def layers(self, run, spark, spans, traced: dict) -> dict:
        return {f"entry_queries.{q}_s": s for q, s in traced["per_query"].items()}


WORKLOADS = {w.name: w for w in (PipelineBatch, QueryBattery)}

"""Spans around layer calls, Spark engine counters, and the layer tour.

Spans are recorded by the benchmark around its calls into the program's
public functions; the program itself is not instrumented. Engine counters
come from the Spark UI's REST API on localhost, read once at the end of a
traced run: every job, stage and SQL execution is attributed to the
innermost span whose interval holds its submission time.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql import Observation
from pyspark.sql import functions as F

from commerce_logs_pipeline_spark.functions.parse import parse_transcripts
from commerce_logs_pipeline_spark.operators.router import (
    compact_routed,
    read_conversation,
    read_routed,
    with_partition_cols,
    write_sinks_single_pass,
)
from commerce_logs_pipeline_spark.plans import aggregate
from commerce_logs_pipeline_spark.plans.checkpoint import (
    ManifestStore,
    completion_events,
)
from commerce_logs_pipeline_spark.plans.enrich import enrich_with_default_dims
from commerce_logs_pipeline_spark.schemas import CATEGORIES
from commerce_logs_pipeline_spark.util import (
    ensure_min_partitions,
    estimated_scan_partitions,
)

# Columns pass 2 of plans.pipeline reads back from the routed run dir.
SLIM_COLS = ["conv_id", "turn_idx", "role", "ts", "category", "tool_name",
             "tool_status", "tool_latency_ms", "day", "bucket"]
AGGREGATES = {
    "conv_turn_counts": aggregate.conv_turn_counts,
    "tool_rates": aggregate.per_tool_call_rates,
    "hourly_errors": aggregate.hourly_error_rollup,
}


class Tracer:
    """In-memory span recorder; ``enabled=False`` records nothing."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, rep=None):
        rec = {"name": name, "workload": self.workload, "rep": rep}
        if not self.enabled:
            yield rec
            return
        rec.update(id=len(self.spans),
                   parent=self._stack[-1] if self._stack else None,
                   start=time.time(), end=None)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def innermost(self, t: float) -> dict | None:
        best = None
        for s in self.spans:
            if s["start"] <= t <= s["end"]:
                best = s  # later spans nest inside earlier ones
        return best


def duration(span: dict) -> float:
    return span["end"] - span["start"]


# ---------------------------------------------------------------------------
# Spark REST API (localhost UI of this run's driver)
# ---------------------------------------------------------------------------
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_STAGE_SUMS = ("numCompleteTasks", "executorRunTime", "executorCpuTime",
               "jvmGcTime", "shuffleWriteBytes", "memoryBytesSpilled",
               "diskBytesSpilled")


def _epoch(ts: str) -> float:
    """'2026-10-17T04:03:02.496GMT' -> epoch seconds."""
    return datetime.strptime(ts[:-3], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def _metric_value(text: str) -> float:
    """A SQL UI metric string ('6,200', '3.9 MiB', or the 'total (min, med,
    max ...)' form whose total sits on the second line) -> number."""
    line = text.split("\n")[-1].strip()
    parts = line.split()
    value = float(parts[0].replace(",", ""))
    if len(parts) > 1 and parts[1] in _SIZE_UNITS:
        value *= _SIZE_UNITS[parts[1]]
    return value


class Engine:
    def __init__(self, spark):
        sc = spark.sparkContext
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = (f"http://localhost:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as r:
            return json.load(r)

    def snapshot(self, tracer: Tracer) -> None:
        """Read jobs, stages and SQL executions; attribute each to a span."""
        deadline = time.time() + 20
        while self.get("jobs?status=running") and time.time() < deadline:
            time.sleep(0.2)
        time.sleep(1.0)  # let the status listener drain its event queue
        self.jobs = self.get("jobs")
        self.stages = self.get("stages?status=complete")
        self.sql = self.get("sql?details=true&planDescription=false"
                            "&offset=0&length=100000")
        by_stage: dict[int, list[dict]] = {}
        for st in self.stages:
            by_stage.setdefault(st["stageId"], []).append(st)
        for span in tracer.spans:
            span["engine"] = dict.fromkeys(("jobs",) + _STAGE_SUMS, 0)
            span["engine_stages"] = []
            span["sql"] = []
        for job in self.jobs:
            span = tracer.innermost(_epoch(job["submissionTime"]))
            if span is None:
                continue
            eng = span["engine"]
            eng["jobs"] += 1
            for sid in job["stageIds"]:
                for st in by_stage.get(sid, ()):
                    span["engine_stages"].append(st)
                    for k in _STAGE_SUMS:
                        eng[k] += st.get(k, 0)
        for ex in self.sql:
            span = tracer.innermost(_epoch(ex["submissionTime"]))
            if span is not None:
                span["sql"].append(ex)

    def totals(self) -> dict[str, float]:
        out = dict.fromkeys(_STAGE_SUMS, 0)
        for st in self.stages:
            for k in _STAGE_SUMS:
                out[k] += st.get(k, 0)
        out["jobs"] = len(self.jobs)
        return out

    def task_skew(self, span: dict) -> float:
        """max / median task run time of the widest stage under ``span``."""
        stages = span.get("engine_stages") or []
        if not stages:
            return 0.0
        st = max(stages, key=lambda s: (s["numTasks"], s["stageId"]))
        q = self.get(f"stages/{st['stageId']}/{st['attemptId']}/taskSummary"
                     "?quantiles=0.5,1.0")["executorRunTime"]
        return q[1] / q[0] if q[0] > 0 else 0.0


def sql_metric_sum(executions: list[dict], node_prefix: str, metric: str
                   ) -> float:
    total = 0.0
    for ex in executions:
        for node in ex.get("nodes", ()):
            if not node["nodeName"].startswith(node_prefix):
                continue
            for m in node.get("metrics", ()):
                if m["name"] == metric:
                    total += _metric_value(m["value"])
    return total


# ---------------------------------------------------------------------------
# Layer tour: each layer's public function called alone, inside a span
# ---------------------------------------------------------------------------
def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _noop_count(df) -> int:
    obs = Observation("perfbench_rows")
    _noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return int(obs.get["n"])


def _parquet_files(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def layer_tour(spark, tracer: Tracer, src, n_src: int, state: str,
               scratch: str) -> dict:
    """Call every layer alone on the workload's own input and table.

    ``src`` is the frame the workload committed with ``run_pipeline`` and
    ``state`` the pipeline base it committed into. Parse, enrich and the
    routed write run fused in one Spark stage, so they are forced as
    nested calls (scan, scan+parse, scan+parse+enrich, full write) and
    self times are the differences. Nothing under ``state`` is modified.
    Returns the counts the metric step needs besides the spans.
    """
    os.makedirs(scratch)
    cores = spark.sparkContext.defaultParallelism
    got: dict = {}
    with tracer.span("util.ensure_min_partitions"):
        got["estimated_scan_partitions"] = estimated_scan_partitions(src)
        fed = ensure_min_partitions(src, cores * 2)
    part = with_partition_cols(fed)

    # a resume of the same input against the committed table: the closed
    # partitions drop by anti-join, the open ones go through the
    # per-conversation watermark scan of the committed output
    store = ManifestStore(f"{state}/_manifest")
    with tracer.span("plans.checkpoint.pending"):
        pend = store.pending(spark, part, routed_path=f"{state}/sinks/routed")
        got["pending_rows_out"] = _noop_count(pend)
    got["pending_rows_in"] = n_src

    # the tour parses what the workload's commit parsed: every input row

    with tracer.span("scan.noop"):
        _noop(part)
    with tracer.span("functions.parse.parse_transcripts"):
        obs = Observation("perfbench_categories")
        _noop(parse_transcripts(part).observe(obs, *[
            F.sum(F.when(F.col("category") == c, 1).otherwise(0)).alias(c)
            for c in CATEGORIES]))
    got["categories"] = {c: int(obs.get[c] or 0) for c in CATEGORIES}
    with tracer.span("plans.enrich.enrich_with_default_dims"):
        enriched = enrich_with_default_dims(parse_transcripts(part))
        _noop(enriched)
    got["sort_merge_joins"] = (
        enriched._jdf.queryExecution().executedPlan().toString()
        .count("SortMergeJoin"))
    out = f"{scratch}/write/sinks"
    with tracer.span("operators.router.write_sinks_single_pass"):
        write_sinks_single_pass(
            enrich_with_default_dims(parse_transcripts(part)), out,
            run_id="tour")
    run_dir = f"{out}/routed/runid=tour"
    got["files_written"], got["bytes_written"] = _parquet_files(run_dir)

    slim = (spark.read.option("basePath", f"{out}/routed").parquet(run_dir)
            .select(*SLIM_COLS))
    for name, fn in AGGREGATES.items():
        with tracer.span(f"plans.aggregate.{name}"):
            _noop(fn(slim))

    with tracer.span("plans.checkpoint.current_state"):
        store.current_state(spark).collect()
    with tracer.span("plans.checkpoint.visible_runs"):
        store.visible_runs(spark).collect()
    got["manifest_rows"] = spark.read.parquet(f"{state}/_manifest").count()
    copy = f"{scratch}/manifest"
    shutil.copytree(f"{state}/_manifest", copy)
    events = completion_events(with_partition_cols(slim), "rtour",
                               status="open")
    with tracer.span("plans.checkpoint.append"):
        ManifestStore(copy).append(events)

    # point reads of the largest and the smallest conversation
    by_size = src.groupBy("conv_id").count().orderBy("count", "conv_id") \
        .collect()
    for rep, row in enumerate((by_size[-1], by_size[0], by_size[-1])):
        with tracer.span("operators.router.read_conversation",
                         rep=f"tour-{rep}") as sp:
            sp["rows"] = len(read_conversation(
                spark, state, row["conv_id"], incremental=True).collect())

    with tracer.span("operators.router.read_routed"):
        routed = read_routed(spark, state, incremental=True)
        _noop(routed)
    got["files_listed"] = len(routed.inputFiles())

    compacted = f"{scratch}/compact"
    shutil.copytree(state, compacted)
    ManifestStore(f"{compacted}/_manifest").seal_partitions(spark)
    with tracer.span("operators.router.compact_routed"):
        got["compaction"] = compact_routed(spark, compacted)
    return got


def layer_metrics(tracer: Tracer, engine: Engine, got: dict, phases: dict,
                  run_wall_s: float, cores: int) -> dict[str, float]:
    """Per-layer metrics from the tour's spans and the engine snapshot."""
    def one(name: str) -> dict:
        return tracer.named(name)[-1]

    d = {name: duration(one(name)) for name in (
        "scan.noop", "functions.parse.parse_transcripts",
        "plans.enrich.enrich_with_default_dims",
        "operators.router.write_sinks_single_pass")}
    parse_s = d["functions.parse.parse_transcripts"] - d["scan.noop"]
    write = one("operators.router.write_sinks_single_pass")
    reads = tracer.named("operators.router.read_conversation")
    read_sql = [sp["sql"][-1] for sp in reads if sp["sql"]]
    read_rows = sum(sp.get("rows", 0) for sp in reads)
    pend = one("plans.checkpoint.pending")
    aggs = [one(f"plans.aggregate.{n}") for n in AGGREGATES]
    comp = got["compaction"]
    tot = engine.totals()
    return {
        "session.start_s": duration(one("session.build_session")),
        "synth.generate_s": sum(
            duration(s) for s in tracer.named("synth.generate_transcripts")),
        "util.ensure_min_partitions_ms":
            duration(one("util.ensure_min_partitions")) * 1e3,
        "util.estimated_scan_partitions": got["estimated_scan_partitions"],
        "parse.self_s": parse_s,
        "parse.rows_per_s": sum(got["categories"].values()) / max(parse_s,
                                                                  1e-3),
        **{f"parse.rows.{c}": n for c, n in got["categories"].items()},
        "parse.py_udf_bytes": sql_metric_sum(
            one("functions.parse.parse_transcripts")["sql"],
            "ArrowEvalPython", "data sent to Python workers"),
        "enrich.self_s": d["plans.enrich.enrich_with_default_dims"]
        - d["functions.parse.parse_transcripts"],
        "enrich.sort_merge_joins": got["sort_merge_joins"],
        "router.write_self_s": d["operators.router.write_sinks_single_pass"]
        - d["plans.enrich.enrich_with_default_dims"],
        "router.shuffle_write_bytes": write["engine"]["shuffleWriteBytes"],
        "router.spill_bytes": write["engine"]["memoryBytesSpilled"]
        + write["engine"]["diskBytesSpilled"],
        "router.files_written": got["files_written"],
        "router.bytes_written": got["bytes_written"],
        "router.write_task_skew": engine.task_skew(write),
        "router.read_conversation_ms":
            statistics.median(duration(s) for s in reads) * 1e3,
        "router.read_routed_s": duration(one("operators.router.read_routed")),
        "router.files_listed": got["files_listed"],
        "router.rows_scanned_per_row_returned": sql_metric_sum(
            read_sql, "Scan", "number of output rows") / max(read_rows, 1),
        "router.compact_s": duration(one("operators.router.compact_routed")),
        "router.compact_files_before": comp["files_before"],
        "router.compact_files_after": comp["files_after"],
        **{f"aggregate.{n}_s": duration(s) for n, s in zip(AGGREGATES, aggs)},
        "aggregate.shuffle_bytes": sum(s["engine"]["shuffleWriteBytes"]
                                       for s in aggs),
        "checkpoint.pending_s": duration(pend),
        "checkpoint.pending_rows_in": got["pending_rows_in"],
        "checkpoint.pending_rows_out": got["pending_rows_out"],
        # every row the pending evaluation scanned besides the input itself:
        # the committed output of open partitions plus manifest reads
        "checkpoint.watermark_rows_scanned": sql_metric_sum(
            pend["sql"], "Scan", "number of output rows")
        - got["pending_rows_in"],
        "checkpoint.fold_s": duration(one("plans.checkpoint.current_state")),
        "checkpoint.visible_runs_s":
            duration(one("plans.checkpoint.visible_runs")),
        "checkpoint.append_s": duration(one("plans.checkpoint.append")),
        "checkpoint.manifest_rows": got["manifest_rows"],
        "pipeline.pass1_s": phases.get("pass1_parse_route_write", 0.0),
        "pipeline.pass2_read_s": phases.get("pass2_read_counts", 0.0),
        "pipeline.aggregates_s": phases.get("aggregates", 0.0),
        "pipeline.manifest_s": phases.get("manifest", 0.0),
        "spark.jobs": tot["jobs"],
        "spark.tasks": tot["numCompleteTasks"],
        "spark.executor_run_s": tot["executorRunTime"] / 1e3,
        "spark.executor_cpu_s": tot["executorCpuTime"] / 1e9,
        "spark.gc_s": tot["jvmGcTime"] / 1e3,
        "spark.core_busy_frac":
            tot["executorRunTime"] / 1e3 / (run_wall_s * cores),
    }

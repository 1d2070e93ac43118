"""Workload set-up, measured operations, output checks and result assembly.

One process runs one workload as a closed loop with a single client: each
measured operation starts after the previous one and its checks finished.
All load comes from generated inputs; ``synth.SEED`` is set from ``--seed``
before anything is generated, so a seed fixes every input row.

full_reprocess times one cold pipeline commit of a large table;
conv_reads commits a small table during set-up and times point reads of
it. That is what the run budget affords on a 4-core machine (README.md,
"Workloads left out, and why").
"""

from __future__ import annotations

import json
import os
import random
import statistics
import subprocess
import time
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.sql import functions as F

from commerce_logs_pipeline_spark import synth
from commerce_logs_pipeline_spark.operators.router import (
    DEFAULT_SINKS,
    read_conversation,
    read_routed,
)
from commerce_logs_pipeline_spark.plans.pipeline import run_pipeline
from commerce_logs_pipeline_spark.session import build_session

from memory import PeakMemory
from tracing import Engine, Tracer, layer_metrics, layer_tour

# --seed n generates from synth seed n % N_SEEDS, so that golden.json can
# hold the expected sink counts of every input the benchmark makes.
N_SEEDS = 32
GOLDEN_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "golden.json")
HOT_CONVS = 5         # the "hot head": the largest conversations
MIN_READS = 4         # conv_reads: at least this many point reads
WARM_UP_READS = 6     # conv_reads: untimed point reads in set-up


@dataclass(frozen=True)
class Inputs:
    """Generator parameters of one workload's transcript table."""
    n_turns: int
    n_days: int        # day partitions of the routed layout
    skew: float = 2.5  # synth Zipf exponent: u**2.5 concentrates turns

    @property
    def n_convs(self) -> int:
        return self.n_turns // 40  # the generator's default

    @property
    def key(self) -> str:
        return (f"n_turns={self.n_turns} n_convs={self.n_convs} "
                f"skew={self.skew} n_days={self.n_days}")

    def generate(self, spark):
        return synth.generate_transcripts(
            spark, self.n_turns, n_convs=self.n_convs, skew=self.skew,
            n_days=self.n_days)


def input_seed(seed: int) -> int:
    return seed % N_SEEDS


@dataclass
class Stats:
    op_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


@dataclass
class Outcome:
    summary: list[str]
    result: dict


def sink_counts(by_cat: dict[str, int]) -> dict[str, int]:
    """Per-sink counts in the shape of ``PipelineReport.counts``."""
    out = {f"sink:{name}": sum(by_cat.get(c, 0) for c in cats)
           for name, cats in DEFAULT_SINKS.items()}
    out["skipped"] = by_cat.get("skipped", 0)
    out["total"] = sum(by_cat.values())
    return out


def conservation_problems(counts: dict[str, int], rows_in: int) -> list[str]:
    routed = sum(counts.get(f"sink:{name}", 0) for name in DEFAULT_SINKS)
    if routed + counts.get("skipped", 0) != rows_in or \
            counts.get("total") != rows_in:
        return [f"conservation: sinks {routed} + skipped "
                f"{counts.get('skipped')} != rows_in {rows_in}"]
    return []


class Workload:
    """Input generation and checked pipeline commits."""
    inputs: Inputs

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark, self.work, self.tracer = spark, work, tracer
        self.rng = random.Random(seed)
        self.state = f"{work}/table"
        self.source = None
        self.report = None
        golden = _load(GOLDEN_PATH) or {}
        self.golden = golden.get(self.inputs.key, {}).get(
            str(input_seed(seed)))

    def setup(self, stats: Stats) -> None:
        path = f"{self.work}/input"
        with self.tracer.span("synth.generate_transcripts"):
            self.inputs.generate(self.spark).write.parquet(path)
        self.source = self.spark.read.parquet(path)

    def commit(self, stats: Stats, source, rows: int, rep: int,
               **pipeline_options) -> float:
        """One run_pipeline call into ``self.state``, checked for
        conservation and for ``rows_in == rows``. Returns the call's wall
        time; a call that raised counts as failed after the time it took."""
        stats.attempted += 1
        self.report = None
        t = time.perf_counter()
        try:
            with self.tracer.span("plans.pipeline.run_pipeline", rep=rep):
                report = run_pipeline(self.spark, source, self.state,
                                      **pipeline_options)
        except Exception as e:  # a failed op is a counted failure
            stats.fail(f"commit {rep}: {type(e).__name__}: {e}")
            return time.perf_counter() - t
        dt = time.perf_counter() - t
        self.report = report
        problems = conservation_problems(report.counts, report.rows_in)
        if report.rows_in != rows:
            problems.append(f"rows_in {report.rows_in} != {rows}")
        if problems:
            stats.fail(f"commit {rep}: " + "; ".join(problems))
        return dt

    def check_golden(self, stats: Stats, counts: dict[str, int],
                     what: str) -> None:
        """Per-sink counts equal the ones golden.json holds for this
        input; an input it holds none for fails the check."""
        stats.attempted += 1
        if self.golden is None:
            stats.fail(f"{what}: golden.json holds no counts for "
                       f"{self.inputs.key} seed {synth.SEED}")
        elif counts != self.golden:
            stats.fail(f"{what}: sink counts {counts} != golden "
                       f"{self.golden}")


class FullReprocess(Workload):
    """The measured operation: run_pipeline(resume=False) over the whole
    table, in a fresh JVM as a spark-submit job runs it."""
    inputs = Inputs(n_turns=40_000, n_days=2)

    def measure(self, stats: Stats, seconds: float) -> None:
        stats.op_ms.append(1e3 * self.commit(
            stats, self.source, self.inputs.n_turns, rep=0, resume=False))
        if self.report is not None:
            self.check_golden(stats, self.report.counts, "commit")


class ConvReads(Workload):
    """Set-up commits the table in one chunk run, partitions left open;
    the measured operations are point reads, alternating the hot head and
    the cold tail of the conversation-size skew."""
    inputs = Inputs(n_turns=10_000, n_days=1)

    def setup(self, stats: Stats) -> None:
        super().setup(stats)
        self.index_conversations()
        # the chunk run is also the run's untimed warm-up call
        self.commit(stats, self.source, self.inputs.n_turns, rep=0,
                    resume=True, close_partitions=False)
        if self.report is not None:
            self.check_golden(stats, self.report.counts, "commit")
        self.check_read_back(stats)
        # untimed reads pay the read path's first-query and JIT costs:
        # read latency falls by about a third over the first reads of a JVM
        for i in range(-WARM_UP_READS, 0):
            self.point_read(self.pick(i), stats, rep=i)

    def index_conversations(self) -> None:
        """Turn counts per conversation of the input; the hot head and the
        cold tail of the sizes."""
        sizes = {r["conv_id"]: r["n"] for r in self.source.groupBy("conv_id")
                 .agg(F.count("*").alias("n")).collect()}
        by_size = sorted(sizes, key=lambda c: (-sizes[c], c))
        self.sizes = sizes
        self.hot = by_size[:HOT_CONVS]
        self.cold = by_size[len(by_size) // 2:]

    def check_read_back(self, stats: Stats) -> None:
        """The committed table, read as incremental readers see it, holds
        every input row once, routed to its golden sink."""
        stats.attempted += 1
        try:
            back = read_routed(self.spark, self.state, incremental=True) \
                .groupBy("category").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count_distinct("conv_id", "turn_idx").alias("keys"),
                ).collect()
        except Exception as e:  # a failed check is a counted failure
            stats.fail(f"read-back: {type(e).__name__}: {e}")
            return
        on_disk = sink_counts({r["category"]: r["n"] for r in back})
        keys = sum(r["keys"] for r in back)
        if keys != self.inputs.n_turns or on_disk["total"] != keys:
            stats.fail(f"read-back holds {on_disk['total']} rows and {keys} "
                       f"distinct keys, expected {self.inputs.n_turns}")
        self.check_golden(stats, on_disk, "read-back")

    def point_read(self, conv: str, stats: Stats, rep: int) -> float:
        """Read one conversation back: it must return its exact turn count
        with a dense turn_idx. Returns the read's wall time in ms; a read
        that raised counts as failed after the time it took."""
        stats.attempted += 1
        t = time.perf_counter()
        try:
            with self.tracer.span("operators.router.read_conversation",
                                  rep=rep) as sp:
                rows = read_conversation(self.spark, self.state, conv,
                                         incremental=True).collect()
                sp["rows"] = len(rows)
        except Exception as e:  # a failed read is a counted failure
            stats.fail(f"read {conv}: {type(e).__name__}: {e}")
            return (time.perf_counter() - t) * 1e3
        dt = time.perf_counter() - t
        turns = [r["turn_idx"] for r in rows]
        if turns != list(range(self.sizes[conv])):
            stats.fail(f"read {conv}: {len(turns)} turns, expected dense "
                       f"0..{self.sizes[conv] - 1}")
        return dt * 1e3

    def pick(self, i: int) -> str:
        """Read i's conversation: even reads hot, odd reads cold."""
        return self.rng.choice(self.hot if i % 2 == 0 else self.cold)

    def measure(self, stats: Stats, seconds: float) -> None:
        # whole hot/cold pairs only, so every run reads the same mix
        t0, i = time.perf_counter(), 0
        while i < MIN_READS or i % 2 or time.perf_counter() - t0 < seconds:
            stats.op_ms.append(self.point_read(self.pick(i), stats, rep=i))
            i += 1


WORKLOADS = {"full_reprocess": FullReprocess, "conv_reads": ConvReads}


def _stop_session(spark) -> None:
    """Stop Spark, then end the driver JVM and wait for it to exit."""
    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _tail_percentile(values: list[float]) -> str:
    """Highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return f"n/a ({n} samples; needs 11)"
    k = n - 10
    return f"p{100 * k / n:.0f} = {sorted(values)[k - 1]:.1f} ms ({n} samples)"


def _declared(declared: list[dict], values: dict[str, float],
              complete: bool) -> dict:
    """Values keyed and united exactly as BENCHMARK.json declares them. A
    run with failures may miss some; they are reported as null."""
    names = [d["name"] for d in declared]
    extra = set(values) - set(names)
    missing = set(names) - set(values)
    if extra or (complete and missing):
        raise RuntimeError(f"metrics {sorted(extra | missing)} are "
                           "computed or declared but not both")
    return {d["name"]: {"value": values.get(d["name"]), "unit": d["unit"]}
            for d in declared}


def _load(path: str) -> dict | None:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _host_loop_ms(n: int = 1_000_000) -> float:
    """Wall time of a fixed pure-Python loop: a gauge of the host's
    single-thread speed while the run is made, printed next to the metrics
    so that drift of a shared host can be told apart from a program
    change."""
    t = time.perf_counter()
    total = 0
    for i in range(n):
        total += i
    return (time.perf_counter() - t) * 1e3


def run(workload: str, seed: int, seconds: float, traced: bool, work: str,
        results_dir: str, t_start: float) -> Outcome:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    os.makedirs(results_dir, exist_ok=True)
    synth.SEED = input_seed(seed)  # generate_transcripts reads the constant
    tracer = Tracer(workload, traced)
    stats = Stats()
    t_wall0 = time.time()
    host_ms = [_host_loop_ms()]
    per_layer: dict[str, float] = {}
    with PeakMemory() as mem:
        with tracer.span("session.build_session"):
            spark = build_session(app_name=f"perfbench-{workload}")
            spark.sparkContext.setLogLevel("ERROR")
        try:
            wl = WORKLOADS[workload](spark, work, seed, tracer)
            try:
                wl.setup(stats)
                ready = True
            except Exception as e:  # a failed set-up is a counted failure
                stats.attempted += 1
                stats.fail(f"set-up: {type(e).__name__}: {e}")
                ready = False
            setup_s = time.perf_counter() - t_start
            t0 = time.perf_counter()
            if ready:
                wl.measure(stats, seconds)
            measure_s = time.perf_counter() - t0
            peak_mb = mem.peak_mb
            host_ms.append(_host_loop_ms())
            if traced and wl.report is not None:
                stats.attempted += 1
                try:
                    got = layer_tour(spark, tracer, wl.source,
                                     wl.inputs.n_turns, wl.state,
                                     f"{work}/tour")
                    engine = Engine(spark)
                    engine.snapshot(tracer)
                    per_layer = layer_metrics(
                        tracer, engine, got,
                        wl.report.extras.get("phases", {}),
                        time.time() - t_wall0,
                        spark.sparkContext.defaultParallelism)
                except Exception as e:  # a failed layer is a counted failure
                    stats.fail(f"layer tour: {type(e).__name__}: {e}")
        finally:
            _stop_session(spark)

    if not stats.op_ms:  # set-up failed before the measured operations
        stats.op_ms.append(measure_s * 1e3)
    end_to_end = {
        "op_ms": (statistics.median(stats.op_ms), "ms"),
        "setup_s": (setup_s, "s"),
        "peak_pss_mb": (peak_mb, "MB"),
    }
    attempted = max(stats.attempted, 1)
    fail_frac = stats.failed / attempted
    n_turns = wl.inputs.n_turns
    info = [f"  fail_frac    {fail_frac:14.4f} ratio "
            f"({stats.failed} of {attempted} failed)",
            f"  host_loop_ms {host_ms[0]:14.4f} ms before set-up, "
            f"{host_ms[-1]:.4f} ms after the measured operations"]
    if workload == "full_reprocess":
        info.append(f"  turns_per_s  "
                    f"{n_turns / (end_to_end['op_ms'][0] / 1e3):14.4f}"
                    f" turns/s")
    else:
        info.append(f"  read_p50_ms  {end_to_end['op_ms'][0]:14.4f} ms "
                    f"({len(stats.op_ms)} reads)")
        info.append(f"  read_tail_ms {_tail_percentile(stats.op_ms)}")
    summary = [
        f"workload {workload}  seed {seed} (synth seed {synth.SEED})  "
        f"{wl.inputs.key}  traced {int(traced)}  ops {len(stats.op_ms)}  "
        f"measured {measure_s:.1f} s",
        *[f"  {k:<12} {v:14.4f} {u}" for k, (v, u) in end_to_end.items()],
        *info,
        *[f"  FAILED: {p}" for p in stats.problems],
    ]
    record = {"workload": workload, "seed": seed, "synth_seed": synth.SEED,
              "inputs": wl.inputs.key, "traced": traced,
              "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
              "op_ms": stats.op_ms, "host_loop_ms": host_ms,
              "fail_frac": fail_frac,
              "problems": stats.problems}
    complete = stats.failed == 0
    if traced:
        # tracing overhead: this run's end-to-end numbers next to those of
        # an untraced run of the same workload and seed, when one exists
        untraced = _load(f"{results_dir}/{workload}-seed{seed}-trace0.json")
        if untraced:
            record["untraced_end_to_end"] = untraced["end_to_end"]
            record["tracing_overhead"] = {
                k: v / untraced["end_to_end"][k] - 1
                for k, v in record["end_to_end"].items()
                if untraced["end_to_end"].get(k)}
            summary.append("  tracing overhead vs untraced seed "
                           f"{seed}: " + ", ".join(
                               f"{k} {v:+.1%}" for k, v in
                               record["tracing_overhead"].items()))
        record["per_layer"] = per_layer
        record["spans"] = [{k: v for k, v in s.items()
                            if k not in ("engine_stages", "sql")}
                           for s in tracer.spans]
        summary += [f"  {k:<40} {v:.4f}" for k, v in per_layer.items()]
        metrics = _declared(spec["per_layer"], per_layer, complete)
    else:
        metrics = _declared(spec["end_to_end"],
                            {k: v for k, (v, _) in end_to_end.items()},
                            complete)
    path = f"{results_dir}/{workload}-seed{seed}-trace{int(traced)}.json"
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    summary.append(f"  record: {os.path.relpath(path)}")
    return Outcome(summary, {"correct": complete, "attempted": attempted,
                             "failed": stats.failed, "metrics": metrics})

"""Benchmark entry point: runs ONE workload and prints one JSON result line.

Usage, from the repository root:

    python3 perfbench/run.py --workload full_reprocess --seed 7 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans around every layer call, then prints the per-layer
metrics and writes the spans to ``.bench_results/``. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; lines before it are a
human-readable summary. Workloads, metrics and the layer -> metric mapping
are described in ``perfbench/README.md``.

Everything the run writes (Spark scratch, generated inputs, pipeline
outputs, JVM temp files) lives under ``.bench_work/`` in the current
directory and is deleted before the result line is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

PACKAGE = "commerce_logs_pipeline_spark"
# harness.WORKLOADS, named here so bad arguments fail before pyspark loads
WORKLOADS = ("full_reprocess", "conv_reads")
# Driver heap of the local[nproc] session: the inputs are small, and a 2g
# heap keeps driver JVM + Python workers well inside a 15 GB machine.
DRIVER_MEM = "2g"


def _configure_environment(work: str) -> None:
    """Deployment settings read by ``session.build_session`` plus the
    scratch locations of the JVM and Python, all inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_EXTRA_CONF": json.dumps(
            {"spark.ui.showConsoleProgress": "false"}
        ),
        # no hsperfdata or java.io.tmpdir files outside the work dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"run.py: no {PACKAGE}/ package in {root}; run from the "
              "repository root", file=sys.stderr)
        return 2

    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _configure_environment(work)
        sys.path.insert(0, root)
        import harness  # imports pyspark: only after the environment is set

        outcome = harness.run(
            workload=args.workload, seed=args.seed, seconds=args.seconds,
            traced=bool(args.trace), work=work,
            results_dir=os.path.join(root, ".bench_results"),
            t_start=t_start,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still owns a work dir there
    for line in outcome.summary:
        print(line)
    print(json.dumps(outcome.result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Write golden.json: the expected per-sink counts of every benchmark input.

For each workload's generator parameters and each synth seed below
``harness.N_SEEDS``, it generates the input as a run does and counts the
parsed and enriched rows per sink, which are the router counts
``run_pipeline`` observes in its first pass. Benchmark runs compare their
counts against the file, so it is written once, from the program whose
output the benchmark accepts, and committed.

Usage, from the repository root (a few minutes on 4 cores):

    python3 perfbench/golden.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main() -> int:
    root = os.getcwd()
    work = os.path.join(root, ".bench_work", f"golden-{os.getpid()}")
    os.makedirs(work)
    try:
        run._configure_environment(work)
        sys.path.insert(0, root)
        import harness  # imports pyspark: only after the environment is set
        from commerce_logs_pipeline_spark import synth
        from commerce_logs_pipeline_spark.functions.parse import (
            parse_transcripts,
        )
        from commerce_logs_pipeline_spark.plans.enrich import (
            enrich_with_default_dims,
        )
        from commerce_logs_pipeline_spark.session import build_session

        spark = build_session(app_name="perfbench-golden")
        spark.sparkContext.setLogLevel("ERROR")
        golden: dict[str, dict] = {}
        try:
            for workload in harness.WORKLOADS.values():
                inputs = workload.inputs
                table = golden.setdefault(inputs.key, {})
                for seed in range(harness.N_SEEDS):
                    synth.SEED = seed
                    path = f"{work}/input-{inputs.n_turns}-{seed}"
                    inputs.generate(spark).write.parquet(path)
                    parsed = enrich_with_default_dims(
                        parse_transcripts(spark.read.parquet(path)))
                    by_cat = {r["category"]: r["count"] for r in
                              parsed.groupBy("category").count().collect()}
                    table[str(seed)] = harness.sink_counts(by_cat)
                    shutil.rmtree(path)
                    print(inputs.key, "seed", seed, table[str(seed)],
                          flush=True)
        finally:
            harness._stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(harness.GOLDEN_PATH, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

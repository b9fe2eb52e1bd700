#!/usr/bin/env python3
"""Self-checks of the benchmark itself (not of the engine):

1. the input generator is deterministic: two builds of a pool give the
   same CSV rows and expected values, the same seed picks the same window
   and missing hours, other seeds pick others, and a window's files are
   the pool's with its missing hours left out;
2. the correctness check rejects a corrupted hour: after one landed hour
   is rewritten with one value changed, the table check and ``hour_read``
   flag exactly that hour.

    python3 perfbench/selfcheck.py

Prints one line per check and exits 0 only if all pass.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import run


def csv_rows(root: str, partition: str) -> list[str]:
    lines: list[str] = []
    for path in glob.glob(os.path.join(run.gen.hive_dir(root, partition), "*.csv")):
        with open(path, encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines())
    return sorted(lines)


def check_generator(spark, work: str) -> list[str]:
    gen = run.gen
    a, _ = gen.build_pool(spark, os.path.join(work, "a"), 1, 6)
    b, _ = gen.build_pool(spark, os.path.join(work, "b"), 1, 6)
    problems = []
    if a["expected"] != b["expected"]:
        problems.append("two pool builds gave different expected values")
    for p in a["expected"]:
        if csv_rows(a["source"], p) != csv_rows(b["source"], p):
            problems.append(f"two pool builds gave different rows for {p}")

    def window(seed: int) -> dict:
        return gen.window(a, os.path.join(work, "a"), seed, 4, 0.25)

    w = window(5)
    again = window(5)
    keys = ("partitions", "missing", "expected")
    if any(w[key] != again[key] for key in keys):
        problems.append("same seed gave a different window")
    if all((o["partitions"], o["missing"]) == (w["partitions"], w["missing"]) for o in map(window, (6, 7, 8))):
        problems.append("other seeds gave the same window")
    if len(w["missing"]) != 1 or any(os.path.exists(gen.hive_dir(w["source"], p)) for p in w["missing"]):
        problems.append(f"missing hours {w['missing']} not left out of the source")
    for p in w["expected"]:
        if csv_rows(w["source"], p) != csv_rows(a["source"], p):
            problems.append(f"window rows of {p} differ from the pool's")
    return problems


def check_corruption(bench: run.Bench) -> list[str]:
    from pyspark.sql import functions as F

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import sink

    parts = [p for p in bench.inputs["partitions"][1:5] if p not in bench.inputs["missing"]]
    for p in parts:
        bench.load(p)
    bench.check_table()
    problems = [f"clean table flagged: {bench.failures}"] if bench.failures else []
    bench.failures.clear()

    victim = parts[1]
    hour = sink.read_landing_table(bench.spark, bench.root, victim).drop("year", "month", "day", "hour")
    first_id = hour.agg(F.min("event_id")).collect()[0][0]
    corrupted = hour.withColumn(
        "value",
        F.when(F.col("event_id") == first_id, F.col("value") + 0.01).otherwise(F.col("value")),
    ).localCheckpoint(eager=True)
    sink.write_partition_overwrite(corrupted, bench.root, partition=victim)

    bench.check_table()
    flagged = [m for m in bench.failures if victim in m]
    if len(flagged) != 1 or len(bench.failures) != 1:
        problems.append(f"table check after corrupting {victim}: {bench.failures}")
    bench.failures.clear()
    if bench.hour_read(victim):
        problems.append(f"hour_read passed on corrupted hour {victim}")
    if not bench.hour_read(parts[0]):
        problems.append(f"hour_read failed on clean hour {parts[0]}")
    return problems


def main() -> int:
    run.prepare_environment()
    bench = run.Bench("backfill_small_hours", seed=3, seconds=0, trace=False)
    work = os.path.join(run.WORK, f"selfcheck-{os.getpid()}")
    results = {}
    try:
        bench.setup(0)
        results["generator deterministic per seed"] = check_generator(bench.spark, work)
        results["corrupted hour rejected"] = check_corruption(bench)
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    for name, problems in results.items():
        print(f"{'ok' if not problems else 'FAIL'}: {name}" + "".join(f"\n  {p}" for p in problems))
    return 0 if all(not p for p in results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())

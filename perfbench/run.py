#!/usr/bin/env python3
"""Hourly-load benchmark: one closed-loop client driving the engine's
public API on seeded hourly landing files.

    python3 perfbench/run.py --workload hourly_ingest_heavy --seed 1 --seconds 10 --trace 0

Workloads (see NOTES.md for why each exists):

* ``hourly_ingest_heavy`` - ~420k-row hours (K=100 day-fold), each
  submitted with ``IngestService.ingest_partition`` and polled with
  ``job_status`` until terminal, into a table with a zone-map store.
* ``backfill_small_hours`` - consecutive ~139-row hours, one in eight
  missing from the source, each driven inline through
  ``plan_partition_ingest`` + ``run_partition_ingest``.

Every run measures set-up three times (session start, DDL, warm-up
load, zone-map store build) and reports the median, loads fresh hours
for ``--seconds`` (or until the source has none left) into the last
set-up's table and checks that table. It then reads back the first
set-up's table, which holds the pool's first hours whatever the seed: a
seeded sequence of hour reads, zone-map skip scans and monitor scans
with a re-ingest of a loaded hour after every ``RELOAD_EVERY`` reads.
The read-back timings are the read metrics; the pass and the aggregate
table checks compare every loaded hour with the generator's expected
values. ``--trace 1`` installs layer wrappers (layers.py), traces every
other load and every read-back operation, reports per-layer metrics and
writes spans to a sidecar file. The last stdout line is the result JSON;
the line before it carries the host context.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time
import traceback

import gen
import layers
from layers import READ_KINDS, median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PKG = "gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark"

WORKLOADS = {
    # k: replica blocks per hour (0 = unfolded); hours: the seed's window
    # of the pool; read_hours: the pool's first hours, loaded in the first
    # set-up and read back after the loop
    "hourly_ingest_heavy": {
        "k": 100,
        "hours": 24,
        "pool_hours": 36,
        "read_hours": 3,
        "missing": 0.0,
        "path": "api",
    },
    "backfill_small_hours": {
        "k": 0,
        "hours": 120,
        "pool_hours": 168,
        "read_hours": 6,
        "missing": 0.125,
        "path": "inline",
    },
}
SETUP_RUNS = 3
POLL_S = 0.005
#: Read-back pass: samples per read kind, and a reload after every
#: RELOAD_EVERY reads. A reload refreshes the zone-map store and drops
#: its driver-side cache, so the skip scans after it pay the re-read.
READBACK_READS = 8
RELOAD_EVERY = 8
SKIP_RANGES = 8
SKIP_WIDTH = 50
ZONEMAP_COLS = ["user_id"]
DATASET = "bench"
#: Driver heap for the benchmark's local session. The engine's 16g
#: default is more memory than a small shared host can give one process
#: (16g exceeds the physical memory of the 15 GiB, 4-core host the
#: baseline was measured on); 3g holds every run with room to spare (peak
#: driver plus Python RSS is about 2 GB, see NOTES.md).
DRIVER_MEMORY = "3g"

END_TO_END = {
    "setup_s": "s",
    "load_p50_s": "s",
    "hours_per_s": "1/s",
    "rows_per_s": "1/s",
    "read_p50_s": "s",
    "hour_read_p50_s": "s",
    "skip_scan_p50_s": "s",
    "monitor_scan_p50_s": "s",
    "reload_p50_s": "s",
    "stored_bytes_per_input_byte": "ratio",
}


def hour_totals() -> list:
    """Row count, ``sum(event_id)`` and ``sum(value)`` in cents: the
    values the generator records per hour."""
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum("event_id").alias("sum_event_id"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
    ]


def monitor_predicate():
    """The ``monitor_error_rollup`` failure filter."""
    from pyspark.sql import functions as F

    return (F.col("event_type") == "error") & F.col("props").rlike(gen.MONITOR_REGEX)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.name = workload
        self.cfg = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.rng = random.Random(f"perfbench-ops:{workload}:{seed}")
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.samples: list[dict] = []
        self.failures: list[str] = []
        self.loaded: set[str] = set()
        self.context: dict = {}
        self.tracer = None
        if trace:
            self.tracer = layers.Tracer()
            self.tracer.install()
        self.traced_op = False
        self.phase = "setup"
        self.hours_checked = 0
        self.table_failures = 0
        self.epoch_offset = time.time() - time.perf_counter()

    # --- session and set-up --------------------------------------------------

    def start_session(self):
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark import session

        java_opts = session.DEFAULT_CONFIGS["spark.driver.extraJavaOptions"]
        return session.get_spark(
            app_name="perfbench",
            extra_configs={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.driver.extraJavaOptions": f"{java_opts} -Djava.io.tmpdir={WORK}/tmp",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "spark-warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )

    def setup(self, index: int) -> float:
        """Session start, DDL and warm-up load (plus the zone-map store
        build on the ingest workloads). Returns its seconds, input
        generation excluded."""
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.api.service import IngestService

        if index:
            self.spark.stop()
        t0 = time.perf_counter()
        if self.tracer is not None:
            self.tracer.enabled = True  # records the session.start span
        self.spark = self.start_session()
        if self.tracer is not None:
            self.tracer.enabled = False
        gen_s = 0.0
        if index == 0:
            t_gen = time.perf_counter()
            cache = os.path.join(WORK, "cache")
            # the first run in a checkout builds every workload's pool, so
            # no later run pays for one
            built = []
            for name, cfg in WORKLOADS.items():
                pool, cached = gen.build_pool(self.spark, cache, cfg["k"], cfg["pool_hours"])
                if name == self.name:
                    self.pool = pool
                if not cached:
                    built.append(name)
            self.inputs = gen.window(self.pool, cache, self.seed, self.cfg["hours"], self.cfg["missing"])
            gen_s = time.perf_counter() - t_gen
            self.context.update(gen_s=gen_s, pools_built=built, first_hour=self.inputs["partitions"][0])
        warehouse = os.path.join(self.run_dir, f"warehouse{index}")
        self.svc = IngestService(self.spark, warehouse)
        self.root = self.svc.create_landing_table(DATASET, self.name, gen.EVENTS_SCHEMA)
        self.loaded = set()
        if index == 0:
            # the read table: the pool's first read_hours hours, the same
            # for every seed, read back whatever hour the loop reaches
            self.use_source(self.pool["source"], [])
            hours = self.pool["partitions"][: self.cfg["read_hours"]]
        else:
            hours = self.inputs["partitions"][:1]
        for p in hours:
            state = self.load(p)
            if state != "SUCCESS":
                raise RuntimeError(f"set-up load of {p} ended {state}")
        self.build_zone_map()
        if index == 0:
            self.read_table = (warehouse, self.root, self.loaded)
        self.use_source(self.inputs["source"], self.inputs["missing"])
        return time.perf_counter() - t0 - gen_s

    def use_source(self, source: str, missing: list[str]) -> None:
        """Load from ``source``, in which the ``missing`` hours are absent."""
        self.source = source
        self.missing = missing

    def build_zone_map(self) -> None:
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import zonemap

        zonemap.refresh_zone_map(self.spark, self.root, cols=ZONEMAP_COLS)

    # --- operations -------------------------------------------------------------

    def load(self, partition: str) -> str:
        """One hourly load through the workload's path; returns the
        terminal state name once the client has seen it."""
        job_config = {"timestampFormat": gen.TS_FMT}
        if self.cfg["path"] == "api":
            from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.api.models import NewLoadJob

            request = NewLoadJob(
                bucket_name=self.source,
                dataset_id=DATASET,
                table_id=self.name,
                job_configuration=job_config,
            )
            job = self.svc.ingest_partition(partition, request)
            while job.status.name == "RUNNING":
                time.sleep(POLL_S)
                job = self.svc.job_status(job.job_id)
            state, error = job.status.name, job.status.error_msg
        else:
            from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.plans import ingest

            plan = ingest.plan_partition_ingest(self.source, self.root, partition, job_config)
            meta = ingest.run_partition_ingest(self.spark, plan, gen.EVENTS_SCHEMA)
            state, error = meta.status.name, meta.error_msg
        if self.tracer is not None and self.traced_op:
            self.tracer.mark("terminal_seen")
        if error:
            print(f"load {partition}: {state}: {error}", file=sys.stderr)
        if state == "SUCCESS":
            self.loaded.add(partition)
        return state

    def check_load(self, partition: str) -> bool:
        state = self.load(partition)
        want = "NOT_CREATED" if partition in self.missing else "SUCCESS"
        return self._check(state == want, f"load {partition}: {state}, expected {want}")

    def hour_read(self, partition: str) -> bool:
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import sink

        rows = (
            sink.read_landing_table(self.spark, self.root, partition)
            .groupBy("event_type")
            .agg(*hour_totals())
            .collect()
        )
        got = {key: sum(r[key] for r in rows) for key in ("rows", "sum_event_id", "sum_value_cents")}
        want = {key: self.pool["expected"][partition][key] for key in got}
        return self._check(got == want, f"hour_read {partition}: {got} != {want}")

    def skip_scan(self, index: int) -> bool:
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import zonemap

        lo, hi = self.skip_ranges[index]
        df, files_read, files_total = zonemap.skipping_scan(self.spark, self.root, "user_id", lo, hi)
        got = df.count()
        if self.tracer is not None and self.traced_op:
            useful = df.select("_metadata.file_path").distinct().count() if files_read else 0
            self.tracer.note(skip_files_useful=useful)
        want = self.skip_counts[index]
        return self._check(got == want, f"skip_scan [{lo}, {hi}]: {got} != {want}")

    def monitor_scan(self, partition: str) -> bool:
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import sink

        got = (
            sink.read_landing_table(self.spark, self.root, partition)
            .filter(monitor_predicate())
            .count()
        )
        want = self.pool["expected"][partition]["monitor_rows"]
        return self._check(got == want, f"monitor_scan {partition}: {got} != {want}")

    def _check(self, ok: bool, message: str) -> bool:
        if not ok:
            self.failures.append(message)
            print(f"MISMATCH {message}", file=sys.stderr)
        return ok

    def op(self, kind: str, fn, *args, traced: bool = False) -> None:
        """Time one operation; any exception or wrong result counts as
        failed."""
        self.traced_op = traced and self.tracer is not None
        if self.traced_op:
            self.tracer.mark_epoch(self.spark)
            self.tracer.enabled = True
            self.tracer.begin_op(len(self.samples), kind)
        t0 = time.perf_counter()
        try:
            ok = fn(*args)
        except Exception:  # an operation failure is a result, not a crash
            traceback.print_exc()
            self.failures.append(f"{kind} raised")
            ok = False
        latency = time.perf_counter() - t0
        if self.traced_op:
            rec = self.tracer.end_op()
            self.tracer.enabled = False
            self.tracer.harvest(self.spark, rec, self.epoch_offset)
        self.samples.append(
            {"kind": kind, "phase": self.phase, "s": latency, "ok": ok, "traced": self.traced_op}
        )
        self.traced_op = False

    # --- table facts ------------------------------------------------------------

    def compute_skip_counts(self) -> None:
        """Seeded selective ``user_id`` ranges and their counts by a full
        filter over the table (no zone map)."""
        from pyspark.sql import functions as F

        replicas = max(self.cfg["k"], 1)
        self.skip_ranges = []
        for _ in range(SKIP_RANGES):
            lo = self.rng.randrange(replicas) * 1_000_000 + self.rng.randrange(gen.USERS - SKIP_WIDTH)
            self.skip_ranges.append((lo, lo + SKIP_WIDTH - 1))
        table = self.spark.read.parquet(self.root)
        row = table.agg(
            *[
                F.sum(F.col("user_id").between(lo, hi).cast("long")).alias(f"r{i}")
                for i, (lo, hi) in enumerate(self.skip_ranges)
            ]
        ).collect()[0]
        self.skip_counts = [row[f"r{i}"] or 0 for i in range(SKIP_RANGES)]

    def check_table(self) -> int:
        """Every loaded hour holds exactly the generator's expected values
        and no other hour exists. Returns the number of hours checked."""
        from pyspark.sql import functions as F

        rows = (
            self.spark.read.parquet(self.root)
            .groupBy("year", "month", "day", "hour")
            .agg(
                *hour_totals(),
                F.sum(monitor_predicate().cast("long")).alias("monitor_rows"),
            )
            .collect()
        )
        got = {
            f"{r['year']:04d}{r['month']:02d}{r['day']:02d}{r['hour']:02d}": {
                k: r[k] for k in ("rows", "sum_event_id", "sum_value_cents", "monitor_rows")
            }
            for r in rows
        }
        self._check(set(got) == self.loaded, f"table hours {sorted(set(got) ^ self.loaded)} differ from loads")
        for part in sorted(self.loaded):
            want = self.pool["expected"][part]
            self._check(got.get(part) == want, f"hour {part}: {got.get(part)} != {want}")
        return len(self.loaded)

    def stored_bytes(self) -> int:
        total = 0
        for dirpath, _dirs, files in os.walk(self.root):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total

    def peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return (_hwm_kb("self") + _hwm_kb(str(pid))) / 1024.0

    # --- the run ----------------------------------------------------------------

    def run(self) -> dict:
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.api.service import IngestService

        setups = [self.setup(i) for i in range(SETUP_RUNS)]
        parts = self.inputs["partitions"]
        if self.tracer is not None:
            self.tracer.mark_epoch(self.spark, new_context=True)

        self.phase = "loop"
        loop_parts: list[str] = []
        loop_t0 = time.perf_counter()
        # hour 0 was loaded in set-up; every loop load is a fresh hour, so
        # a client that runs out of hours stops early rather than switch
        # to re-ingests (the context line says so)
        fresh = parts[1:]
        while time.perf_counter() - loop_t0 < self.seconds and len(loop_parts) < len(fresh):
            p = fresh[len(loop_parts)]
            # a traced run traces every other load
            self.op("load", self.check_load, p, traced=len(loop_parts) % 2 == 0)
            loop_parts.append(p)
        loop_s = time.perf_counter() - loop_t0

        self.phase = "read_back"
        failures = len(self.failures)
        hours_checked = self.check_table()
        table_failures = len(self.failures) - failures
        warehouse, self.root, self.loaded = self.read_table
        self.svc = IngestService(self.spark, warehouse)
        self.use_source(self.pool["source"], [])
        self.read_back()
        failures = len(self.failures)
        hours_checked += self.check_table()
        self.table_failures = table_failures + len(self.failures) - failures
        self.hours_checked = hours_checked
        stored = self.stored_bytes()
        input_bytes = sum(self.pool["csv_bytes"][p] for p in self.loaded)
        self.context.update(
            setup_runs_s=setups,
            loop_s=loop_s,
            loop_out_of_hours=len(loop_parts) == len(fresh),
            hours_checked=hours_checked,
            peak_rss_mb=self.peak_rss_mb(),
            stored_bytes=stored,
            input_bytes=input_bytes,
            samples={k: sum(1 for x in self.samples if x["kind"] == k) for k in ("load", "reload", *READ_KINDS)},
        )
        rows = sum(self.inputs["expected"].get(p, {}).get("rows", 0) for p in loop_parts)
        return {
            "setup_s": median(setups),
            "load_p50_s": median(self.latencies("load")),
            "hours_per_s": len(loop_parts) / loop_s,
            "rows_per_s": rows / loop_s,
            "read_p50_s": median(x for k in READ_KINDS for x in self.latencies(k)),
            "hour_read_p50_s": median(self.latencies("hour_read")),
            "skip_scan_p50_s": median(self.latencies("skip_scan")),
            "monitor_scan_p50_s": median(self.latencies("monitor_scan")),
            "reload_p50_s": median(self.latencies("reload")),
            "stored_bytes_per_input_byte": stored / input_bytes,
        }

    def latencies(self, kind: str) -> list[float]:
        return [x["s"] for x in self.samples if x["kind"] == kind]

    def read_back(self) -> None:
        """Timed reads of the loaded table, each read kind once per cycle
        in seeded order, with a reload after every ``RELOAD_EVERY``
        reads."""
        self.compute_skip_counts()
        loaded = sorted(self.loaded)
        kinds = [k for _ in range(READBACK_READS) for k in self.rng.sample(READ_KINDS, len(READ_KINDS))]
        for n, kind in enumerate(kinds, 1):
            if kind == "skip_scan":
                self.op(kind, self.skip_scan, self.rng.randrange(SKIP_RANGES), traced=True)
            else:
                self.op(kind, getattr(self, kind), self.rng.choice(loaded), traced=True)
            if n % RELOAD_EVERY == 0:
                self.op("reload", self.check_load, self.rng.choice(loaded), traced=True)

    def result(self, metrics: dict, units: dict) -> dict:
        failed_ops = sum(1 for x in self.samples if not x["ok"])
        return {
            "correct": not self.failures,
            "attempted": len(self.samples) + self.hours_checked,
            "failed": failed_ops + self.table_failures,
            "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units.items()},
        }

    def shutdown(self) -> None:
        """Stop Spark and its JVM, wait for the JVM to exit, and remove
        the run's scratch tables."""
        spark = getattr(self, "spark", None)
        if spark is not None:
            from pyspark import SparkContext

            spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
        shutil.rmtree(self.run_dir, ignore_errors=True)


def _hwm_kb(pid: str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat CPU ticks: user, nice, system, idle, iowait,
    irq, softirq, steal."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def host_context(args) -> dict:
    nproc = len(os.sched_getaffinity(0))
    return {
        "host": f"{nproc}-core",
        "nproc": nproc,
        "cpu_count": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": os.getloadavg(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        **WORKLOADS[args.workload],
    }


def prepare_environment() -> None:
    """Keep every file the run writes inside the checkout."""
    for sub in ("tmp", "spark-local", "cache"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # no hsperfdata files in the system temp directory, for any JVM started
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} -XX:-UsePerfData".strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: engine package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    prepare_environment()
    context = host_context(args)
    ticks0 = cpu_ticks()
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        metrics = bench.run()
        if bench.tracer is not None:
            metrics, example = layers.layer_metrics(bench.tracer, bench.samples)
            metrics["peak_rss_mb"] = bench.context["peak_rss_mb"]
    finally:
        bench.shutdown()
    busy = [b - a for a, b in zip(ticks0, cpu_ticks())]
    hz = os.sysconf("SC_CLK_TCK")
    context.update(
        bench.context,
        loadavg_end=os.getloadavg(),
        # CPU time the hypervisor gave to other guests while this run went
        cpu_steal_s=busy[7] / hz,
        cpu_busy_s=sum(busy[:3] + busy[5:7]) / hz,
        failures=bench.failures[:10],
    )
    if bench.tracer is None:
        result = bench.result(metrics, END_TO_END)
    else:
        path = os.path.join(WORK, "traces", f"{args.workload}_seed{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"context": context, **layers.sidecar(bench.tracer, bench.samples, metrics, example)}, fh)
        context.update(sidecar=os.path.relpath(path, ROOT), additivity_example=example)
        result = bench.result(metrics, {**layers.PER_LAYER, "peak_rss_mb": "MB"})
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

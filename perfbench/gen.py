"""Seeded input generator: hourly landing files as headerless tab-CSV.

A workload's input is a pool of consecutive hours, built once per
checkout and cached, standing in for the table the hours are cut from;
the seed picks a window of the pool and the hours missing from it. The
pool is a Hive layout ``year=YYYY/month=MM/day=DD/hour=HH/part-*.csv``
of synthetic ``events`` rows whose columns follow the distributions
measured on the engine's sf0.1 ``events`` table (see NOTES.md):
``event_id`` increasing with the hour, a ``ts`` inside the hour,
``user_id`` uniform over 1500 users per replica block, five equally
likely event types, an exponential ``value`` (mean 50.00) in cents and a
``{"k": N}`` props string with N uniform over 0..99. ``k`` replica
blocks per hour model the day-fold of the engine's scale probes (K x
rows per hour, replica r shifts user ids by r * 1_000_000); ``k = 0``
gives the unfolded table (~139 rows per hour).

Every hour is split round-robin into ``FILES_PER_HOUR`` files, the
layout ``scripts/ingest_scale_probe.build_landing_csv`` gets from its
``repartition(32)`` before the Hive write: row ``j`` of an hour goes to
file ``j % FILES_PER_HOUR``.

The pool is the same on every build (its rows are hashes of
``POOL_SEED``); the same seed always picks the same window and missing
hours. A window with missing hours is a tree of hard links to the pool
files without those hours' directories. The generator records, per
hour, the expected row count, ``sum(event_id)``, ``sum(value)`` in cents
and the number of rows the monitor predicate matches, so every loaded
hour can be checked against numbers that never passed through the
engine.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Rows per hour of the unfolded sf0.1 ``events`` table (100k rows / 720 h).
UNFOLDED_ROWS_PER_HOUR = 139
#: A day-fold stacks 30 days onto one, so one replica block holds 30x that.
FOLD_ROWS_PER_HOUR = 30 * UNFOLDED_ROWS_PER_HOUR
#: Row counts vary +-15% around the mean, uniformly: a standard deviation
#: of 8.7% (sf0.1 hours: 100-175 rows, sd 11.9 of a 138.9 mean).
COUNT_SPREAD = 0.3
#: Files per hour directory, as ``build_landing_csv``'s ``repartition(32)``.
FILES_PER_HOUR = 32
#: Mean ``value`` in cents of the exponential draw (sf0.1: mean 49.87,
#: median 34.77, p90 114.30).
VALUE_MEAN_CENTS = 5000
#: Users per replica block (sf0.1: user ids 0..1499).
USERS = 1500
EVENT_TYPES = ("error", "view", "signup", "purchase", "click")
TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
START = dt.datetime(2024, 1, 1)
#: The failure predicate of ``monitor_error_rollup``.
MONITOR_REGEX = r'"k": 4\d'

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

#: Hadoop settings for the generator's own write only (the write options
#: reach the job's Hadoop configuration, not the session's): a raw local
#: file system writes no ``.crc`` sidecars, as a bucket holds none, and
#: the v2 committer moves each task's files in place at task commit
#: instead of one by one at job commit. Thousands of small files per key
#: made both costs most of the generation time.
WRITE_HADOOP_OPTIONS = {
    "fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
    "fs.file.impl.disable.cache": "true",
    "mapreduce.fileoutputcommitter.algorithm.version": "2",
}

#: The pool's rows are hashes of this seed.
POOL_SEED = 0
#: At most this many windows with missing hours stay cached.
CACHE_KEEP = 6


def partition_of(hour_index: int) -> str:
    return (START + dt.timedelta(hours=hour_index)).strftime("%Y%m%d%H")


def pool_counts(k: int, hours: int) -> list[int]:
    """Per-hour row counts of the pool."""
    rng = random.Random(f"perfbench-pool:{POOL_SEED}:{k}:{hours}")
    per_hour = FOLD_ROWS_PER_HOUR * k if k else UNFOLDED_ROWS_PER_HOUR
    return [int(per_hour * (1 - COUNT_SPREAD / 2 + COUNT_SPREAD * rng.random())) for _ in range(hours)]


def choose_window(seed: int, pool_hours: int, hours: int, missing_share: float) -> tuple[int, list[int]]:
    """The seeded window: its first pool hour and the window offsets of
    its missing hours."""
    rng = random.Random(f"perfbench-window:{seed}:{pool_hours}:{hours}:{missing_share}")
    start = rng.randrange(pool_hours - hours + 1)
    # one seeded hour out of every block of 1/missing_share hours, so any
    # run of consecutive hours holds about the same share of gaps; the
    # window's first hour always exists because the set-up loads it
    missing = []
    if missing_share:
        block = round(1 / missing_share)
        for first in range(0, hours, block):
            missing.append(rng.choice([h for h in range(first, min(first + block, hours)) if h != 0]))
    return start, missing


def _events_frame(spark: SparkSession, seed: int, k: int, counts: list[int]):
    """All generated rows as one DataFrame with its Hive columns.

    Task ``f`` of the range holds file ``f`` of every hour, hour by hour,
    so the write needs no shuffle and each hour gets one file per task.
    Row ``j`` of hour ``h`` has ``event_id = offset[h] + j``, the offsets
    being the running row count; every other column is a hash of
    ``(seed, event_id, column)``, so the rows do not depend on how Spark
    runs the job."""
    n_hours = len(counts)
    per_file = -(-max(counts) // FILES_PER_HOUR)
    per_task = n_hours * per_file
    offsets = [sum(counts[:i]) for i in range(n_hours)]
    f = F.floor(F.col("id") / per_task)
    h = F.floor((F.col("id") % per_task) / per_file).cast("int")
    j = (F.col("id") % per_file) * FILES_PER_HOUR + f

    def at(values: list, index):
        return F.element_at(F.array(*[F.lit(v) for v in values]), index + 1)

    def draw(salt: int, modulus: int):
        return F.pmod(F.xxhash64(F.lit(seed), F.col("event_id"), F.lit(salt)), F.lit(modulus))

    # ts as the text TS_FMT gives, built from integers: a microsecond
    # inside the hour after the hour's "yyyy-MM-dd HH:" prefix
    us = draw(1, 3600 * 10**6)

    def digits(col, width: int):
        return F.lpad(col.cast("string"), width, "0")

    ts = F.concat(
        at([(START + dt.timedelta(hours=i)).strftime("%Y-%m-%d %H:") for i in range(n_hours)], F.col("h")),
        digits(F.floor(us / 60_000_000), 2),
        F.lit(":"),
        digits(F.floor(us / 1_000_000) % 60, 2),
        F.lit("."),
        digits(us % 1_000_000, 6),
    )
    replica = draw(3, k) if k else F.lit(0)
    # inverse CDF of the exponential on u in (0, 1)
    u = (draw(5, 2**31) + F.lit(1)) / F.lit(2**31 + 1)
    parts = [partition_of(i) for i in range(n_hours)]
    df = (
        spark.range(0, FILES_PER_HOUR * per_task, 1, numPartitions=FILES_PER_HOUR)
        .select(h.alias("h"), j.alias("j"))
        .filter(F.col("j") < at(counts, F.col("h")))
        .withColumn("event_id", at(offsets, F.col("h")).cast("long") + F.col("j"))
        .withColumn("ts", ts)
        .withColumn("user_id", draw(2, USERS) + replica * F.lit(1_000_000))
        .withColumn("event_type", at(list(EVENT_TYPES), draw(4, 5).cast("int")))
        .withColumn("value_cents", F.round(F.lit(-VALUE_MEAN_CENTS) * F.log(u)).cast("long"))
        .withColumn("value", F.col("value_cents") / F.lit(100.0))
        .withColumn("props", F.concat(F.lit('{"k": '), draw(6, 100).cast("string"), F.lit("}")))
        .withColumn("part", at(parts, F.col("h")))
    )
    return df.select(
        "h",
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        "value_cents",
        "props",
        F.substring("part", 1, 4).alias("year"),
        F.substring("part", 5, 2).alias("month"),
        F.substring("part", 7, 2).alias("day"),
        F.substring("part", 9, 2).alias("hour"),
    )


def expected_of(df) -> dict[str, dict[str, int]]:
    """Per-partition expected values of a generated (or landed) frame."""
    rows = (
        df.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("event_id").alias("sum_event_id"),
            F.sum("value_cents").alias("sum_value_cents"),
            F.sum(
                ((F.col("event_type") == "error") & F.col("props").rlike(MONITOR_REGEX)).cast("long")
            ).alias("monitor_rows"),
        )
        .collect()
    )
    return {
        partition_of(r["h"]): {
            "rows": r["rows"],
            "sum_event_id": r["sum_event_id"],
            "sum_value_cents": r["sum_value_cents"],
            "monitor_rows": r["monitor_rows"],
        }
        for r in rows
    }


def build_pool(spark: SparkSession, cache_root: str, k: int, hours: int) -> tuple[dict, bool]:
    """Return the pool of ``hours`` hours at this ``k`` and whether it was
    cached, building it on a miss.

    The pool is ``{"source", "partitions", "expected", "csv_bytes"}``;
    ``expected`` and ``csv_bytes`` map each partition to its expected
    values and its CSV bytes."""
    out = os.path.join(cache_root, f"pool_k{k}_h{hours}")
    meta_path = os.path.join(out, "_expected.json")
    if os.path.exists(meta_path):
        with open(meta_path, encoding="utf-8") as fh:
            return json.load(fh), True

    shutil.rmtree(out, ignore_errors=True)
    df = _events_frame(spark, POOL_SEED, k, pool_counts(k, hours))
    # each task's rows arrive in hour order: concurrent writers let the
    # partitioned write skip its sort (one open file per hour and task)
    conf_key = "spark.sql.maxConcurrentOutputFileWriters"
    prev = spark.conf.get(conf_key)
    spark.conf.set(conf_key, str(hours))
    try:
        (
            df.drop("h", "value_cents")
            .write.partitionBy("year", "month", "day", "hour")
            .options(sep="\t", header=False, quote="", emptyValue="", **WRITE_HADOOP_OPTIONS)
            .csv(out)
        )
    finally:
        spark.conf.set(conf_key, prev)
    expected = expected_of(df)
    meta = {
        "source": out,
        "partitions": [partition_of(i) for i in range(hours)],
        "expected": expected,
        "csv_bytes": {p: _dir_bytes(out, p) for p in expected},
    }
    # the metadata is written last: a pool without it is rebuilt
    with open(meta_path + ".tmp", "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    os.replace(meta_path + ".tmp", meta_path)
    return meta, False


def window(pool: dict, cache_root: str, seed: int, hours: int, missing_share: float = 0.0) -> dict:
    """Return the input of one run: the seed's window of ``hours``
    consecutive hours of ``pool``.

    The result is ``{"source", "partitions", "missing", "expected"}``:
    ``partitions`` lists the window's hours in order, ``missing`` those
    whose directory is left out of ``source``, and ``expected`` covers the
    others."""
    start, offsets = choose_window(seed, len(pool["partitions"]), hours, missing_share)
    parts = pool["partitions"][start : start + hours]
    missing = [parts[i] for i in offsets]
    present = [p for p in parts if p not in missing]
    source = pool["source"]
    if missing:
        name = f"{os.path.basename(pool['source'])}_h{hours}_s{seed}"
        source = os.path.join(cache_root, "windows", name)
        _link_window(pool["source"], present, source)
    return {
        "source": source,
        "partitions": parts,
        "missing": missing,
        "expected": {p: pool["expected"][p] for p in present},
    }


def _link_window(pool_root: str, partitions: list[str], out: str) -> None:
    """A source tree holding only ``partitions``: hard links to the pool's
    files, built once per window."""
    done = os.path.join(out, "_LINKED")
    if os.path.exists(done):
        os.utime(out)
        return
    shutil.rmtree(out, ignore_errors=True)
    for p in partitions:
        src, dst = hive_dir(pool_root, p), hive_dir(out, p)
        os.makedirs(dst)
        for name in os.listdir(src):
            os.link(os.path.join(src, name), os.path.join(dst, name))
    open(done, "w").close()
    _evict(os.path.dirname(out), keep=out)


def hive_dir(root: str, partition: str) -> str:
    return os.path.join(
        root,
        f"year={partition[0:4]}",
        f"month={partition[4:6]}",
        f"day={partition[6:8]}",
        f"hour={partition[8:10]}",
    )


def _dir_bytes(root: str, partition: str) -> int:
    d = hive_dir(root, partition)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for f in os.listdir(d)
        if not f.startswith((".", "_"))
    )


def _evict(cache_root: str, keep: str) -> None:
    """Drop the least recently used cached windows beyond ``CACHE_KEEP``."""
    entries = [
        os.path.join(cache_root, d)
        for d in os.listdir(cache_root)
        if os.path.isdir(os.path.join(cache_root, d))
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for path in entries[CACHE_KEEP:]:
        if path != keep:
            shutil.rmtree(path, ignore_errors=True)

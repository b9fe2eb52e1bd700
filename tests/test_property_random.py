"""Seeded randomized property tests: behavioral operators vs
brute-force Python oracles on adversarial random inputs (timestamp
ties, midnight-spanning intervals, empty groups). One Spark job per
test — the random cases ride in a single DataFrame.

Seeded (numpy RandomState) rather than hypothesis-driven so failures
reproduce exactly and CI time stays bounded.
"""

from collections import defaultdict
from datetime import datetime, timedelta

import numpy as np

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import behavior as B

BASE = datetime(2024, 1, 1)


def _rand_events(rng, n_users=40, n_events=600):
    rows = []
    types = ["signup", "view", "click", "purchase"]
    for i in range(n_events):
        u = int(rng.randint(1, n_users + 1))
        t = BASE + timedelta(
            # coarse minutes force frequent exact-timestamp ties
            minutes=int(rng.randint(0, 60 * 60)) // 7 * 7
        )
        ty = types[int(rng.randint(0, len(types)))]
        rows.append((i, u, ty, t, float(rng.randint(0, 100))))
    return rows


def test_funnel_matches_bruteforce(spark):
    rng = np.random.RandomState(42)
    rows = _rand_events(rng)
    steps = ["signup", "view", "purchase"]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "event_type", "ts", "value"]
    )
    got = {
        r["step"]: r["n_users"]
        for r in B.funnel_conversion(df, "user_id", "event_type", "ts", steps).collect()
    }

    by_user = defaultdict(list)
    for _, u, ty, t, _v in rows:
        by_user[u].append((ty, t))
    want = dict.fromkeys(steps, 0)
    for evs in by_user.values():
        reached = None
        for k, s in enumerate(steps):
            cand = [t for ty, t in evs if ty == s and (k == 0 or t > reached)]
            if not cand:
                break
            reached = min(cand)
            want[s] += 1
    assert got == want


def test_scd2_matches_bruteforce_runlength(spark):
    rng = np.random.RandomState(7)
    rows = _rand_events(rng, n_users=20, n_events=400)
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "event_type", "ts", "value"]
    )
    out = B.scd2_history(df, "user_id", "event_type", "ts", "event_id")
    got = sorted(
        (r["user_id"], r["event_type"], r["valid_from"], r["n_events"])
        for r in out.collect()
    )

    by_user = defaultdict(list)
    for eid, u, ty, t, _v in rows:
        by_user[u].append((t, eid, ty))
    want = []
    for u, evs in by_user.items():
        evs.sort()  # (ts, event_id) — the operator's declared order
        runs = []
        for t, _eid, ty in evs:
            if runs and runs[-1][0] == ty:
                runs[-1][2] += 1
            else:
                runs.append([ty, t, 1])
        for ty, t0, n in runs:
            want.append((u, ty, t0, n))
    assert got == sorted(want)


def test_concurrency_sweep_matches_bruteforce(spark):
    rng = np.random.RandomState(13)
    iv = []
    for _ in range(300):
        # starts cluster near midnight so intervals straddle days;
        # coarse grid forces exact start==end ties
        s = BASE + timedelta(minutes=int(rng.randint(0, 3 * 24 * 60)) // 10 * 10)
        e = s + timedelta(minutes=int(rng.randint(1, 12)) * 10)
        iv.append((s, e))
    df = spark.createDataFrame(iv, ["s", "e"])
    got = {
        str(r["hour_ts"]): r["max_concurrency"]
        for r in B.concurrency_sweep(df, "s", "e").collect()
    }

    # brute force: global sweep, end-before-start at equal timestamps
    deltas = [(s, 1) for s, _ in iv] + [(e, -1) for _, e in iv]
    deltas.sort(key=lambda p: (p[0], p[1]))
    run = 0
    want = {}
    for t, d in deltas:
        run += d
        if d == 1:
            h = t.replace(minute=0, second=0, microsecond=0)
            key = str(h)
            want[key] = max(want.get(key, 0), run)
    assert got == want


def test_resample_ffill_matches_bruteforce(spark):
    rng = np.random.RandomState(99)
    rows = []
    for i in range(200):
        k = int(rng.randint(1, 6))
        t = BASE + timedelta(minutes=int(rng.randint(0, 48 * 60)))
        rows.append((k, t, float(rng.randint(1, 10))))
    df = spark.createDataFrame(rows, ["k", "ts", "value"])
    got = {
        (r["k"], str(r["bucket_ts"])): (r["n_obs"], r["value_ffill"])
        for r in B.resample_ffill(df, "k", "ts", "value").collect()
    }

    by_key = defaultdict(list)
    for k, t, v in rows:
        by_key[k].append((t, v))
    want = {}
    for k, evs in by_key.items():
        hours = [t.replace(minute=0, second=0, microsecond=0) for t, _ in evs]
        lo, hi = min(hours), max(hours)
        sums = defaultdict(float)
        counts = defaultdict(int)
        for t, v in evs:
            h = t.replace(minute=0, second=0, microsecond=0)
            sums[h] += v
            counts[h] += 1
        cur = None
        h = lo
        while h <= hi:
            if counts[h]:
                cur = round(sums[h], 2)
            want[(k, str(h))] = (counts[h], cur)
            h += timedelta(hours=1)
    assert got == want


def test_cms_never_undercounts_on_zipf_stream(spark):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sketches import (
        countmin_query,
        countmin_sketch,
    )

    rng = np.random.RandomState(5)
    keys = [f"k{int(z)}" for z in rng.zipf(1.5, 3000) if z < 10_000]
    df = spark.createDataFrame([(k,) for k in keys], ["key"])
    truth = defaultdict(int)
    for k in keys:
        truth[k] += 1
    sketch = countmin_sketch(df, "key", depth=4, width=512)
    cands = spark.createDataFrame([(k,) for k in truth], ["key"])
    est = {
        r["key"]: r["cms_estimate"]
        for r in countmin_query(sketch, cands, "key", depth=4, width=512).collect()
    }
    assert all(est[k] >= n for k, n in truth.items())


def test_repetition_signals_match_bruteforce(spark):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.text import repetition_signals

    rng = np.random.RandomState(7)
    vocab = ["aa", "b", "ccc", "dd", "e"]
    rows = []
    for i in range(120):
        n = int(rng.randint(1, 12))  # includes sub-bigram/trigram docs
        rows.append((i, " ".join(vocab[int(rng.randint(0, 5))] for _ in range(n))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_signals(df, "doc_id", "text").collect()}
    for i, text in rows:
        words = text.split()
        counts = {w: words.count(w) for w in set(words)}
        top_chars = max(c * len(w) for w, c in counts.items() if c == max(counts.values()))
        total = sum(len(w) for w in words)
        assert got[i].top_word_char_frac == round(top_chars / total, 6), i
        for n, col in ((2, "dup_bigram_frac"), (3, "dup_trigram_frac")):
            grams = [tuple(words[j : j + n]) for j in range(len(words) - n + 1)]
            want = round(1 - len(set(grams)) / len(grams), 6) if grams else 0.0
            assert got[i][col] == want, (i, n)


def test_domain_cap_and_leakage_split_properties(spark):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sampling import domain_cap, leakage_safe_split

    rng = np.random.RandomState(11)
    rows = [(i, f"d{int(rng.randint(0, 7))}", f"txt {int(rng.randint(0, 25))}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, dom string, text string")
    capped = domain_cap(df, "dom", "doc_id", 10)
    per = {r["dom"]: r["count"] for r in capped.groupBy("dom").count().collect()}
    full = defaultdict(int)
    for _, d, _t in rows:
        full[d] += 1
    for d, n in full.items():
        assert per.get(d, 0) == min(n, 10), d  # exact cap, nothing lost below it

    split = leakage_safe_split(df, "doc_id", "text", {"train": 0.8, "val": 0.1, "test": 0.1})
    out = split.collect()
    # PROPERTY: same normalized text -> same split, always
    by_text = defaultdict(set)
    text_of = {i: t for i, _d, t in rows}
    for r in out:
        by_text[text_of[r.doc_id]].add(r.split)
    assert all(len(s) == 1 for s in by_text.values())


def test_length_buckets_pow2_property(spark):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.packing import length_buckets

    rng = np.random.RandomState(13)
    ns = sorted(set(int(rng.randint(1, 6000)) for _ in range(200)))
    df = spark.createDataFrame([(i, n) for i, n in enumerate(ns)], "doc_id long, n long")
    got = {r.doc_id: r.bucket for r in length_buckets(df, "doc_id", "n").collect()}
    for i, n in enumerate(ns):
        b = got[i]
        want = 1
        while want < n:
            want *= 2
        assert b == min(want, 4096), (n, b)
        assert b & (b - 1) == 0  # always a power of two


def test_hash_bucket_spark_duckdb_agree_on_random_int64(spark):
    """The masked Knuth bucket must agree between Spark and DuckDB for
    ANY 64-bit key — including negatives and extremes, where two's-
    complement & and overflow semantics could plausibly diverge — and
    always land in [0, 10000)."""
    import duckdb
    from pyspark.sql import functions as F

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sampling import hash_bucket

    rng = np.random.RandomState(7)
    keys = (
        [int(x) for x in rng.randint(-(2**62), 2**62, size=60)]
        + [0, -1, 1, 2**31 - 1, 2**31, -(2**31), 2**63 - 1, -(2**63)]
    )
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r.k: r.b
        for r in df.select("k", hash_bucket(F.col("k"), salt=3).alias("b")).collect()
    }
    assert all(0 <= b < 10_000 for b in got.values())
    con = duckdb.connect()
    want = {
        k: con.sql(
            f"SELECT ((((CAST({k} AS BIGINT) & 2147483647) + 3)"
            " & 2147483647) * 2654435761) % 10000"
        ).fetchone()[0]
        for k in keys
    }
    assert got == want


def test_ffd_oracle_matches_spark_kernel_on_random_sizes(spark):
    """The DuckDB list_reduce FFD fold and the Arrow-kernel Python walk
    must produce identical (shard, pack, doc) coordinates on random
    token sizes — overflow docs, exact-fit docs, and >2^31 doc ids (the
    shard-hash mask path) included."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.packing import pack_first_fit_nosplit
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.pipeline_extra import _ffd_oracle_sql

    rng = np.random.RandomState(11)
    n_docs = 120
    ids = list(rng.choice(10**6, size=n_docs - 2, replace=False))
    ids += [2**31 + 5, 2**33 + 17]  # mask path
    sizes = [int(rng.randint(1, 400)) for _ in ids]  # budget 256 → overflows

    docs = spark.createDataFrame(
        [(int(i), int(s)) for i, s in zip(ids, sizes)], "doc_id long, n_tokens long"
    )
    got = sorted(
        (r.shard, r.pack_id, r.doc_id, r.n_tokens)
        for r in pack_first_fit_nosplit(docs, budget=256, n_shards=8).collect()
    )

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            {"doc_id": ids, "text": [("w " * s).strip() for s in sizes]}
        ),
    )
    want = sorted(tuple(r) for r in con.sql(_ffd_oracle_sql(256, 8)).fetchall())
    assert got == want


def test_bpe_sql_cascade_matches_python_loop_on_random_corpus():
    """The unrolled placeholder-cascade SQL must replay _bpe_merge_loop
    decision-for-decision (pair counts, tie-breaks, merged-symbol
    reuse) on a random small corpus."""
    import duckdb
    import pandas as pd

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.text import _bpe_merge_loop
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.pipeline_extra import _bpe_merges_oracle_sql

    rng = np.random.RandomState(13)
    alphabet = list("abcd")
    words = [
        "".join(alphabet[int(rng.randint(0, 4))] for _ in range(int(rng.randint(1, 7))))
        for _ in range(300)
    ]
    texts = [
        " ".join(words[int(rng.randint(0, len(words)))] for _ in range(8))
        for _ in range(40)
    ]
    freq: dict[str, int] = {}
    for t in texts:
        for w in t.split():
            freq[w] = freq.get(w, 0) + 1
    want = [
        (i + 1, a, b, a + b, c)
        for i, (a, b, c) in enumerate(_bpe_merge_loop(freq, 8))
    ]

    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    got = [tuple(r) for r in con.sql(_bpe_merges_oracle_sql(n_merges=8)).fetchall()]
    assert got == want


def test_ewma_segmented_matches_direct_recursion(spark):
    """The per-day segmented fold + closed-form decay carry must equal
    the direct sequential EWMA recursion (different float association,
    so equality is to tolerance) for every user in the sf0.001 events."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.analytics_extra import q_ts_ewma
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {r.user_id: (r.n_events, r.ewma) for r in q_ts_ewma(spark, sf).collect()}

    ev = load_table(spark, sf, "events").select("user_id", "ts", "event_id", "value")
    series = defaultdict(list)
    for r in ev.collect():
        series[r.user_id].append((r.ts, r.event_id, float(r.value)))
    for u, rows in series.items():
        rows.sort()
        e = rows[0][2]
        for _, _, v in rows[1:]:
            e = 0.2 * v + 0.8 * e
        n, ewma = got[u]
        assert n == len(rows)
        assert abs(ewma - e) < 1e-5, (u, ewma, e)


def test_simhash_md5_fold_matches_bruteforce(spark):
    """The shuffle-free 60-bit fold of simhash(md5_family=True)
    vs a per-token Python brute force: term frequency weighting
    (duplicate tokens NOT deduplicated), whitespace runs, leading and
    trailing space, case folding, utf-8 hashing, and the empty-string
    token all pinned on adversarial random docs."""
    import hashlib
    import re

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.dedup import simhash

    rng = np.random.RandomState(7)
    vocab = ["alpha", "Beta", "GAMMA", "déjà", "x", "longtokenword", "42"]
    docs = []
    for i in range(60):
        n = int(rng.randint(0, 12))
        words = [vocab[int(rng.randint(0, len(vocab)))] for _ in range(n)]
        # adversarial whitespace: runs, tabs, leading/trailing space
        seps = ["  ", " ", "\t", "   "]
        text = seps[i % 4].join(words)
        if i % 5 == 0:
            text = " " + text + "  "
        docs.append((i, text))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in simhash(df, "doc_id", "text", md5_family=True).collect()}

    def brute(text):
        toks = re.split(r"\s+", text.strip().lower())  # '' -> [''] like F.split
        slots = [0] * 60
        for tok in toks:
            h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
            for j in range(60):
                slots[j] += 1 if (h >> j) & 1 else -1
        return sum((1 << j) for j in range(60) if slots[j] > 0)

    want = {i: brute(t) for i, t in docs}
    assert got == want


def test_interval_overlap_join_matches_bruteforce(spark):
    """Bucket-decomposition overlap join vs O(n^2) brute force on
    adversarial random intervals: zero-length intervals, exact-touch
    boundaries, multi-bucket spanners, duplicate rows (multiset
    semantics must be preserved — the canonical-bucket emission
    replaced a distinct), and negative epochs (floor-division bucket
    arithmetic)."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.temporal import interval_overlap_join

    rng = np.random.RandomState(11)
    W = 600

    def mk(side, n):
        rows = []
        for i in range(n):
            s = int(rng.randint(-3 * W, 6 * W))
            ln = int(rng.choice([0, 1, W - 1, W, 3 * W + 7]))
            rows.append((side * 1000 + i, s, s + ln))
        # duplicate a couple of rows verbatim (multiset check)
        rows.append(rows[0])
        rows.append(rows[1])
        return rows

    lrows, rrows = mk(1, 25), mk(2, 25)
    left = spark.createDataFrame(lrows, "id long, s long, e long")
    right = spark.createDataFrame(rrows, "id long, s long, e long")
    got = sorted(
        (r.id, r.r_id) for r in interval_overlap_join(
            left, right, bucket_secs=W
        ).collect()
    )
    want = sorted(
        (lid, rid)
        for lid, ls, le in lrows
        for rid, rs, re_ in rrows
        if ls <= re_ and rs <= le
    )
    assert got == want

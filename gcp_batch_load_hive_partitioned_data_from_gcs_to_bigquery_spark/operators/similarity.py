"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — exact brute-force top-k: broadcast the (small) query
  set against the full corpus; dot products run JVM-side via
  ``zip_with``/``aggregate`` expressions (no Python in the hot path).
  O(N·Q·d) but embarrassingly parallel — the right baseline, and the
  verifier for approximate paths.
* ``lsh_multiprobe_topk`` — the scale path: random-hyperplane LSH
  signatures (deterministic, seed-derived hyperplanes) bucket the corpus;
  each query only scores its own bucket and its probed neighbors.
  Sub-linear candidate sets at 100 TB, at the cost of approximate recall.

Everything returns DataFrames and shuffles only on bucket keys; the
corpus is never collected.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.snapshots import _fs


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))


def with_double_embedding(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Cast array<float> → array<double> so all scoring runs in float64
    (matches any SQL oracle computing in DOUBLE)."""
    return df.withColumn(col, F.transform(F.col(col), lambda x: x.cast("double")))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: list | None = None,
) -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, cosine) — k best corpus
    vectors per query, self-matches excluded. Queries are broadcast; the
    corpus streams through executors once. Norms are computed ONCE per
    side before the join — inside the join condition each corpus norm
    would be re-derived per query and each query norm per corpus row,
    multiplying the dominant arithmetic by (1 + |queries|).

    ``carry_cols``: corpus columns (functionally determined by the
    corpus id, e.g. a label) to ride through scoring and the top-k
    window into the output — saves the caller a second corpus scan +
    join-back to re-attach them (the ``countmin_query`` carry pattern).
    Ranking is unaffected: the window orders on (cosine, vec_id) only.
    Carried names must not collide with the output schema or with the
    scoring columns (``c_vec``/``c_norm``/``q_vec``/``q_norm``)."""
    carry = list(carry_cols or [])
    reserved = {"query_id", "vec_id", "cosine", "rank", "c_vec", "c_norm", "q_vec", "q_norm"}
    bad = reserved.intersection(carry)
    if bad:
        raise ValueError(f"carry_cols collide with output or scoring columns: {sorted(bad)}")
    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec"), *carry
    ).withColumn("c_norm", _norm(F.col("c_vec")))
    q = with_double_embedding(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("q_norm", _norm(F.col("q_vec")))
    scored = (
        c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm")),
        )
        .select("query_id", "vec_id", "cosine", *carry)
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank", *carry)
    )


def cosine_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k with a BLAS scoring kernel — same result set as
    :func:`cosine_topk`, built for the 100 TB corpus side.

    The query set (the broadcast-small side) is collected ONCE to a
    normalized ``Q×d`` numpy matrix shipped in the kernel closure — the
    moral equivalent of ``F.broadcast``, never the corpus. Each corpus
    Arrow batch scores as one ``(batch×d) @ (d×Q)`` matrix multiply, and
    the kernel emits only its PARTIAL top-k per query under the total
    order (cosine desc, vec_id asc) — exact, because vec_id is unique so
    the order has no ties, and a global top-k is the merge of per-batch
    top-k under any total order. The final window then ranks
    ``partitions×Q×k`` candidate rows instead of ``N×Q`` scored rows, so
    the shuffle stays metadata-sized no matter how big the corpus is.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    q_rows = (
        with_double_embedding(queries, vec_col)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .collect()
    )
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    Q = np.array([r["q_vec"] for r in q_rows], dtype=np.float64)
    Qn = (Q / np.linalg.norm(Q, axis=1, keepdims=True)).T  # d×Q

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def _kernel(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.array(list(pdf[vec_col]), dtype=np.float64)
            if C.size == 0:
                continue
            scores = (C / np.linalg.norm(C, axis=1, keepdims=True)) @ Qn  # b×Q
            outs = []
            for j, qid in enumerate(q_ids):
                s = scores[:, j]
                mask = ids != qid  # exclude self-match
                cand_ids, cand_s = ids[mask], s[mask]
                # exact partial top-k under (cosine desc, vec_id asc):
                # lexsort's last key is primary
                order = np.lexsort((cand_ids, -cand_s))[:k]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "vec_id": cand_ids[order],
                            "cosine": cand_s[order],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    scored = corpus.select(id_col, vec_col).mapInPandas(_kernel, out_schema)
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def hyperplane_signature(
    vec, num_planes: int, dim: int, seed: int = 42, md5_family: bool = False
):
    """Random-hyperplane LSH bit signature as an int (num_planes ≤ 31).

    Hyperplane p, dimension i has deterministic pseudo-random weight ±1
    — reproducible across runs, no stored model. sign(v·h_p) is bit p of
    the signature. The xxhash64 family takes the weight from
    ``xxhash64(p, i, seed)``'s low bit; ``md5_family=True`` uses the
    literal planes of :func:`hyperplane_weights_md5`, which a SQL oracle
    regenerates byte for byte."""
    if md5_family:
        planes = [F.array(*[F.lit(x) for x in w]) for w in hyperplane_weights_md5(num_planes, dim)]
    else:
        planes = [
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.when(
                    F.pmod(F.xxhash64(F.lit(p), i, F.lit(seed)), F.lit(2)) == 0,
                    F.lit(1.0),
                ).otherwise(F.lit(-1.0)),
            )
            for p in range(num_planes)
        ]
    sig = None
    for p, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(vec, plane, lambda x, h: x * h),
            F.lit(0.0),
            lambda s, v: s + v,
        )
        bit = F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return sig


TRAIN_SAMPLE_PER_CELL = 256  # k-means fit sees ≤ this many vectors per cell


def _train_sample(
    c: DataFrame, nlist: int, seed: int, per_cell: int | None = None
) -> DataFrame:
    """Deterministic, partitioning-independent sample of the corpus for
    quantizer training, capped at ~``TRAIN_SAMPLE_PER_CELL * nlist``
    rows: keep exactly the ids whose seed-keyed ``xxhash64`` falls under
    a threshold derived from the corpus row count. Unlike
    ``DataFrame.sample`` (partition-layout-dependent) the kept set is a
    pure function of (ids, nlist, seed), so a rebuilt or repartitioned
    corpus trains the identical quantizer.

    Cost discipline: corpora at or under the cap (every retrain-on-store
    path, all test SFs) are detected with a short-circuiting ``limit``
    probe — at most ``cap+1`` id rows touched per partition, never a full
    count. Above the cap, ONE id-pruned ``count()`` sizes the threshold:
    that single pass is irreducible for a deterministic
    partition-independent sample (the hash predicate can't come from
    metadata) and is amortized into an index build that already pays a
    full assignment pass plus the k-means iterations; the alternative
    (``KMeans.fit(corpus)`` directly) re-scans the corpus EVERY
    iteration — the 100-TB killer when ``nlist ∝ N``. The kept set is
    guarded against pathological id sets (massive vec_id collisions can
    starve the hash-bucket filter): a sample with fewer than ``nlist``
    rows falls back to the full corpus so ``KMeans(k=nlist)`` always
    sees at least k candidates. 256 samples/centroid is the standard
    IVF training density (FAISS's documented default regime)."""
    cap = (per_cell or TRAIN_SAMPLE_PER_CELL) * nlist
    ids = c.select("vec_id")
    if ids.limit(cap + 1).count() <= cap:
        return c
    n = ids.count()
    buckets = 1 << 20
    keep = -(-cap * buckets // n)  # ceil: expected sample size >= cap
    sampled = c.filter(
        F.pmod(
            F.xxhash64(F.col("vec_id").cast("string"), F.lit(seed)), F.lit(buckets)
        )
        < keep
    )
    # persist-then-count: the count that guards the k>n KMeans crash is
    # the same scan that materializes the ~cap-row cache the fit's
    # iterations read — the guard costs no extra corpus pass (bounded to
    # one live cache via scoped_persist)
    from ._cache import scoped_persist

    sampled = scoped_persist(sampled, "similarity.train_sample")
    if sampled.count() < nlist:
        return c
    return sampled


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    trained: bool = True,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse quantizer
    partitions the corpus into ``nlist`` cells; each query scores only its
    ``nprobe`` nearest cells.

    ``trained=True``: index build = one KMeans fit on a DETERMINISTIC
    HASH-SAMPLE (:func:`_trained_centroid_rows` — seed-keyed
    ``xxhash64(vec_id)`` threshold, capped at ~256·nlist vectors, see
    ``_train_sample``) + one full-corpus assignment pass. Sampling the
    fit is what keeps the build LINEAR at 100 TB: with ``nlist ∝ N`` a
    full-corpus fit would re-scan the corpus every k-means iteration;
    the sample is partitioning-independent (pure hash predicate), so the
    trained quantizer is stable for a given (corpus, nlist, seed).

    ``trained=False``: the centroids are the ``nlist`` corpus vectors
    with the smallest ids (:func:`_seed_centroid_rows` — the k-means||
    init step without the iterations). No random training, and every
    arithmetic step (squared-distance assignment, cosine re-rank,
    (dist, cell) tie-breaks) exists verbatim in ANSI SQL — so the ENTIRE
    IVF pipeline is value-checkable by an external oracle. Quantization
    quality is worse than trained centroids.

    Both quantizers share one plan: centroids broadcast (nlist rows),
    corpus assignment = BLAS argmin mapInPandas kernel emitting O(N) rows
    (:func:`_assign_cells_blas` — shuffle-free, no N×nlist intermediate),
    the cell id as the join key so a query reads ~``nprobe/nlist`` of the
    corpus, re-rank only inside probed cells. The QUERY-side assignment
    keeps the tiny crossJoin (Q×nlist rows, both sides broadcast-small)
    because the oracle needs its nprobe ranking verbatim in SQL."""
    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    q = with_double_embedding(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )

    # nlist centroid rows, collected once (bounded, broadcast-small)
    centroid_rows = (
        _trained_centroid_rows(c, nlist, seed) if trained else _seed_centroid_rows(c, nlist)
    )
    centroids = corpus.sparkSession.createDataFrame(
        centroid_rows, "cell int, centroid array<double>"
    )
    assigned = _assign_cells_blas(c, centroid_rows)

    qc = q.crossJoin(F.broadcast(centroids)).withColumn(
        "dist2",
        F.aggregate(
            F.zip_with("q_vec", "centroid", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, v: s + v,
        ),
    )
    probe_w = W.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc("cell"))
    probes = (
        qc.withColumn("probe_rank", F.row_number().over(probe_w))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "q_vec", "cell")
    )

    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("q_vec"), F.col("c_vec")) / (_norm(F.col("q_vec")) * _norm(F.col("c_vec"))),
        )
        .select("query_id", "vec_id", "cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    codebook_size: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization approximate top-k — the memory-compression
    scale path: each d-dim vector is stored as ``m`` one-byte codes
    (here 8 bytes instead of 512), and queries score codes via ADC
    (asymmetric distance computation) lookup tables instead of touching
    raw vectors. At 100 TB this is the difference between the index
    fitting in executor memory or not (FAISS's IVF-PQ storage layout).

    Deterministic seed codebooks (the ``codebook_size`` lowest-id corpus
    vectors, split into ``m`` subspaces — same device as the IVF oracle
    variant's seed quantizer) make the WHOLE pipeline reproducible in
    ANSI SQL, so encode→ADC→rank is value-checkable against a DuckDB
    oracle; swap in k-means-trained codebooks per subspace for recall.

    Plan shape: codebooks and the query set ride in kernel closures
    (broadcast-small); the corpus streams ONCE through an Arrow-batched
    encode+score kernel that emits per-batch partial top-k under the
    total order (adc_dist asc, vec_id asc) — exact w.r.t. the quantized
    distances, with a metadata-sized final ranking shuffle exactly like
    :func:`cosine_topk_blas`. Returns (query_id, vec_id, adc_dist, rank).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    _, books, sub = _pq_seed_books(corpus, codebook_size, m, id_col, vec_col)

    q_rows = (
        with_double_embedding(queries, vec_col)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .collect()
    )
    if not q_rows:  # empty queries: empty result, not a shape error
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, vec_id long, adc_dist double, rank int"
        )
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    Q = np.array([r["q_vec"] for r in q_rows], dtype=np.float64)
    # ADC tables: for each query and subspace, distance to every centroid
    # — Qn×m×cb doubles, computed once on the driver (chunked: cb ∝
    # corpus under the maintenance contract, Q can be a real batch)
    adc = np.stack(
        [_sqdist_chunked(Q[:, s * sub : (s + 1) * sub], books[s]) for s in range(m)],
        axis=1,
    )  # q×m×cb

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("adc_dist", T.DoubleType()),
        ]
    )

    def _kernel(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            if V.size == 0:
                continue
            # encode: per subspace, nearest centroid (ties → lowest code,
            # numpy argmin picks the first = lowest index)
            codes = np.stack(
                [
                    _argmin_sqdist_chunked(V[:, s * sub : (s + 1) * sub], books[s])
                    for s in range(m)
                ],
                axis=1,
            )  # b×m — running argmin: no b×cb matrix, cb ∝ corpus
            outs = []
            for j, qid in enumerate(q_ids):
                # ADC score: sum of per-subspace table lookups
                s_dist = adc[j][np.arange(m)[None, :], codes].sum(axis=1)  # b
                mask = ids != qid
                cand_ids, cand_d = ids[mask], s_dist[mask]
                order = np.lexsort((cand_ids, cand_d))[:k]
                outs.append(
                    pd.DataFrame(
                        {"query_id": qid, "vec_id": cand_ids[order], "adc_dist": cand_d[order]}
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    scored = with_double_embedding(corpus, vec_col).select(id_col, vec_col).mapInPandas(
        _kernel, out_schema
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "adc_dist", "rank")
    )


def _pq_seed_books(corpus: DataFrame, codebook_size: int, m: int, id_col: str, vec_col: str):
    """Deterministic seed codebooks + centroids for the oracle-checkable
    IVF-PQ path: the lowest-id corpus vectors, split per subspace."""
    import numpy as np

    rows = (
        with_double_embedding(
            corpus.filter(F.col(id_col) < codebook_size).orderBy(id_col), vec_col
        )
        .select(vec_col)
        .collect()
    )
    C = np.array([r[0] for r in rows], dtype=np.float64)
    d = C.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    return C, [C[:, s * sub : (s + 1) * sub] for s in range(m)], sub


def _sqdist_chunked(A, B, budget: int = 1 << 24):
    """Exact squared-L2 distance matrix (|A|×|B|) without materializing
    the |A|×|B|×d broadcast intermediate. Each (i, j) entry is computed
    by the SAME per-element arithmetic as
    ``((A[:, None, :] - B[None, :, :]) ** 2).sum(axis=2)`` — B is merely
    processed in row chunks — so every distance, every argmin and every
    first-minimum tie-break is bit-identical to the unchunked form (the
    oracles recompute these values; they must not move). The 3-D
    temporary is capped at ~``budget`` float64s (default 128 MB, one
    in-place-squared array per chunk); the RETURNED |A|×|B| matrix
    still scales with |B| — callers that only need assignments use
    :func:`_argmin_sqdist_chunked`, which folds the chunks into a
    running argmin and allocates nothing |B|-sized. This matters
    because B is the centroid/codebook table and the IVF maintenance
    contract scales nlist (and codebook_size) ∝ corpus: at nlist=1600
    the broadcast form materialized ~8 GB per Arrow batch per worker
    and crashed the executors (r15 K=100 index build)."""
    import numpy as np

    a, d = A.shape

    def block(chunk):
        dv = A[:, None, :] - chunk[None, :, :]
        np.square(dv, out=dv)  # in place: one a×step×d temporary, not two
        return dv.sum(axis=2)

    step = max(1, int(budget // max(1, a * d)))
    if step >= B.shape[0]:
        return block(B)
    return np.concatenate(
        [block(B[s : s + step]) for s in range(0, B.shape[0], step)],
        axis=1,
    )


def _argmin_sqdist_chunked(A, B, budget: int = 1 << 24):
    """``_sqdist_chunked(A, B).argmin(axis=1)`` without materializing
    the |A|×|B| distance matrix either: a running (min, argmin) folds
    over the same chunks, with a strict ``<`` update so the FIRST
    minimum wins across chunk boundaries — exactly ``np.argmin``'s
    first-minimum tie rule on the full matrix, entry arithmetic
    unchanged. This is the assignment path's memory story completed:
    the 3-D intermediate is chunk-bounded (above) AND the 2-D result
    no longer grows with nlist/codebook_size, so encode memory is
    genuinely corpus-independent (the full-matrix form still backs the
    callers that need every distance, e.g. query-side ADC tables and
    nprobe cell ranking, whose output is bounded by the query batch).

    Precondition: FINITE inputs (np.argmin's full-matrix tie rule for
    NaN — "first NaN position wins" — cannot be reproduced by a
    strict ``<`` fold across chunks, and no caller feeds non-finite
    embeddings: the encode/assign paths operate on parquet float
    columns the health checks screen). B must be non-empty — argmin
    over zero candidates has no value (np.argmin raises too)."""
    import numpy as np

    if B.shape[0] == 0:
        raise ValueError("_argmin_sqdist_chunked: empty candidate set B")
    a, d = A.shape
    step = max(1, int(budget // max(1, a * d)))
    best = None
    best_idx = None
    for s in range(0, B.shape[0], step):
        dv = A[:, None, :] - B[s : s + step][None, :, :]
        np.square(dv, out=dv)
        dist = dv.sum(axis=2)
        idx = dist.argmin(axis=1)
        val = dist[np.arange(a), idx]
        if best is None:
            best, best_idx = val, idx + s
        else:
            upd = val < best  # strict: earlier chunk keeps ties (first-min)
            best = np.where(upd, val, best)
            best_idx = np.where(upd, idx + s, best_idx)
    return best_idx


def _pq_encode_kernel(
    cents, books, m: int, sub: int, id_col: str, vec_col: str, keep_vec: bool = False
):
    """Arrow-batched assignment+encode kernel shared by index build and
    append: argmin-L2 coarse cell (ties → lowest cell: np.argmin picks
    the first minimum) plus per-subspace nearest-codebook-entry codes.
    Centroids/codebooks ride in the closure — nothing shuffles.
    ``keep_vec=True`` additionally carries the raw float64 vector into
    a ``c_vec`` output column — the refine store (FAISS
    IndexRefineFlat analog) that makes exact rescoring a
    partition-pruned GET instead of a second corpus scan; parquet's
    columnar layout means code-only scans never read those pages."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    fields = [
        T.StructField("vec_id", T.LongType()),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ]
    if keep_vec:
        fields.append(T.StructField("c_vec", T.ArrayType(T.DoubleType())))
    fields.append(T.StructField("cell", T.IntegerType()))
    out_schema = T.StructType(fields)

    def _kernel(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            if V.size == 0:
                continue
            # chunked running argmin: cents/books rows scale ∝ corpus
            # (nlist contract) — the kernel's memory must not; neither
            # the 3-D temporary NOR a batch×nlist distance matrix may
            # materialize (r15 K=100 OOM lesson)
            cells = _argmin_sqdist_chunked(V, cents)
            codes = np.stack(
                [
                    _argmin_sqdist_chunked(V[:, s * sub : (s + 1) * sub], books[s])
                    for s in range(m)
                ],
                axis=1,
            )
            out = {
                "vec_id": ids,
                "codes": [list(map(int, r)) for r in codes],
            }
            if keep_vec:
                out["c_vec"] = [row.tolist() for row in V]
            out["cell"] = cells.astype("int32")
            yield pd.DataFrame(out)

    return _kernel, out_schema


def _load_pq_meta(spark: SparkSession, index_path: str) -> dict | None:
    """The index's layout metadata (`_quantizer/meta.json`, stamped by
    :func:`build_ivf_pq_index`) via one metadata-only stat + one small
    read — never a data-directory listing. ``None`` for an index built
    before the stamp existed. The stat is an EXACT-path ``fs.exists``
    (not globStatus — an index_path containing glob metacharacters
    must probe literally, r15 ADVICE), and unparseable JSON (a torn
    stamp from a pre-atomic-write crash) degrades to ``None`` — the
    callers' root-schema fallback — instead of failing every
    subsequent read forever."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.snapshots import _read_small_file
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.probe import _path_exists

    # resolve the live snapshot first (idempotent when the caller
    # already pinned one — internal callers do, keeping quantizer and
    # cells on the same version; external callers may pass the root)
    meta_path = f"{_live_index_root(spark, index_path)}/_quantizer/meta.json"
    if not _path_exists(spark, meta_path):
        return None
    try:
        return json.loads(_read_small_file(spark, meta_path))
    except Exception:
        # ANY failure to read or parse degrades to None (the callers'
        # root-schema fallback), not just torn JSON: a reader racing an
        # append's atomic re-stamp can pass the fs.exists probe and then
        # lose the delete→rename window — fs.open raises
        # FileNotFoundException through py4j, which is a transient
        # "not stamped right now", not an index error (r16 ADVICE).
        return None


def _load_pq_quantizer(spark: SparkSession, index_path: str):
    """(centroids, codebooks, m, sub) from the index's ``_quantizer/``
    store — metadata-sized (nlist×dim + m×codebook×sub doubles).
    Resolves the live snapshot (idempotent on a pinned root)."""
    import numpy as np

    qroot = f"{_live_index_root(spark, index_path)}/_quantizer"
    cent_rows = spark.read.parquet(f"{qroot}/centroids").orderBy("cell").collect()
    cents = np.array([r["centroid"] for r in cent_rows], dtype=np.float64)
    book_rows = spark.read.parquet(f"{qroot}/codebooks").orderBy("s", "code").collect()
    m = 1 + max(r["s"] for r in book_rows)
    books = [
        np.array([r["subvector"] for r in book_rows if r["s"] == s], dtype=np.float64)
        for s in range(m)
    ]
    return cents, books, m, books[0].shape[1]


def append_ivf_pq_index(
    new_vectors: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """INCREMENTAL index maintenance — the reason the inverted file is a
    partition layout: new vectors are encoded with the STORED quantizer
    (no retrain, no rebuild, no touch of existing codes) and appended
    into their cells' partitions. At 100 TB an hourly embedding batch
    costs one narrow encode pass over the batch plus appends into the
    affected cell directories — O(batch), never O(index) — the same
    amortization contract as persist_corpus_bands and the zone-map
    refresh. Centroids stay fixed between rebuilds (the FAISS
    ``add``-after-``train`` contract); periodic retrain-and-rebuild
    handles drift.

    The append resolves the live snapshot ONCE and writes into it IN
    PLACE (new files in existing ``cell=N`` dirs — concurrent readers
    of the same snapshot see pre- or post-append rows per the parquet
    job commit, never torn files). It is part of the single-writer
    maintenance family: an append racing a compact/retrain publish
    would land rows in the snapshot the publish is about to supersede
    and lose them at the pointer flip — same contract as every
    file-level table maintenance protocol (and why the r17 rename-aside
    predecessor's append-vs-crashed-swap hazard is structurally gone:
    appends never recreate directories a recovery pass could mistake
    for a completed swap; there are no recovery renames at all)."""
    spark = new_vectors.sparkSession
    root = index_path
    index_path = _live_index_root(spark, index_path)  # resolve ONCE
    cents, books, m, sub = _load_pq_quantizer(spark, index_path)
    # match the live index's layout: a refine-store index (c_vec column,
    # build_ivf_pq_index store_vectors=True) appends vectors too. The
    # build stamps store_vectors into _quantizer/meta.json so this is
    # one stat+read; for a pre-meta index the fallback root-schema read
    # (O(nlist) listing) runs ONCE and stamps the meta it learned, so
    # only the first append of an old index pays it.
    meta = _load_pq_meta(spark, index_path)
    if meta is not None:
        keep_vec = bool(meta.get("store_vectors"))
    else:
        keep_vec = "c_vec" in spark.read.parquet(index_path).columns
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.snapshots import _write_small_file

        # stamp the SAME schema the build stamps (store_vectors, nlist,
        # m) — nlist/m recovered from the already-loaded quantizer — so
        # a reader of meta["nlist"]/meta["m"] never KeyErrors on a
        # pre-meta index that has been appended once (r15 ADVICE)
        _write_small_file(
            spark,
            f"{index_path.rstrip('/')}/_quantizer/meta.json",
            json.dumps(
                {"store_vectors": keep_vec, "nlist": int(cents.shape[0]), "m": int(m)}
            ),
        )
    kernel, out_schema = _pq_encode_kernel(
        cents, books, m, sub, id_col, vec_col, keep_vec=keep_vec
    )
    (
        with_double_embedding(new_vectors, vec_col)
        .select(id_col, vec_col)
        .mapInPandas(kernel, out_schema)
        # one small shuffle of the ENCODED batch → one file per touched
        # cell per append (same clustering rationale as the build; an
        # unshuffled partitionBy append would add a file per
        # (input split x touched cell) every batch and re-grow the
        # file-count the clustered build bounded)
        .repartition(F.col("cell"))
        .sortWithinPartitions("cell", "vec_id")  # see build: leading cell
        # key keeps Spark from inserting its own (stability-unguaranteed)
        # sort above the vec_id order
        .write.partitionBy("cell")
        .mode("append")
        .parquet(index_path)
    )
    return root


def _list_cell_dirs(spark: SparkSession, index_path: str) -> list[str]:
    """The index's ``cell=N`` partition directories via ONE exact-path
    ``listStatus`` of the root (no glob interpretation of a
    user-supplied index_path; ``_quantizer/`` and dot/underscore files
    are skipped). O(nlist) driver-side metadata — a MAINTENANCE-time
    listing (build/compact/audit), never on the query path, which
    stays directory-enumerated via :func:`_read_index_cells`."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(index_path.rstrip("/"))
    fs = root.getFileSystem(conf)
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        # STRICT cell=<int> match: anything else under the root
        # (foreign dirs, partial partition names) is ignored instead
        # of crashing the int sort below
        if st.isDirectory() and name.startswith("cell="):
            try:
                int(name.split("=", 1)[1])
            except ValueError:
                continue
            out.append(f"{index_path.rstrip('/')}/{name}")
    return sorted(out, key=lambda p: int(p.rsplit("=", 1)[1]))


def ivf_pq_index_file_stats(spark: SparkSession, index_path: str) -> dict:
    """Metadata-only small-files health number for an IVF-PQ index —
    the signal a maintenance loop watches to schedule
    :func:`compact_ivf_pq_index`: every :func:`append_ivf_pq_index`
    batch adds one file per touched cell, so ``max_files_per_cell``
    counts the appends since the last build/compact and is exactly the
    number of footer opens each probed-cell GET pays per cell. Stats
    cover the LIVE snapshot only (retained grace copies and crashed
    stages are retention concerns, not file health). Returns
    {n_cells, n_files, max_files_per_cell}."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    n_files, max_per_cell = 0, 0
    cell_dirs = _list_cell_dirs(spark, _live_index_root(spark, index_path))
    for d in cell_dirs:
        p = jvm.org.apache.hadoop.fs.Path(d)
        fs = p.getFileSystem(conf)
        n = sum(
            1
            for st in fs.listStatus(p)
            if st.isFile() and not st.getPath().getName().startswith(("_", "."))
        )
        n_files += n
        max_per_cell = max(max_per_cell, n)
    return {
        "n_cells": len(cell_dirs),
        "n_files": n_files,
        "max_files_per_cell": max_per_cell,
    }


_VERSION_POINTER = "_VERSION"


def _index_version(spark: SparkSession, index_path: str) -> int | None:
    """The committed snapshot version from ``{root}/_VERSION`` — the
    index's single source of truth (r17 verdict task 1: the publish
    pattern the semantic-cells store already used, applied to the
    index layout). ``None`` when the pointer is absent: a brand-new
    path, a pre-versioned legacy tree, or an ALREADY-RESOLVED
    ``v=N`` directory (no pointer lives inside a version). A torn
    pointer cannot exist — :func:`snapshots._write_small_file` stages
    to a temp name and renames, so a reader sees the old content, the
    new content, or (inside the delete→rename microwindow) no file;
    the caller retries the missing case once."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.snapshots import _read_small_file
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.probe import _path_exists

    ptr = f"{index_path.rstrip('/')}/{_VERSION_POINTER}"
    if not _path_exists(spark, ptr):
        return None
    try:
        content = _read_small_file(spark, ptr)
    except Exception:
        # the open itself can lose the delete→rename microwindow after
        # the exists probe passed — same "missing right now" semantics
        return None
    try:
        return int(json.loads(content)["v"])
    except Exception:
        # content READ fine but does not parse: external corruption, not
        # a publish race (_write_small_file is atomic — torn content
        # cannot come from this code). Coercing this to "missing" would
        # route callers to "re-run build", whose first publish sweeps
        # every committed snapshot (prev=None) — destroying intact data
        # over an 8-byte pointer. Raise the repairable truth instead.
        raise ValueError(
            f"corrupt {_VERSION_POINTER} pointer at {ptr}: {content!r} — "
            'restore it to {"v": N} naming the live snapshot directory; '
            "the v=N snapshots themselves are untouched (do NOT rebuild)"
        )


def _index_version_dirs(spark: SparkSession, index_path: str) -> dict:
    """{version: path} for the ``v=N`` snapshot directories under the
    index root — one exact-path ``listStatus`` (no glob interpretation
    of a user-supplied path), O(#versions) = O(2) in steady state.
    Empty when the root itself does not exist."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    base = index_path.rstrip("/")
    root = jvm.org.apache.hadoop.fs.Path(base)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return {}
    out = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v="):
            try:
                out[int(name.split("=", 1)[1])] = f"{base}/{name}"
            except ValueError:
                continue  # foreign dir; ignore rather than crash
    return out


def _live_index_root(spark: SparkSession, index_path: str) -> str:
    """Resolve the index path to its LIVE snapshot directory
    (``{root}/v=P`` per the ``_VERSION`` pointer). Resolution is the
    reader-side half of the publish protocol: every operation resolves
    ONCE at entry and uses the resolved root for the quantizer AND the
    cells, so a publish landing mid-operation can never mix two
    versions' artifacts. Idempotent — a path with no pointer and no
    ``v=N`` children (an already-resolved snapshot dir, or a
    pre-versioned legacy tree) resolves to itself, so internal helpers
    may re-resolve a resolved root at the cost of one stat. A missing
    pointer OVER version directories is re-probed once (the atomic
    pointer rewrite's delete→rename microwindow can only surface as
    "missing"), then raised — it means a crashed initial build, which
    a re-run of :func:`build_ivf_pq_index` repairs."""
    base = index_path.rstrip("/")
    v = _index_version(spark, base)
    if v is not None:
        return f"{base}/v={v}"
    # no pointer: an already-resolved ``v=N`` snapshot dir re-resolves
    # to itself by NAME alone — ONE stat, and never a listing, which
    # would put an O(nlist) listStatus on the query path every helper
    # re-resolution (nlist ∝ corpus; the corpus-independent-listing
    # contract of _read_index_cells). A root the user literally named
    # ``v=<int>`` without a pointer inside is indistinguishable and
    # also resolves to itself, failing later with a clear
    # missing-quantizer error.
    tail = base.rsplit("/", 1)[-1]
    if tail.startswith("v=") and tail[2:].isdigit():
        return base
    # a pre-versioned LEGACY tree (or a snapshot dir under an odd name)
    # carries its quantizer at the root: one more stat resolves it with
    # no listing — and it wins over any stray v=N garbage beside it (a
    # crashed first migrate must not brick reads of the intact legacy
    # tree)
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.probe import _path_exists

    if _path_exists(spark, f"{base}/_quantizer"):
        return base
    if _index_version_dirs(spark, base):
        # version dirs, no pointer, no legacy tree: either the atomic
        # pointer rewrite's delete→rename microwindow (the spaced
        # retries see it land) or a crash before the first publish
        # (raise — build_ivf_pq_index repairs it)
        import time as _time

        for backoff in (0.05, 0.2):
            _time.sleep(backoff)
            v = _index_version(spark, base)
            if v is not None:
                return f"{base}/v={v}"
        raise ValueError(
            f"{base} has v=N snapshot directories but no committed "
            f"{_VERSION_POINTER} pointer (crashed before its first "
            "publish) — re-run build_ivf_pq_index"
        )
    return base


def _stamp_index_version(spark: SparkSession, index_path: str, v: int) -> None:
    """Atomically point ``{root}/_VERSION`` at snapshot ``v`` — THE
    publish step: one small-file rename, after which every new
    resolution sees the new snapshot. Nothing else moves."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.snapshots import _write_small_file

    _write_small_file(
        spark, f"{index_path.rstrip('/')}/{_VERSION_POINTER}", json.dumps({"v": int(v)})
    )


def _next_index_version(spark: SparkSession, index_path: str) -> int:
    """The next unused snapshot number: above every on-disk ``v=N``
    (committed or crashed-stage garbage) and the committed pointer."""
    cur = _index_version(spark, index_path)
    dirs = _index_version_dirs(spark, index_path)
    return max(list(dirs) + [cur or 0]) + 1


def _entry_sweep(spark: SparkSession, index_path: str, cur) -> list:
    """Maintenance-entry reclamation: keep the live snapshot and the
    ACTUAL previous on-disk version (the reader grace copy), delete
    everything else — crashed stages above the pointer and versions
    aged past the grace. "Previous" is the highest on-disk version
    below the pointer, NOT ``cur-1`` by arithmetic: version numbers
    skip past crashed stages (``_next_index_version``), so a numeric
    guess could delete the real grace copy out from under an in-flight
    reader while leaving nothing it meant to keep."""
    if cur is None:
        return []
    prevs = [v for v in _index_version_dirs(spark, index_path) if v < cur]
    keep = {cur} | ({max(prevs)} if prevs else set())
    return _sweep_index_versions(spark, index_path, keep)


def _sweep_index_versions(spark: SparkSession, index_path: str, keep: set) -> list:
    """Delete every ``v=N`` snapshot directory whose version is not in
    ``keep`` — the ONE reclamation path for the whole maintenance
    family (r17 verdict task 1: `_reclaim_cell_swaps` and
    `_recover_root_swap` collapse into this sweep). Uncommitted
    versions above the pointer are crashed staged builds; versions
    below ``pointer-1`` have aged past the one-publish reader grace.
    Returns the versions removed."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    removed = []
    for v, path in sorted(_index_version_dirs(spark, index_path).items()):
        if v in keep:
            continue
        p = jvm.org.apache.hadoop.fs.Path(path)
        p.getFileSystem(conf).delete(p, True)
        removed.append(v)
    return removed


def _publish_index_version(spark: SparkSession, index_path: str, new_v: int):
    """Commit snapshot ``new_v``: flip the pointer (atomic rename),
    then sweep every version except {new, previous}. Keeping the
    PREVIOUS snapshot one more generation is the reader grace the
    cells store's `_reclaim_old_versions` established: a reader that
    resolved the old pointer keeps a complete, immutable tree under
    its feet across this publish (snapshot isolation — the
    manifest-protocol answer to the r17 ADVICE probe-to-scan TOCTOU).
    Only a reader slower than TWO consecutive publishes can lose its
    snapshot — the same retention contract as Delta/Iceberg vacuum.
    Returns the previous version (None for a first publish)."""
    prev = _index_version(spark, index_path)
    _stamp_index_version(spark, index_path, new_v)
    keep = {new_v} if prev is None else {new_v, prev}
    _sweep_index_versions(spark, index_path, keep)
    return prev


def vacuum_ivf_pq_index(spark: SparkSession, index_path: str) -> dict:
    """Owner-invoked retention: drop every snapshot except the live
    one (the grace copy :func:`_publish_index_version` retains is for
    in-flight readers; once the owner knows readers have drained —
    e.g. a maintenance-cron tick later — this reclaims the disk).
    Returns {version, removed}."""
    base = index_path.rstrip("/")
    cur = _index_version(spark, base)
    if cur is None:
        raise ValueError(f"no committed {_VERSION_POINTER} pointer under {base}")
    removed = _sweep_index_versions(spark, base, {cur})
    return {"version": cur, "removed": removed}


def migrate_ivf_pq_index(spark: SparkSession, index_path: str) -> dict:
    """One-time in-place migration of a pre-versioned (r17-layout)
    index — cells and ``_quantizer`` directly under the root — onto the
    version-pointer snapshot layout. The ONE publish in the protocol
    without a retained previous snapshot: the legacy tree is deleted
    after the pointer flip (it cannot be retained — it lives at the
    names the root itself owns), so the caller must DRAIN CONCURRENT
    READERS first; every subsequent publish restores the one-generation
    grace contract. Steps:

    1. reconcile any r17 rename-aside crash state: a cell parked under
       ``{root}/.__old/`` whose live dir is missing is restored (the
       r17 protocol's guarantee, honored across the upgrade); a parked
       cell whose live dir exists is a stale aside and is dropped;
    2. stage snapshot v=N from the legacy cells (the compactor's
       clustering write — the migrated index also comes out at one
       sorted file per cell) and copy the quantizer verbatim;
    3. publish by pointer flip, then delete the legacy cell dirs and
       ``{root}/_quantizer``.

    Idempotent: re-run after a crash at any step and it resumes —
    before the flip the legacy tree is still the (only) live index and
    the dead stage is swept; after the flip the pointer wins and only
    the leftover legacy cleanup re-runs. Returns {version, migrated,
    n_rows|None, legacy_dirs_removed}."""
    from pyspark.sql import Observation

    base = index_path.rstrip("/")
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()

    def _delete(path_str: str) -> bool:
        pth = jvm.org.apache.hadoop.fs.Path(path_str)
        fs = pth.getFileSystem(conf)
        if fs.exists(pth):
            fs.delete(pth, True)
            return True
        return False

    cur = _index_version(spark, base)
    if cur is not None:
        # already versioned: resume a crashed post-flip cleanup
        removed = sum(_delete(d) for d in _list_cell_dirs(spark, base))
        removed += _delete(f"{base}/_quantizer")
        removed += _delete(f"{base}/.__old")
        return {
            "version": cur,
            "migrated": False,
            "n_rows": None,
            "legacy_dirs_removed": int(removed),
        }

    # 1. r17 crash reconciliation (the removed _reclaim_cell_swaps
    # contract, honored one last time across the layout upgrade)
    aside = f"{base}/.__old"
    japath = jvm.org.apache.hadoop.fs.Path(aside)
    fs = japath.getFileSystem(conf)
    if fs.exists(japath):
        for d in _list_cell_dirs(spark, aside):
            name = d.rsplit("/", 1)[1]
            live_p = jvm.org.apache.hadoop.fs.Path(f"{base}/{name}")
            parked = jvm.org.apache.hadoop.fs.Path(d)
            if fs.exists(live_p):
                fs.delete(parked, True)  # swap had completed; aside stale
            elif not fs.rename(parked, live_p):
                raise IOError(f"restore {parked} -> {live_p} failed")
        fs.delete(japath, True)

    legacy_dirs = _list_cell_dirs(spark, base)
    if not legacy_dirs:
        raise ValueError(f"no legacy cell directories under {base}")

    # 2. stage the first snapshot (clustering write, quantizer verbatim)
    new_v = _next_index_version(spark, base)
    target = f"{base}/v={new_v}"
    obs = Observation("migrate_rows")
    (
        spark.read.option("basePath", base)
        .parquet(*legacy_dirs)
        .observe(obs, F.count(F.lit(1)).alias("n_rows"))
        .repartition(F.col("cell"))
        .sortWithinPartitions("cell", "vec_id")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(target)
    )
    n_rows = int(obs.get["n_rows"])
    _copy_quantizer(spark, base, target)

    # 3. publish, then drop the legacy tree (readers drained per contract)
    _publish_index_version(spark, base, new_v)
    removed = sum(_delete(d) for d in legacy_dirs)
    _delete(f"{base}/_quantizer")
    return {
        "version": new_v,
        "migrated": True,
        "n_rows": n_rows,
        "legacy_dirs_removed": int(removed),
    }


def read_ivf_pq_index(spark: SparkSession, index_path: str) -> DataFrame:
    """The live snapshot's full rows (vec_id, codes[, c_vec], cell) —
    the supported way to scan a whole index (``spark.read.parquet`` of
    the ROOT would see every retained snapshot at once). One pointer
    read + one partitioned scan of ``{root}/v=P``; ``_quantizer`` is
    underscore-hidden from the partition discovery."""
    return spark.read.parquet(_live_index_root(spark, index_path))


def _copy_quantizer(spark: SparkSession, src_root: str, dst_root: str) -> None:
    """Bit-exact filesystem copy of ``{src}/_quantizer`` into the next
    snapshot (centroids + codebooks + meta.json — metadata-sized).
    Compaction must carry the quantizer VERBATIM: it is a pure
    re-layout, and a re-serialisation could perturb nothing yet still
    invalidate the "bit-identical before/after" contract the
    ann_ivf_pq_compact oracle pins."""
    jvm, fs, jsrc = _fs(spark, f"{src_root.rstrip('/')}/_quantizer")
    jdst = jvm.org.apache.hadoop.fs.Path(f"{dst_root.rstrip('/')}/_quantizer")
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    if not jvm.org.apache.hadoop.fs.FileUtil.copy(fs, jsrc, fs, jdst, False, conf):
        raise IOError(f"copy {jsrc} -> {jdst} failed")


def compact_ivf_pq_index(spark: SparkSession, index_path: str) -> dict:
    """Collapse each cell of a live IVF-PQ index back to ONE
    vec_id-sorted file — the maintenance twin of
    ``_tables.compact_bucketed_store`` for the inverted-file layout.

    Why it exists: :func:`build_ivf_pq_index` establishes a
    one-sorted-file-per-cell contract (probed reads open O(nprobe × Q)
    files; vec_id row-group pruning works because each cell's rows are
    id-sorted in one file), but :func:`append_ivf_pq_index` adds one
    file per touched cell PER BATCH — after B hourly appends a hot
    cell holds B files, the refine GET pays B footer opens per probed
    cell, and the contract erodes with append count (r15 verdict).
    Periodic compaction restores it without retraining: the quantizer,
    every code, every c_vec, and therefore every search/rescore result
    are BIT-IDENTICAL before and after (this is a pure re-layout; the
    catalog key ann_ivf_pq_compact pins hash-equality against the
    from-scratch-build oracle).

    Mechanics (r17 verdict task 1 — staged-build + pointer flip, the
    same publish pattern as the cells store and the reference's
    WRITE_TRUNCATE partition-decorator swap,
    ingestion/bigquery_interaction.py:20, applied to index snapshots):
    after sweeping any crashed prior stage, read the live snapshot's
    ``cell=N`` dirs (basePath keeps the partition column), re-cluster
    with the build's own repartition(cell) +
    sortWithinPartitions(cell, vec_id) — one shuffle of the
    codes(+refine) table, the standard clustering-write cost — writing
    DIRECTLY to the next snapshot directory ``{root}/v=P+1`` (invisible
    to every reader: the pointer still names v=P), copy the quantizer
    verbatim, then PUBLISH by rewriting the one ``_VERSION`` pointer
    file (atomic rename). No directory is ever renamed or deleted on
    the publish path, so:

    * a CRASH at any point leaves the pointer naming a complete
      snapshot — an unfinished v=P+1 is garbage the next maintenance
      entry sweeps (:func:`_sweep_index_versions`), never something a
      reader can resolve;
    * a CONCURRENT reader holds snapshot isolation: it resolved the
      pointer once and reads an immutable tree; the publish retains
      the previous snapshot one more generation
      (:func:`_publish_index_version`), so even a reader that resolved
      just before the flip scans to completion. Identical content
      either way — compaction is a pure re-layout.

    Concurrency contract: any number of concurrent readers; maintenance
    itself is single-writer — exactly one compact/retrain/append job
    per index at a time (two writers could both stage v=P+1), the
    standard contract for file-level table maintenance (Delta/Iceberg
    compactors assume the same via their commit protocol). Scale
    shape: one shuffle of ~9 B/vector codes (plus c_vec for refine
    stores), no driver-side data, listing O(nlist) at maintenance time
    only; the row count rides the staging write itself via
    ``Observation`` (zero extra read). Disk high-water mark is two
    snapshots between publishes — the Delta/Iceberg retention
    trade; :func:`vacuum_ivf_pq_index` reclaims to one once readers
    drain. Returns {files_before, files_after,
    max_files_per_cell_before, max_files_per_cell_after, n_cells,
    n_rows, version, versions_swept}."""
    from pyspark.sql import Observation

    base = index_path.rstrip("/")
    cur = _index_version(spark, base)
    if cur is None:
        raise ValueError(
            f"{base} is not a versioned IVF-PQ index — a pre-versioned "
            "tree must be migrated first: migrate_ivf_pq_index (its one "
            "publish has no retained previous snapshot, so drain "
            "readers before running it)"
        )
    live = _live_index_root(spark, base)
    # entry sweep: crashed stages (v > pointer) and aged grace copies
    swept = _entry_sweep(spark, base, cur)
    before = ivf_pq_index_file_stats(spark, base)
    cell_dirs = _list_cell_dirs(spark, live)
    if not cell_dirs:
        raise ValueError(f"no cell directories under {live}")
    new_v = _next_index_version(spark, base)
    target = f"{base}/v={new_v}"

    df = spark.read.option("basePath", live).parquet(*cell_dirs)
    obs = Observation("compact_rows")
    (
        df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
        .repartition(F.col("cell"))
        # leading cell key: satisfies the dynamic-partition writer's
        # required ordering so Spark inserts no Sort of its own above
        # the vec_id order (same rationale as the build)
        .sortWithinPartitions("cell", "vec_id")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(target)
    )
    n_rows = int(obs.get["n_rows"])  # measured BY the write job itself
    _copy_quantizer(spark, live, target)
    _publish_index_version(spark, base, new_v)
    after = ivf_pq_index_file_stats(spark, base)
    return {
        "files_before": before["n_files"],
        "files_after": after["n_files"],
        "max_files_per_cell_before": before["max_files_per_cell"],
        "max_files_per_cell_after": after["max_files_per_cell"],
        "n_cells": after["n_cells"],
        "n_rows": n_rows,
        "version": new_v,
        "versions_swept": swept,
    }


def profile_cell_skew(
    spark: SparkSession, index_path: str, with_total: bool = False
) -> DataFrame:
    """Cell-population skew audit for an IVF(-PQ) index — the rebalance
    signal the maintenance contract needs: nlist scales ∝ corpus to
    keep cells bounded, but a SKEWED embedding distribution
    concentrates vectors in few cells regardless, and stage-1
    probed-cell scans then degrade toward linear (probing the hot cell
    reads a corpus-sized fraction). One column-pruned scan of the
    index's partition column (``cell`` — no code/c_vec pages decoded)
    → per-cell counts, share of corpus, and ``skew`` = count / the
    BALANCED-CELL budget total/nlist (the FAISS imbalance-factor
    denominator): the max row's skew is the factor by which the
    hottest probed cell exceeds the cost the nlist sizing assumed.
    nlist comes from the meta stamp (one stat+read); EMPTY cells count
    in the denominator — r17 fix: a mean over non-empty cells only
    read a fully-degenerate quantizer (every vector in ONE cell, the
    other nlist−1 cells empty → no dirs on disk) as skew 1.0,
    blinding the gauge to exactly the pathology it exists to catch.
    A pre-meta index (no stamp) falls back to the non-empty count —
    the old, weaker denominator — rather than failing. A maintenance
    loop triggers :func:`retrain_ivf_pq_index` when max skew crosses
    its threshold — see ``ivf_rebalance_needed``. Returns
    (cell, n_vectors, share, skew) ordered hottest-first (ties → cell
    asc)."""
    live = _live_index_root(spark, index_path)  # resolve ONCE: the scan
    # and the meta stamp must come from the same snapshot
    counts = (
        spark.read.parquet(live)
        .groupBy(F.col("cell").cast("int").alias("cell"))
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    meta = _load_pq_meta(spark, live)
    nlist = meta.get("nlist") if meta else None
    # global window over the nlist-row aggregate: ONE index scan in the
    # plan (a crossJoin-with-total twin re-derives the counts lineage
    # and scans twice — verified via executedPlan FileScan count); the
    # single-task window is fine because its input is already reduced
    # to one row per non-empty cell
    w_all = W.partitionBy()
    budget = (
        F.sum("n_vectors").over(w_all) / F.lit(int(nlist))
        if nlist
        else F.avg("n_vectors").over(w_all)
    )
    cols = [
        F.col("cell"),
        F.col("n_vectors"),
        F.round(F.col("n_vectors") / F.sum("n_vectors").over(w_all), 4).alias(
            "share"
        ),
        F.round(F.col("n_vectors") / budget, 4).alias("skew"),
    ]
    if with_total:
        # exact corpus total rides the same single scan — callers
        # (retrain sizing via ivf_rebalance_needed) get n_rows with no
        # second pass; opt-in so the audit's public schema stays stable
        cols.append(F.sum("n_vectors").over(w_all).alias("n_total"))
    return counts.select(*cols).orderBy(F.desc("n_vectors"), F.asc("cell"))


def ivf_rebalance_needed(
    spark: SparkSession, index_path: str, max_skew: float = 4.0
) -> dict:
    """Driver-side rebalance decision over :func:`profile_cell_skew`:
    ``{"rebalance": bool, "max_skew": float, "hot_cell": int,
    "n_rows": int}``. The collect is ONE row (the profile's
    hottest-first head; ``n_rows`` = the exact corpus total that rode
    the same scan — :func:`retrain_ivf_pq_index` sizes its target
    nlist from it with no extra pass). 4.0 default: a probed hot cell
    costing >4× the balanced-cell budget is the point where
    re-training centroids (periodic rebuild — the FAISS
    re-train-on-drift contract) beats riding the skew."""
    top = profile_cell_skew(spark, index_path, with_total=True).limit(1).collect()
    if not top:
        return {"rebalance": False, "max_skew": 0.0, "hot_cell": -1, "n_rows": 0}
    r = top[0]
    return {
        "rebalance": bool(r["skew"] > max_skew),
        "max_skew": float(r["skew"]),
        "hot_cell": int(r["cell"]),
        "n_rows": int(r["n_total"]),
    }


def maintain_ivf_pq_index(
    spark: SparkSession,
    index_path: str,
    max_files_per_cell: int = 8,
    max_skew: float = 4.0,
    retrain: bool = False,
    fit_sample_per_cell: int | None = None,
    fit_max_iter: int | None = None,
    fit_init_mode: str | None = None,
) -> dict:
    """One maintenance tick for a live IVF-PQ index — the runbook the
    append/compact/skew pieces compose into (the semantic-cells store's
    compact/retrain lifecycle, mapped onto the index layout):

    0. entry sweep (:func:`_sweep_index_versions`, metadata-only):
       crashed staged snapshots (v > pointer) and grace copies older
       than one publish are reclaimed — the single recovery path of
       the version-pointer protocol, so the tick's gauges never see
       (or pay for) a dead tree;
    1. file health (:func:`ivf_pq_index_file_stats`, metadata-only):
       when appends have grown any cell past ``max_files_per_cell``
       files, COMPACT (one clustering shuffle, values bit-identical,
       restores the one-sorted-file-per-cell GET cost);
    2. skew health (:func:`profile_cell_skew`, one zero-column scan):
       when the hottest cell exceeds ``max_skew`` × the balanced-cell
       budget, signal RETRAIN — the lever is
       :func:`retrain_ivf_pq_index` (k-means centroids re-fit on the
       deterministic hash-sample at a corpus-derived target nlist,
       codes re-encoded, published by pointer flip). By default the
       tick only FLAGS it: retraining changes cell assignments, i.e.
       the index's physical layout version, so its timing belongs to
       the owner's rollout policy, exactly like retrain_corpus_cells
       vs compact_corpus_cells. ``retrain=True`` opts the tick into
       performing it inline, passing the already-measured skew through
       (exactly TWO zero-column skew scans per retraining tick —
       decision + verification — r17 verdict task 6).

    Hourly appends + this tick on a cron = a production index that
    never degrades: compaction keeps the per-cell file count O(1)
    between ticks, and the retrain flag bounds how far a drifting
    embedding distribution can erode the nlist sizing. Returns
    {compacted: bool, compact_stats: dict|None, retrain_needed: bool,
    retrained: bool, retrain_stats: dict|None, skew: dict, files: dict,
    versions_swept: list}."""
    base = index_path.rstrip("/")
    cur = _index_version(spark, base)
    if cur is None:
        raise ValueError(
            f"{base} is not a versioned IVF-PQ index — run "
            "migrate_ivf_pq_index first (drain readers; its one publish "
            "retains no previous snapshot)"
        )
    swept = _entry_sweep(spark, base, cur)
    files = ivf_pq_index_file_stats(spark, index_path)
    compact_stats = None
    if files["max_files_per_cell"] > max_files_per_cell:
        compact_stats = compact_ivf_pq_index(spark, index_path)
        # the compactor already re-listed the tree for its return dict —
        # reuse its after-stats instead of a third listing (r16 verdict
        # task 6)
        files = {
            "n_cells": compact_stats["n_cells"],
            "n_files": compact_stats["files_after"],
            "max_files_per_cell": compact_stats["max_files_per_cell_after"],
        }
    skew = ivf_rebalance_needed(spark, index_path, max_skew=max_skew)
    retrain_stats = None
    if retrain and skew["rebalance"]:
        # pass the measured skew through and reuse the retrainer's own
        # after-verification — two skew scans total, not four
        retrain_stats = retrain_ivf_pq_index(
            spark, index_path, skew_before=skew, max_skew=max_skew,
            fit_sample_per_cell=fit_sample_per_cell, fit_max_iter=fit_max_iter,
            fit_init_mode=fit_init_mode,
        )
        skew = retrain_stats["skew_after"]
    return {
        "compacted": compact_stats is not None,
        "compact_stats": compact_stats,
        "retrain_needed": skew["rebalance"],
        "retrained": retrain_stats is not None,
        "retrain_stats": retrain_stats,
        "skew": skew,
        "files": files,
        "versions_swept": swept,
    }


def derive_ivf_nlist(n_rows: int, fit_nlist: int, fit_rows: int | None) -> int:
    """The retrain target nlist from the observed corpus size (r17
    verdict task 2): the IVF sizing rule keeps CELLS bounded —
    ``nlist ∝ corpus`` — so the per-cell row budget chosen at the last
    fit (``fit_rows / fit_nlist``) is the invariant, and a corpus now
    ``g×`` larger needs ``ceil(g × fit_nlist)`` cells. Integer-exact
    ceiling arithmetic (no float division) so the ann_ivf_pq_retrain
    oracle replays it verbatim in SQL; never shrinks below the current
    nlist (a smaller quantizer only ever comes from an explicit
    ``nlist=`` override). ``fit_rows=None`` (an index stamped before
    the build recorded its row count) keeps the current nlist."""
    if not fit_rows:
        return int(fit_nlist)
    return max(int(fit_nlist), -(-int(n_rows) * int(fit_nlist) // int(fit_rows)))


def retrain_ivf_pq_index(
    spark: SparkSession,
    index_path: str,
    nlist: int | None = None,
    seed: int = 42,
    trained: bool = True,
    skew_before: dict | None = None,
    max_skew: float = 4.0,
    fit_sample_per_cell: int | None = 64,
    fit_max_iter: int | None = 10,
    fit_init_mode: str | None = None,
) -> dict:
    """Act on the retrain signal :func:`maintain_ivf_pq_index` raises:
    re-fit the coarse quantizer on the CURRENT vectors — at a target
    nlist DERIVED from the current corpus size
    (:func:`derive_ivf_nlist`; explicit ``nlist=`` overrides) — and
    republish the index with fresh cell assignments, restoring the
    balanced-cell budget the nlist sizing assumed. The FAISS
    re-train-on-drift contract for the persisted-index layout,
    mirroring :func:`retrain_corpus_cells` on the cells store
    (including its growth policy made automatic: the cells store's
    caller passes the grown nlist by hand; here the meta stamp carries
    the last fit's row count, so the tick grows the quantizer itself).

    Mechanics:

    * requires a REFINE-STORE index (``store_vectors=True``): PQ codes
      are lossy, so the exact vectors needed to re-fit and re-assign
      live only in the ``c_vec`` column (FAISS analog: you can retrain
      an ``IndexRefineFlat``'s coarse quantizer from its flat store; a
      codes-only index must be rebuilt from the source corpus via
      :func:`build_ivf_pq_index`);
    * the quantizer is k-means fit on the deterministic hash-sample
      (:func:`_trained_centroid_rows` → ``_train_sample``, capped
      ~256·nlist rows) — train cost O(nlist·d) per iteration however
      large the index; ``trained=False`` swaps in the deterministic
      seed quantizer for oracle-replayable tests;
    * PQ CODEBOOKS are kept: codes depend only on the codebooks, not
      on cells, so re-encoding against the unchanged books reproduces
      byte-identical codes — the one Arrow-batched kernel pass
      (:func:`_pq_encode_kernel`) recomputes cells and codes together,
      which is cheaper than carrying old codes through a second O(N)
      join just to skip the GEMMs;
    * the new tree (cells + ``_quantizer`` with the new centroids, the
      carried-over codebooks, and a re-stamped meta recording the new
      nlist and row count) is written DIRECTLY to the next snapshot
      ``{root}/v=P+1`` — invisible until the one-file ``_VERSION``
      pointer flip publishes it (r17 verdict task 1). There is no
      moment without a live root: a reader that resolved v=P keeps a
      complete immutable tree (retained one more generation) and one
      that resolves after the flip gets v=P+1 — full pre-retrain or
      full post-retrain results, never an error, never a mix of old
      cells with a new quantizer. A crash anywhere leaves the pointer
      on v=P and an unfinished v=P+1 the next maintenance entry
      sweeps.

    Scale shape: one full read of the refine store (irreducible — the
    re-assignment must see every vector), one clustering shuffle of
    the encoded rows, sampled k-means, no driver-side data beyond the
    nlist×d centroid matrix. The encode + clustering shuffle is the
    build's exact cost; the ONE term retrain carries beyond the build
    is the k-means fit, and its cost model deserves honesty (measured
    at 1×/10×/100× in scripts/retrain_probe.py): per iteration the fit
    pays ``sample × nlist`` distance GEMMs, and because the sample cap
    scales with nlist (``256·nlist``, FAISS's documented training
    density) while ``nlist ∝ corpus``, the fit's TOTAL work grows
    quadratically in corpus size and overtakes the linear encode once
    the cap stops binding — measured retrain/build 2.6× → 1.8× → 7.3×
    across the three octaves. The fit is fully distributed (MLlib over
    the sampled DataFrame, parallel across executors), so this is
    compute, not a driver bottleneck, but at large nlist the knobs
    bound it: ``fit_sample_per_cell`` tightens the per-centroid sample
    (FAISS warns below ~39/centroid; 64 is a practical floor),
    ``fit_max_iter`` caps the iteration multiplier (MLlib default 20),
    and ``fit_init_mode="random"`` replaces the k-means|| seeding
    passes — whose cost dominates at large k and which ``maxIter``
    does not touch — with FAISS's standard seeded point draw. Since
    r19 the CAPPED budget (64 samples/cell, 10 iterations) is the
    default — the r18 probe ladder (PROBES_r18.jsonl runs G/H)
    measured that cell at 172.5 s → 112.1 s at the 100× octave with
    the pytest nprobe<nlist recall gate green; k-means|| seeding is
    deliberately KEPT as the default init because the full tuned cell
    with ``init_mode="random"`` (85.7 s at 100×) intermittently fails
    the ≥0.9 recall gate when retraining from a genuinely stale
    quantizer (measured r19: 1-in-3 on the drift fixture — MLlib's
    random draw is partitioning-sensitive even when seeded), and a
    maintenance default must not gamble recall for the last 1.3×.
    Callers that pair the cheap draw with their own recall acceptor
    pass ``fit_init_mode="random"`` explicitly; pass
    ``fit_sample_per_cell=256, fit_max_iter=20`` to request the
    pre-r19 untuned budget. The structural fix beyond flat k-means — a
    hierarchical/IMI coarse quantizer whose fit is O(sample·√nlist) —
    is the documented next step if nlist outgrows the knobs.
    ``skew_before`` (an :func:`ivf_rebalance_needed` dict) lets the
    maintenance tick pass its already-measured signal through instead
    of paying a second zero-column scan. Returns {nlist_before,
    nlist_after, n_rows, max_skew_before, max_skew_after, trained,
    version, skew_after}."""
    import numpy as np

    base = index_path.rstrip("/")
    cur = _index_version(spark, base)
    if cur is None:
        raise ValueError(
            f"{base} is not a versioned IVF-PQ index — run "
            "migrate_ivf_pq_index first (drain readers; see its "
            "docstring for the one-publish-without-grace contract)"
        )
    live = _live_index_root(spark, base)
    _entry_sweep(spark, base, cur)
    meta = _load_pq_meta(spark, live)
    cents_old, books, m, sub = _load_pq_quantizer(spark, live)
    if meta is not None:
        store_vectors = bool(meta.get("store_vectors"))
    else:
        store_vectors = "c_vec" in spark.read.parquet(live).columns
    if not store_vectors:
        raise ValueError(
            "retrain_ivf_pq_index needs a refine-store index (c_vec) — "
            "codes are lossy; rebuild from the source corpus with "
            "build_ivf_pq_index(..., store_vectors=True)"
        )
    nlist_before = int(cents_old.shape[0])
    if skew_before is None:
        skew_before = ivf_rebalance_needed(spark, index_path, max_skew=max_skew)
    n_now = int(skew_before["n_rows"])
    if nlist is not None:
        nlist = int(nlist)
    else:
        nlist = derive_ivf_nlist(
            n_now, nlist_before, (meta or {}).get("n_rows")
        )

    cell_dirs = _list_cell_dirs(spark, live)
    if not cell_dirs:
        raise ValueError(f"no cell directories under {live}")
    vecs = (
        spark.read.option("basePath", live)
        .parquet(*cell_dirs)
        .select("vec_id", "c_vec")
    )
    centroid_rows = (
        _trained_centroid_rows(
            vecs, nlist, seed,
            sample_per_cell=fit_sample_per_cell, max_iter=fit_max_iter,
            init_mode=fit_init_mode,
        )
        if trained
        else _seed_centroid_rows(vecs, nlist)
    )
    cents_new = np.array([v for _, v in centroid_rows], dtype=np.float64)

    new_v = _next_index_version(spark, base)
    target = f"{base}/v={new_v}"
    from pyspark.sql import Observation

    kernel, out_schema = _pq_encode_kernel(
        cents_new, books, m, sub, "vec_id", "c_vec", keep_vec=True
    )
    obs = Observation("retrain_rows")
    (
        vecs.observe(obs, F.count(F.lit(1)).alias("n_rows"))
        .mapInPandas(kernel, out_schema)
        # same clustering write as the build: one shuffle → one
        # vec_id-sorted file per cell (leading cell key satisfies the
        # dynamic-partition writer's ordering; no extra Sort inserted)
        .repartition(F.col("cell"))
        .sortWithinPartitions("cell", "vec_id")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(target)
    )
    n_rows = int(obs.get["n_rows"])
    _write_quantizer(
        spark, target, cents_new, books, m,
        {"store_vectors": True, "nlist": int(nlist), "m": int(m), "n_rows": n_rows},
    )
    # staged snapshot is a COMPLETE index — publish by pointer flip
    _publish_index_version(spark, base, new_v)
    skew_after = ivf_rebalance_needed(spark, index_path, max_skew=max_skew)
    return {
        "nlist_before": nlist_before,
        "nlist_after": int(nlist),
        "n_rows": n_rows,
        "max_skew_before": float(skew_before["max_skew"]),
        "max_skew_after": float(skew_after["max_skew"]),
        "trained": bool(trained),
        "version": new_v,
        "skew_after": skew_after,
    }


def _write_quantizer(
    spark: SparkSession, root: str, cents, books, m: int, meta: dict
) -> None:
    """Persist a quantizer (centroids + codebooks + meta stamp) under
    ``{root}/_quantizer`` — shared by build and retrain so the two
    creation paths cannot drift. All inputs are metadata-sized
    (nlist×dim + m×codebook×sub doubles)."""
    qroot = f"{root.rstrip('/')}/_quantizer"
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{qroot}/centroids")
    spark.createDataFrame(
        [
            (s, j, [float(x) for x in books[s][j]])
            for s in range(m)
            for j in range(books[s].shape[0])
        ],
        "s int, code int, subvector array<double>",
    ).write.mode("overwrite").parquet(f"{qroot}/codebooks")
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.snapshots import _write_small_file

    _write_small_file(spark, f"{qroot}/meta.json", json.dumps(meta))


def build_ivf_pq_index(
    corpus: DataFrame,
    index_path: str,
    nlist: int = 8,
    m: int = 8,
    codebook_size: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    store_vectors: bool = False,
) -> str:
    """Build a persisted IVF-PQ index — the FAISS index layout mapped
    onto Spark storage primitives:

    * the INVERTED FILE is a Hive partition layout: the codes table is
      written ``partitionBy(cell)``, so a search touching ``nprobe``
      cells is an ordinary partition-pruned scan — Catalyst skips the
      other cells' files entirely, which is exactly what an IVF index
      means at 100 TB;
    * each vector is stored as ``m`` one-byte PQ codes (8 B instead of
      512 B) plus its id — assignment and encode happen in ONE
      Arrow-batched pass over the corpus (centroids and codebooks ride
      in the kernel closure, nothing shuffles);
    * the quantizer (centroids + codebooks) persists under
      ``_quantizer/`` inside the snapshot — underscore-hidden from
      the partitioned scan, self-describing for search;
    * the whole tree lives in a SNAPSHOT directory ``{root}/v=N``
      named by the one ``{root}/_VERSION`` pointer file (r17 verdict
      task 1 — the cells store's version-pointer publish applied to
      the index): build, compact and retrain all stage the next
      snapshot invisibly and commit it with one atomic pointer
      rewrite, readers resolve the pointer once per operation and
      hold snapshot isolation across any concurrent publish, and
      crash recovery is a single sweep of unreferenced versions —
      the partition-decorator WRITE_TRUNCATE idempotency contract the
      reference builds on (ingestion/bigquery_interaction.py:20,
      README.md:34-39), applied to index snapshots.

    Deterministic seed quantizer (lowest-id vectors) keeps the whole
    index reproducible in SQL; production swaps k-means training in.

    ``store_vectors=True`` additionally stores each raw float64 vector
    in a ``c_vec`` column of the SAME partitioned table — the FAISS
    ``IndexRefineFlat`` layout mapped onto parquet: because parquet is
    columnar, the ADC search's code scan still reads only
    (vec_id, codes, cell) pages (8 B of codes per vector; assert via
    ``.explain`` ReadSchema), while :func:`ivf_pq_rescore_topk`
    resolves its Q×shortlist exact-rescore lookups against the c_vec
    pages of ONLY the probed cells — partition-pruned gets instead of
    a second full-corpus scan. Rows are sorted by vec_id within each
    cell's files so the id-IN pushdown also prunes row groups (parquet
    min/max stats), keeping the get cost bounded by the shortlist
    rather than the cell population.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = corpus.sparkSession
    from pyspark.sql import Observation

    C, books, sub = _pq_seed_books(corpus, codebook_size, m, id_col, vec_col)
    cents = C[:nlist]

    base = index_path.rstrip("/")
    new_v = _next_index_version(spark, base)
    target = f"{base}/v={new_v}"
    kernel, out_schema = _pq_encode_kernel(
        cents, books, m, sub, id_col, vec_col, keep_vec=store_vectors
    )
    obs = Observation("build_rows")
    (
        with_double_embedding(corpus, vec_col)
        .select(id_col, vec_col)
        .mapInPandas(kernel, out_schema)
        # CLUSTER the encoded rows by cell before the partitioned write:
        # without this, every input split emits a file into every cell
        # it touches — O(splits x nlist) small files, and since the
        # maintenance contract scales nlist ∝ corpus, the index's FILE
        # COUNT would grow with the corpus and every probed-cell read
        # (search scan AND rescore get) would pay corpus-proportional
        # footer opens (measured: the r15 K=10 probe read the rescore
        # get climbing before this change). One shuffle of the encoded
        # rows at BUILD time — the standard clustering-write cost —
        # buys one sorted file per cell: reads open O(nprobe x Q)
        # files however large the corpus, and vec_id-sorted row groups
        # prune inside them.
        .observe(obs, F.count(F.lit(1)).alias("n_rows"))
        .repartition(F.col("cell"))
        # sort by (cell, vec_id): the leading cell key satisfies the
        # dynamic-partition writer's required ordering, so Spark does
        # NOT insert its own Sort(cell) above this one — an insert
        # whose stability is not contractual and could silently undo
        # the vec_id order the row-group-pruning contract depends on
        .sortWithinPartitions("cell", "vec_id")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(target)
    )
    # meta records the fit-time row count (measured BY the write via
    # Observation, zero extra pass): retrain's corpus-derived nlist
    # sizing divides today's count by this density baseline
    _write_quantizer(
        spark, target, cents, books, m,
        {
            "store_vectors": bool(store_vectors),
            "nlist": int(nlist),
            "m": int(m),
            "n_rows": int(obs.get["n_rows"]),
        },
    )
    _publish_index_version(spark, base, new_v)
    return index_path


def ivf_pq_search(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a :func:`build_ivf_pq_index` index: per query, rank the
    ``nprobe`` nearest cells by centroid distance, then ADC-score ONLY
    those cells' codes. The cell restriction is a partition filter on
    the index scan — Catalyst prunes every other cell's files before a
    byte is read (assert via ``.explain``: PartitionFilters on ``cell``).
    Raw vectors are never touched at search time; the scan is 8 B of
    codes per corpus vector in the probed cells (the index read is
    column-pruned to (vec_id, codes, cell), so a refine-store index's
    c_vec pages are never decoded here). Returns
    (query_id, vec_id, adc_dist, rank) under (adc asc, vec_id asc)."""
    live = _live_index_root(spark, index_path)  # pin ONE snapshot for
    # the quantizer load and the cell scans — a publish landing mid-
    # search can never mix two versions' artifacts
    scored = _ivf_pq_adc_scored(
        spark, live, queries, k, nprobe, id_col, vec_col
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "adc_dist", "rank")
    )


def _ivf_pq_adc_scored(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared stage 1 of :func:`ivf_pq_search` and
    :func:`ivf_pq_rescore_topk`: per query, the ``nprobe`` nearest
    cells by centroid distance, then ADC scores for ONLY those cells'
    codes, with a per-Arrow-batch partial top-k. Emits
    (query_id, vec_id, cell, adc_dist) — ``cell`` rides along so the
    rescore stage can turn its float lookups into partition-pruned
    gets. The probed-cell restriction is a static partition filter on
    the (column-pruned) index scan. ``index_path`` is resolved to the
    live snapshot here (idempotent when the caller already pinned it —
    both public entry points do, so the quantizer and the cells always
    come from ONE version)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    index_path = _live_index_root(spark, index_path)
    cents, books, m, sub = _load_pq_quantizer(spark, index_path)

    q_rows = (
        with_double_embedding(queries, vec_col)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .collect()
    )
    if not q_rows:  # empty queries: empty result, not a shape error
        return spark.createDataFrame(
            [], "query_id long, vec_id long, cell int, adc_dist double"
        )
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    Q = np.array([r["q_vec"] for r in q_rows], dtype=np.float64)
    # probe cells per query: nprobe nearest centroids, ties -> lowest
    # cell (chunked: nlist/cb ∝ corpus; driver memory stays O(Q x nlist))
    cd = _sqdist_chunked(Q, cents)
    probe_sets = [
        set(np.lexsort((np.arange(cents.shape[0]), cd[j]))[:nprobe].tolist())
        for j in range(len(q_ids))
    ]
    all_cells = sorted(set().union(*probe_sets)) if probe_sets else []
    adc = np.stack(
        [_sqdist_chunked(Q[:, s * sub : (s + 1) * sub], books[s]) for s in range(m)],
        axis=1,
    )  # q×m×cb

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("adc_dist", T.DoubleType()),
        ]
    )

    def _kernel(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cells = pdf["cell"].to_numpy(dtype=np.int64)
            codes = np.array(list(pdf["codes"]), dtype=np.int64)
            if codes.size == 0:
                continue
            outs = []
            for j, qid in enumerate(q_ids):
                mask = np.isin(cells, list(probe_sets[j])) & (ids != qid)
                if not mask.any():
                    continue
                cand_ids, cand_codes = ids[mask], codes[mask]
                s_dist = adc[j][np.arange(m)[None, :], cand_codes].sum(axis=1)
                order = np.lexsort((cand_ids, s_dist))[:k]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "vec_id": cand_ids[order],
                            "cell": cells[mask][order].astype("int32"),
                            "adc_dist": s_dist[order],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    store = (
        _read_index_cells(spark, index_path, all_cells) if all_cells else None
    )
    if store is None:  # no queries, or every probed cell is empty
        return spark.createDataFrame([], out_schema)
    index = store.select("vec_id", "codes", "cell")  # never decode c_vec pages
    return index.mapInPandas(_kernel, out_schema)


def _read_index_cells(spark: SparkSession, index_path: str, cells: list) -> DataFrame:
    """Read ONLY the given cells' partition directories of the LIVE
    index snapshot. A full-root read would LIST the whole ``cell=N``
    tree — O(nlist) driver-side metadata, and the IVF maintenance
    contract scales nlist ∝ corpus, so a full-root read makes every
    query batch pay corpus-proportional listing (measured: the r15
    decomposition saw end-to-end rescore growing ~0.5 s per extra root
    listing at 10x while both stages' data work stayed flat).
    Enumerating the probed directories caps the listing at
    O(len(cells)) = O(nprobe x Q), corpus-independent; ``basePath``
    keeps the ``cell`` partition column alive. The redundant
    ``isin`` partition filter stays as defense in depth (it also makes
    the pruning visible in the plan's PartitionFilters).

    A probed cell can be EMPTY (a centroid no corpus vector maps to
    writes no ``cell=N`` dir), so each candidate dir is existence-
    probed first with a metadata-only EXACT-path ``fs.exists``
    (sources/probe.py ``_path_exists`` — any Hadoop FS, not just
    local; not globStatus, which would interpret ``[{*?`` in a
    user-supplied index_path as glob syntax and silently return
    "missing" → empty search results, r15 ADVICE): O(len(cells)) stat
    calls, still corpus-independent.

    PUBLISH-WINDOW SAFETY (r17 verdict task 1): resolution pins ONE
    snapshot (``_live_index_root``), and snapshots are immutable once
    published — a compaction or retrain landing between this probe and
    the Spark scan writes a NEW ``v=N`` directory and flips the
    pointer, never touching the resolved one, which the publish
    retains a full extra generation for exactly this reader
    (:func:`_publish_index_version`). The r17 rename-aside protocol
    needed a parked-name fallback plus a re-probe and still had a
    probe-to-scan TOCTOU (r17 ADVICE); the snapshot read needs
    neither. Callers that already hold a resolved root pay one no-op
    stat (resolution is idempotent)."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.probe import _path_exists

    base = _live_index_root(spark, index_path)
    paths = []
    for c in cells:
        p = f"{base}/cell={int(c)}"
        if _path_exists(spark, p):
            paths.append(p)
    if not paths:
        return None  # every probed cell empty — caller picks its semantics
    df = spark.read.option("basePath", base).parquet(*paths)
    return df.filter(F.col("cell").isin([int(c) for c in cells]))


def ivf_pq_rescore_topk(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN whose stage 2 is STORE-BACKED — the 100-TB follow-up
    :func:`int8_rescore_topk`'s docstring names (and the r14 probes
    showed that operator's broadcast-join stage 2 does NOT deliver: it
    re-scans the full float corpus, measured exponent ~0.31-0.37 at
    K=30). Here both stages are index reads (FAISS IndexIVFPQ +
    IndexRefineFlat, mapped onto one parquet layout by
    :func:`build_ivf_pq_index` ``store_vectors=True``):

    * stage 1 — ADC shortlist of ``shortlist`` per query over the
      ``nprobe`` probed cells' PQ codes (partition-pruned, 8 B/vector,
      column-pruned away from the c_vec pages);
    * stage 2 — exact float64 cosine over ONLY the Q×shortlist
      survivors, resolved against the SAME index's ``c_vec`` column as
      a partition-pruned get: the shortlist (collected driver-side —
      Q×shortlist rows, metadata-sized) carries each candidate's cell
      from stage 1, so the read is filtered to the probed cells
      (static partition pruning) AND the candidate ids (parquet
      row-group pruning — the build sorts each cell's files by vec_id,
      and the session raises the parquet IN-pushdown threshold so the
      id set reaches the reader as per-row-group filters). The float
      pages touched are bounded by the shortlist, independent of the
      corpus — the contract the broadcast-join variant could not keep.

    Scale shape: no corpus shuffle anywhere; stage-1 output is a
    partial top-k per Arrow batch; stage-2 reads O(Q x shortlist) rows
    however large the index grows. Every ADC distance, cosine,
    tie-break and rank is reproducible verbatim in ANSI SQL (seed
    quantizer + float64 arithmetic), so the whole two-stage pipeline is
    value-checkable. Returns (query_id, vec_id, cosine, rank) under
    (cosine desc, vec_id asc)."""
    shortlist = max(shortlist, k)
    live = _live_index_root(spark, index_path)  # pin ONE snapshot: the
    # meta check, stage-1 scan and stage-2 refine GET must all read the
    # same immutable tree even if a publish lands between the stages
    # fail-fast BEFORE paying the stage-1 scan: the build stamps
    # store_vectors into _quantizer/meta.json, so this is one stat+read
    # (never the O(nlist)-listing root-schema read). Pre-meta indexes
    # skip the fast check; _refine_rescore's pruned read still raises.
    meta = _load_pq_meta(spark, live)
    if meta is not None and not meta.get("store_vectors"):
        raise ValueError(
            "ivf_pq_rescore_topk needs a refine-store index — rebuild with "
            "build_ivf_pq_index(..., store_vectors=True)"
        )
    scored = _ivf_pq_adc_scored(
        spark, live, queries, shortlist, nprobe, id_col, vec_col
    )
    w1 = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    short = (
        scored.withColumn("rnk", F.row_number().over(w1))
        .filter(F.col("rnk") <= shortlist)
        .select("query_id", "vec_id", "cell")
        .collect()  # bounded: Q x shortlist rows of ids — metadata-sized
    )
    if not short:
        return spark.createDataFrame(
            [], "query_id long, vec_id long, cosine double, rank int"
        )
    return _refine_rescore(spark, live, short, queries, k, id_col, vec_col)


def _refine_rescore(
    spark: SparkSession,
    index_path: str,
    short: list,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Stage 2 of :func:`ivf_pq_rescore_topk` in isolation — the refine
    GET: resolve the collected (query_id, vec_id, cell) shortlist rows
    against the index's ``c_vec`` column (partition filter on the
    shortlist's cells + id-IN row-group pruning over the build's
    one-sorted-file-per-cell layout), exact-cosine against the
    broadcast queries, rank, top-k. Split out so the contract — the
    get reads O(Q x shortlist) rows however large the index grows —
    is probeable on its own (scripts/scale_probe.py times this helper
    with a fixed pre-collected shortlist; the end-to-end operator
    re-runs stage 1 internally, which would conflate the two stages'
    scaling)."""
    cells = sorted({r["cell"] for r in short})
    ids = sorted({r["vec_id"] for r in short})
    pairs = spark.createDataFrame(
        [(r["query_id"], r["vec_id"]) for r in short], "query_id long, vec_id long"
    )
    # the GET: directory-enumerated read of the shortlist's cells only
    # (listing O(|cells|), never O(nlist)) + id IN filter (row-group
    # pruning over vec_id-sorted files) — reads ~|shortlist| rows' float
    # pages, never the corpus
    store = _read_index_cells(spark, index_path, cells)
    if store is None:  # unreachable: shortlist rows came from these cells
        raise ValueError(f"shortlist cells missing under {index_path}")
    if "c_vec" not in store.columns:
        raise ValueError(
            "ivf_pq_rescore_topk needs a refine-store index — rebuild with "
            "build_ivf_pq_index(..., store_vectors=True)"
        )
    vecs = store.filter(F.col("vec_id").isin(ids)).select("vec_id", "c_vec")
    q = with_double_embedding(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    exact = (
        vecs.join(F.broadcast(pairs), "vec_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine",
            _dot(F.col("c_vec"), F.col("q_vec"))
            / (_norm(F.col("c_vec")) * _norm(F.col("q_vec"))),
        )
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def embedding_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) for all
    pairs with cosine ≥ ``threshold`` (id_a < id_b).

    Exact mode (``num_planes=None``) self-joins the corpus — O(N²), the
    verification oracle. Scale mode buckets both sides with the same
    hyperplane signature first, so only same-bucket pairs are scored:
    near-identical vectors almost always share all sign bits, shrinking
    the join to O(N²/2^planes) per bucket at the cost of missing pairs
    that straddle a hyperplane."""
    v = with_double_embedding(df, vec_col).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    )
    if num_planes is not None:
        v = v.withColumn("bucket", hyperplane_signature(F.col("vec"), num_planes, dim))
        join_on = [F.col("a.bucket") == F.col("b.bucket")]
    else:
        join_on = []
    a, b = v.alias("a"), v.alias("b")
    cond = F.col("a.vid") < F.col("b.vid")
    for c in join_on:
        cond = cond & c
    return (
        a.join(b, cond)
        .withColumn(
            "cosine",
            _dot(F.col("a.vec"), F.col("b.vec")) / (_norm(F.col("a.vec")) * _norm(F.col("b.vec"))),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            "cosine",
        )
    )


def _probe_buckets(bucket, num_planes: int, probes: int):
    """Multi-probe expansion: the bucket itself plus the ``probes``
    nearest neighbor buckets at Hamming distance 1 (single sign-bit
    flips). Probe buckets are pairwise distinct by construction, so no
    candidate dedup is needed downstream."""
    cols = [bucket]
    for p in range(min(probes, num_planes)):
        cols.append(bucket.bitwiseXOR(F.lit(1 << p)))
    return F.array(*cols)


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    probes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    md5_family: bool = False,
) -> DataFrame:
    """Multi-probe hyperplane LSH top-k: each query scores its own bucket
    AND the ``probes`` buckets one sign-flip away. A true neighbor lands
    in a different bucket only when some hyperplane separates it from the
    query; flipping one bit at a time recovers exactly the
    one-plane-straddle misses — the dominant loss mode — lifting recall
    toward exact at ~(probes+1)× candidate cost, WITHOUT duplicating the
    corpus into multiple tables (the classic recall fix, num_tables×
    memory, is the expensive alternative at 100 TB). ``probes=0`` is the
    single-bucket form: cost drops from O(N·Q) to O(N·Q/2^planes) with
    tunable recall.

    Plan shape: corpus signature is a narrow map; the query side explodes
    to (probes+1) rows per query and broadcasts; one bucket-equality
    join; per-query top-k window. Probe buckets are distinct, so each
    candidate pair appears at most once — no dropDuplicates shuffle.
    ``md5_family`` picks the hyperplane family
    (:func:`hyperplane_signature`)."""

    def sig_fn(vec):
        return hyperplane_signature(vec, num_planes, dim, md5_family=md5_family)

    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    q = with_double_embedding(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = c.withColumn("bucket", sig_fn(F.col("c_vec")))
    q = q.withColumn("bucket0", sig_fn(F.col("q_vec"))).select(
        "query_id",
        "q_vec",
        F.explode(_probe_buckets(F.col("bucket0"), num_planes, probes)).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("q_vec"), F.col("c_vec")) / (_norm(F.col("q_vec")) * _norm(F.col("c_vec"))),
        )
        .select("query_id", "vec_id", "cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def radius_search(
    corpus: DataFrame,
    queries: DataFrame,
    min_cosine: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Range (radius) similarity search: all corpus vectors within a
    cosine threshold of each query — the "find everything similar
    enough" variant of top-k (dedup sweeps, recall-oriented retrieval).
    Queries broadcast, corpus streamed once, JVM-side dot products;
    unlike top-k there is no per-query window, so the plan is a pure
    broadcast nested loop + filter — no shuffle at all."""
    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    q = with_double_embedding(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    return (
        c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("q_vec"), F.col("c_vec"))
            / (_norm(F.col("q_vec")) * _norm(F.col("c_vec"))),
        )
        .filter(F.col("cosine") >= min_cosine)
        .select("query_id", "vec_id", "cosine")
    )


def hyperplane_weights_md5(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix derived from md5("p_<p>_<i>")
    parity — computed driver-side at plan-build time (hashlib.md5 equals
    SQL md5 byte-for-byte), so a SQL oracle can regenerate the identical
    planes and the whole LSH path becomes value-checkable. The matrix is
    num_planes × dim literals (~tiny); it rides into the plan as
    constants, never as data."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"p_{p}_{i}".encode()).hexdigest()[:7], 16) % 2 == 0
            else -1.0
            for i in range(dim)
        ]
        for p in range(num_planes)
    ]


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|v|/127,
    q_i = round(v_i / scale) ∈ [-127, 127]. The 4× memory cut that makes
    a 100 TB embedding corpus broadcast- and cache-friendly for ANN;
    reconstruction error is bounded by scale/2 per component. Pure array
    expressions — narrow map, no shuffle, no UDF."""
    v = with_double_embedding(df, vec_col)
    absmax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x)))
    scale = absmax / F.lit(127.0)
    return v.select(
        F.col(id_col),
        F.round(scale, 6).alias("scale"),
        F.transform(
            F.col(vec_col), lambda x: F.round(x / scale).cast("int")
        ).alias("q"),
    )


def _assign_cells_blas(
    c: DataFrame, centroid_rows, chunk: int = 256
) -> DataFrame:
    """Coarse-quantizer cell assignment as a BLAS argmin mapInPandas
    kernel: O(N) output rows instead of the O(N·nlist) intermediate a
    ``crossJoin(broadcast(centroids)) + groupBy struct-min`` materializes.

    At the SemDeDup paper's own cluster-scaling rule (11k clusters for
    440M vectors) the crossJoin shape is an 11,000× row blowup evaluating
    a 64-dim distance expression per row — the assignment, not the
    per-cell pair join, becomes the dominant cost. Here each Arrow batch
    computes squared L2 distances to the broadcast centroid matrix via
    the quadratic form ``|x|² - 2x·cᵀ + |c|²`` (one GEMM per centroid
    chunk, chunked so the work array stays ``batch×chunk``) and emits one
    ``(vec_id, cell, c_vec)`` row per vector. Ties on distance keep the
    LOWEST cell — same tie-break as the lexicographic struct-min it
    replaces, because the running minimum only updates on strictly
    smaller distance.

    ``centroid_rows``: list of (cell, centroid) pairs, cell = 0..nlist-1,
    already sorted by cell. Input ``c`` must have columns
    ``(vec_id, c_vec)`` with c_vec array<double>.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cent = np.array([list(v) for _, v in centroid_rows], dtype=np.float64)
    cent_sq = (cent**2).sum(axis=1)

    id_field = c.schema["vec_id"]
    out_schema = T.StructType(
        [
            T.StructField("vec_id", id_field.dataType),
            T.StructField("cell", T.IntegerType()),
            T.StructField("c_vec", T.ArrayType(T.DoubleType())),
        ]
    )

    def _kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["c_vec"]), dtype=np.float64)  # b×d
            x_sq = (X**2).sum(axis=1)
            best = np.full(len(X), np.inf)
            best_cell = np.zeros(len(X), dtype=np.int32)
            for lo in range(0, len(cent), chunk):
                sub, sub_sq = cent[lo : lo + chunk], cent_sq[lo : lo + chunk]
                d = x_sq[:, None] - 2.0 * (X @ sub.T) + sub_sq[None, :]  # b×chunk
                local = d.argmin(axis=1)
                local_min = d[np.arange(len(X)), local]
                upd = local_min < best  # strict: earlier (lower) cell wins ties
                best[upd] = local_min[upd]
                best_cell[upd] = local[upd] + lo
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": best_cell,
                    "c_vec": pdf["c_vec"],
                }
            )

    # NOTE: deliberately no ensure_min_parallelism here — measured at
    # sf0.1 the repartition shuffle of the vector column costs more than
    # the parallel GEMM saves (the kernel is a thin BLAS call, not
    # interpreted per-row work like the text kernels that do gate).
    return c.select("vec_id", "c_vec").mapInPandas(_kernel, out_schema)


def _seed_centroid_rows(c: DataFrame, nlist: int):
    """nlist deterministic seed centroids: the corpus vectors with the
    smallest ids, cell = rank by vec_id. One bounded collect (nlist rows,
    the broadcast-small side) — the k-means|| init step without the
    iterations."""
    rows = c.orderBy("vec_id").limit(nlist).collect()
    return [(i, list(r["c_vec"])) for i, r in enumerate(rows)]


def _trained_centroid_rows(
    c: DataFrame,
    nlist: int,
    seed: int = 42,
    sample_per_cell: int | None = None,
    max_iter: int | None = None,
    init_mode: str | None = None,
):
    """Trained k-means centroids, fit on the deterministic hash-sample
    (:func:`_train_sample`, capped ~256·nlist vectors) — the PRODUCTION
    quantizer the seed-vector path (:func:`_seed_centroid_rows`) stands
    in for in the oracle-checked ``trained=False`` forms. Same return shape
    ``[(cell, [float, ...])]`` so every consumer (freeze into the store
    companion table, :func:`_assign_cells_blas` broadcast) is shared.
    Sampling the fit is the 100-TB contract: with ``nlist ∝ N`` a
    full-corpus fit re-scans the corpus every k-means iteration; the
    sample keeps train cost O(nlist·d) per iteration regardless of
    corpus size, and the hash predicate makes the fit a pure function
    of (ids, nlist, seed) — partitioning-independent, so a rebuilt
    corpus trains the identical quantizer."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = _train_sample(c, nlist, seed, per_cell=sample_per_cell).select(
        array_to_vector("c_vec").alias("features")
    )
    km = KMeans(k=nlist, seed=seed, featuresCol="features", predictionCol="cell")
    if max_iter is not None:
        # fit-budget knob (see retrain_ivf_pq_index): per-iteration fit
        # cost is sample × nlist GEMMs, so the iteration count is a
        # direct multiplier on the one super-build-cost term retrain has
        km = km.setMaxIter(int(max_iter))
    if init_mode is not None:
        # "random" collapses the k-means|| seeding passes (whose cost
        # dominates at large k and which maxIter does not touch) to a
        # seeded draw of k sample points — FAISS's standard IVF
        # training initialization
        km = km.setInitMode(init_mode)
    model = km.fit(train)
    return [
        (i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())
    ]


def semdedup(
    corpus: DataFrame,
    nlist: int = 8,
    min_cosine: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering the embedding space and dropping, WITHIN
    each cluster, every item that has a more-canonical (lower-id)
    neighbor above a cosine threshold — removes paraphrases and
    re-renderings that exact/MinHash dedup cannot see.

    Returns one row per input vector: ``(vec_id, cell, keep)``.

    Deterministic seed-vector coarse quantizer (the
    ``ivf_topk(trained=False)`` quantizer) so every step — assignment,
    within-cell pairing, cosine, verdict — exists verbatim in ANSI SQL
    and the WHOLE pipeline is value-checkable by an external oracle;
    production can swap trained k-means centroids into the same shape
    unchanged.

    Scale shape (100 TB): pairwise cosine is confined INSIDE cells —
    O(Σ cell²) exactly like the LSH bucket join, bounded by growing
    ``nlist`` with the corpus (the paper runs 11k clusters over
    LAION-440M ⇒ ~40k-vector cells). Assignment is a BLAS argmin
    mapInPandas kernel over the broadcast centroid matrix emitting O(N)
    rows (:func:`_assign_cells_blas`) — at the paper's nlist scaling the
    old crossJoin+struct-min assignment materialized N×nlist rows and
    dominated the whole operator; the pair join shuffles on the cell key
    only; no corpus-wide window, no driver state beyond the nlist-row
    centroid collect.
    """
    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    centroid_rows = _seed_centroid_rows(c, nlist)

    # Norms are computed ONCE per vector here — inside the O(Σ cell²)
    # pair join each row would otherwise recompute both sides' norms,
    # tripling the dominant expression cost of the whole operator. The
    # norm stays a Catalyst expression (not numpy) so the cosine math is
    # bit-identical to the SQL oracle's. The assignment is PERSISTED
    # (bounded via scoped_persist) because three plan branches consume
    # it (pair-join left, pair-join right, final verdict join) — without
    # the cache each branch re-derives its whole lineage and the GEMM
    # kernel runs 3x per action (measured ~3x the assignment stage at
    # both 1x and 10x in scripts/semantic_stage_probe.py).
    from ._cache import scoped_persist

    assigned = scoped_persist(
        _assign_cells_blas(c, centroid_rows).withColumn(
            "c_norm", _norm(F.col("c_vec"))
        ),
        "similarity.semdedup.assigned",
    )
    a = assigned.select("vec_id", "cell", "c_vec", "c_norm")
    b = assigned.select(
        F.col("vec_id").alias("b_vec_id"),
        F.col("cell").alias("b_cell"),
        F.col("c_vec").alias("b_vec"),
        F.col("c_norm").alias("b_norm"),
    )
    dropped = (
        a.join(b, (F.col("cell") == F.col("b_cell")) & (F.col("b_vec_id") < F.col("vec_id")))
        .withColumn(
            "cosine",
            _dot(F.col("c_vec"), F.col("b_vec")) / (F.col("c_norm") * F.col("b_norm")),
        )
        .filter(F.col("cosine") >= min_cosine)
        .select("vec_id")
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return (
        assigned.join(dropped, "vec_id", "left")
        .select("vec_id", "cell", F.col("_drop").isNull().alias("keep"))
    )


def _screen_batch(ba: DataFrame, corp: DataFrame, min_cosine: float) -> DataFrame:
    """Shared screening join of the incremental semantic-dedup family:
    assigned batch rows (vec_id, cell, c_vec, c_norm) against a corpus
    side (b_vec_id, b_cell, b_vec, b_norm) — same-cell pairs only, and
    SELF-pairs excluded (b_vec_id != vec_id): on a foreachBatch retry a
    survivor's own already-appended copy shares its vec_id, and without
    the exclusion every re-screened survivor would cosine-1-match
    itself and be falsely dropped. Returns (vec_id, cell, keep).

    The BATCH side is broadcast: it is bounded by the micro-batch
    contract (never the corpus), and ``cell`` has only nlist distinct
    values — a shuffle join on it would funnel the corpus side through
    ≤ nlist reducers, while the broadcast keeps the corpus scan
    map-side with no exchange at all."""
    dropped = (
        F.broadcast(ba).join(
            corp,
            (F.col("cell") == F.col("b_cell"))
            & (F.col("b_vec_id") != F.col("vec_id")),
        )
        .withColumn(
            "cosine",
            _dot(F.col("c_vec"), F.col("b_vec")) / (F.col("c_norm") * F.col("b_norm")),
        )
        .filter(F.col("cosine") >= min_cosine)
        .select("vec_id")
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return (
        ba.join(dropped, "vec_id", "left")
        .select("vec_id", "cell", F.col("_drop").isNull().alias("keep"))
    )


def semdedup_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    nlist: int = 8,
    min_cosine: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch-vs-corpus SemDeDup — the continuous-ingestion form of
    :func:`semdedup`, the embedding analogue of
    ``dedup.incremental_dedup_batch``: an arriving micro-batch is
    semantically deduplicated against the ACCUMULATED corpus without
    ever re-pairing the corpus with itself.

    Centroids come from the CORPUS (the stable side — in production the
    persisted k-means model; here the deterministic seed quantizer so
    the whole pipeline stays oracle-checkable). The batch assigns to
    those cells with the same BLAS argmin kernel and pairs ONLY against
    same-cell corpus vectors, so a micro-batch costs O(batch·cell) of
    pairwise work once cells are bounded (nlist ∝ corpus); the corpus
    side is still scanned/assigned here — use the persisted-cells store
    (:func:`persist_corpus_cells` + :func:`semdedup_batch_vs_table`)
    for the steady-state loop that must not re-touch the corpus. Corpus
    membership is canonical by construction (those vectors were already
    accepted), so ANY same-cell corpus neighbor at cosine ≥ threshold
    drops the batch vector — except a row with the batch vector's OWN
    id (retry idempotence, see :func:`_screen_batch`); intra-batch
    pairs are not compared (same stance as the MinHash incremental
    stage — run :func:`semdedup` upstream if intra-batch exactness is
    required).

    Returns one row per BATCH vector: ``(vec_id, cell, keep)``.
    """
    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    b = with_double_embedding(batch, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    centroid_rows = _seed_centroid_rows(c, nlist)
    corp = _assign_cells_blas(c, centroid_rows).withColumn(
        "c_norm", _norm(F.col("c_vec"))
    ).select(
        F.col("vec_id").alias("b_vec_id"),
        F.col("cell").alias("b_cell"),
        F.col("c_vec").alias("b_vec"),
        F.col("c_norm").alias("b_norm"),
    )
    # batch assignment persisted (bounded): _screen_batch consumes it in
    # two branches (screen join + final verdict join), which would each
    # re-run the batch GEMM and re-scan the batch source — batch-bounded
    # work, but free to cache (same reasoning as semdedup's assignment;
    # the store-backed production form localCheckpoints instead)
    from ._cache import scoped_persist

    ba = scoped_persist(
        _assign_cells_blas(b, centroid_rows).withColumn(
            "c_norm", _norm(F.col("c_vec"))
        ),
        "similarity.semdedup_incremental.ba",
    )
    return _screen_batch(ba, corp, min_cosine)


def _centroids_table(table_name: str) -> str:
    return f"{table_name}__centroids"


def _versioned(table_name: str, version: int) -> str:
    return f"{table_name}__v{version}"


def _live_version(spark, table_name: str) -> int:
    """Resolve the live store version from the pointer VIEW's text.

    A cells store's public name is a view ``SELECT * FROM
    <name>__v{N}``; ``CREATE OR REPLACE VIEW`` is a single metastore
    operation, so flipping ``N`` is the store's atomic commit point —
    a reader resolving the public name NEVER observes a missing table
    (the gap the earlier drop→rename swap left open between the DROP
    of the live store and the RENAME of its staging copy). Raises
    ``ValueError`` when the name is not a cells-store pointer view."""
    ddl = " ".join(r[0] for r in spark.sql(f"SHOW CREATE TABLE {table_name}").collect())
    m = re.search(rf"{re.escape(table_name)}__v(\d+)", ddl)
    if m is None:
        raise ValueError(f"{table_name} is not a corpus-cells store pointer view")
    return int(m.group(1))


def _store_versions(spark, table_name: str) -> list[int]:
    """Physical data versions present in the metastore (live + any
    orphans a crashed build left behind)."""
    rows = spark.sql(f"SHOW TABLES LIKE '{table_name}__v*'").collect()
    out = []
    for r in rows:
        m = re.fullmatch(rf"{re.escape(table_name)}__v(\d+)", r["tableName"])
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _live_tables(spark, cells_table: str) -> tuple[str, str]:
    """Resolve (data table, centroids table) of the live version ONCE —
    callers must pair reads from one resolution so a concurrent retrain
    flip cannot hand them data from one quantizer and centroids from
    another."""
    data_t = _versioned(cells_table, _live_version(spark, cells_table))
    return data_t, _centroids_table(data_t)


# Frozen-centroid memo, keyed by the VERSIONED companion-table name: a
# committed version is immutable (every rebuild writes a new version and
# flips the pointer view), so the collect can be paid once per version
# instead of twice per micro-batch in the steady-state screen+append
# loop. Builders evict the key they are about to (re)build — required
# because a full drop resets the version counter, so "v1" can be reborn
# with different centroids within one process. Each entry additionally
# carries the table's metastore CREATION TIME and is honored only while
# it matches: a version number reborn by ANOTHER session against a
# shared metastore (drop + re-persist outside this process, which the
# name-keyed eviction cannot see) gets a different creation timestamp,
# so the stale entry self-invalidates instead of serving old centroids.
_CENTROID_CACHE: dict = {}


def _table_created_at(spark, table: str) -> str:
    """The metastore 'Created Time' of a table — one catalog roundtrip,
    no executor job; '' when the row is absent (never matches a cached
    stamp, so the cache degrades to re-reading)."""
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
        if r["col_name"] == "Created Time":
            return r["data_type"]
    return ""


def _read_centroids(spark, centroids_table: str):
    created = _table_created_at(spark, centroids_table)
    hit = _CENTROID_CACHE.get(centroids_table)
    if hit is not None and hit[0] == created and created:
        return hit[1]
    rows = spark.table(centroids_table).orderBy("cell").collect()
    got = [(int(r["cell"]), list(r["c_vec"])) for r in rows]
    _CENTROID_CACHE[centroids_table] = (created, got)
    return got


def drop_corpus_cells(spark, cells_table: str) -> None:
    """Remove a cells store entirely: pointer view, every physical
    version (live or orphaned), and any legacy single-table layout
    under the same name."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._tables import drop_managed_table

    if spark.catalog.tableExists(cells_table):
        try:
            _live_version(spark, cells_table)
            spark.sql(f"DROP VIEW IF EXISTS {cells_table}")
        except ValueError:  # legacy physical table under the store name
            drop_managed_table(spark, cells_table)
    for v in _store_versions(spark, cells_table):
        _CENTROID_CACHE.pop(_centroids_table(_versioned(cells_table, v)), None)
        drop_managed_table(spark, _versioned(cells_table, v))
        drop_managed_table(spark, _centroids_table(_versioned(cells_table, v)))
    drop_managed_table(spark, _centroids_table(cells_table))  # legacy companion


def _build_store_version(
    corpus: DataFrame,
    cells_table: str,
    version: int,
    nlist: int,
    id_col: str,
    vec_col: str,
    trained: bool = False,
    seed: int = 42,
) -> str:
    """Fully materialize one store version under its versioned physical
    names: frozen centroids first, then the data table PARTITIONED BY
    ``cell`` with one file per cell (the ``repartition(cell)`` ahead of
    the dynamic-partition write puts each cell in exactly one task).
    ``trained=True`` freezes sampled-fit k-means centroids
    (:func:`_trained_centroid_rows`) instead of the deterministic seed
    vectors — every downstream consumer (append, screen, retrain,
    compact) reads the companion table and is quantizer-agnostic.
    Reclaims same-version orphans from a crashed prior build; never
    touches the live version."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._tables import drop_managed_table

    spark = corpus.sparkSession
    data_t = _versioned(cells_table, version)
    _CENTROID_CACHE.pop(_centroids_table(data_t), None)
    drop_managed_table(spark, data_t)
    drop_managed_table(spark, _centroids_table(data_t))
    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    centroid_rows = (
        _trained_centroid_rows(c, nlist, seed)
        if trained
        else _seed_centroid_rows(c, nlist)
    )
    spark.createDataFrame(
        [(cell, vec) for cell, vec in centroid_rows],
        "cell int, c_vec array<double>",
    ).coalesce(1).write.format("parquet").saveAsTable(_centroids_table(data_t))
    assigned = _assign_cells_blas(c, centroid_rows).withColumn(
        "c_norm", _norm(F.col("c_vec"))
    )
    (
        assigned.repartition(F.col("cell"))
        .write.partitionBy("cell")
        .format("parquet")
        .mode("overwrite")
        .saveAsTable(data_t)
    )
    return data_t


def _audit_store_ids(stored: DataFrame, cells_table: str) -> int:
    """Enforce :func:`append_corpus_cells`'s id-immutability contract at
    the maintenance steps that already scan the whole store: a
    redelivered id with a DIFFERENT embedding assigns to a different
    cell, evades the pruned presence check, and lands as a silent
    duplicate — invisible to the O(batch) ingest path by design, so
    retrain/compact (the only full passes) are where it must surface.
    One aggregate (count + countDistinct in the same job); raises with
    the offending magnitude instead of carrying duplicates into the new
    version. Returns the audited row count."""
    row = stored.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("vec_id").alias("n_ids"),
        # countDistinct ignores NULLs — count them separately or a NULL
        # id would masquerade as (and miscount) an id-duplication defect
        F.sum(F.col("vec_id").isNull().cast("long")).alias("n_null"),
    ).collect()[0]
    if row["n_null"]:
        raise ValueError(
            f"cells store {cells_table} holds {row['n_null']} NULL vec_id "
            "row(s) — ids are the append/dedup key and must be non-null; "
            "repair the source and rebuild via retrain_corpus_cells"
        )
    if row["n"] != row["n_ids"]:
        raise ValueError(
            f"cells store {cells_table} violates the append id-immutability "
            f"contract: {row['n']} rows but {row['n_ids']} distinct vec_ids "
            f"({row['n'] - row['n_ids']} duplicate-id rows — an id was "
            "re-sent with a different embedding; route corrections through "
            "retrain_corpus_cells on corrected vectors, not append)"
        )
    return row["n"]


def _reclaim_old_versions(spark, cells_table: str, keep: set) -> None:
    """The ONE reclamation rule every rebuild path (persist / retrain /
    compact) routes through: after a view flip, drop every physical
    version except ``keep`` = {the new live version, the version it
    just superseded}. Keeping the just-superseded version one more
    generation lets an in-flight reader that resolved the old tables
    right before the flip finish its scan; sweeping everything older
    here is what BOUNDS the litter — the version the PREVIOUS rebuild
    kept, plus any crashed-build orphans (never live, so no reader can
    hold them), all go now. Net invariant: at most two physical
    versions exist between maintenance steps."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._tables import drop_managed_table

    for v in set(_store_versions(spark, cells_table)) - keep:
        _CENTROID_CACHE.pop(_centroids_table(_versioned(cells_table, v)), None)
        drop_managed_table(spark, _versioned(cells_table, v))
        drop_managed_table(spark, _centroids_table(_versioned(cells_table, v)))


def persist_corpus_cells(
    corpus: DataFrame,
    table_name: str,
    nlist: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trained: bool = False,
    seed: int = 42,
) -> str:
    """Materialize the corpus's cell assignments (+ precomputed norms)
    as a table PARTITIONED BY the cell key — the amortization step for
    continuous semantic dedup, mirroring ``dedup.persist_corpus_bands``:
    a continuously-ingesting pipeline assigns the corpus ONCE, then
    every micro-batch screens against ONLY its touched cell partitions
    (static partition pruning — the batch assigns to ≤ min(|batch|,
    nlist) cells, so the per-batch corpus READ is bounded by the batch,
    not the corpus; the bands store keeps bucketing instead because its
    (band, value) key is high-cardinality, while ``cell`` has exactly
    ``nlist`` values — the hive-partitionable case).

    The store's public name is a pointer VIEW over a versioned physical
    table (``<name>__v{N}``); rebuilds (retrain/compact/re-persist)
    construct version N+1 fully, then commit with one atomic
    ``CREATE OR REPLACE VIEW`` — readers never observe a missing table.
    Reclamation of the superseded version is DEFERRED one generation
    (version N survives until the N+2 build): a reader that resolved
    the live tables — or holds an unscanned DataFrame — just before the
    flip can still finish its scan against version N. The guarantee is
    one-deep by design: a reader slower than TWO full rebuild cycles
    re-resolves the public view instead. Crashed-build orphans (never
    live, so no reader can hold them) are reclaimed immediately.
    The centroids are FROZEN into a per-version companion table
    (``<name>__v{N}__centroids``) — the quantizer is part of the
    store's state, never re-derived from the data (an append with a low
    id must not re-seed it). ``trained=False`` (default) freezes the
    deterministic seed vectors — the quantizer every value-exact SQL
    oracle can replay; ``trained=True`` freezes sampled-fit k-means
    centroids (:func:`_trained_centroid_rows` — fit on the
    deterministic ~256·nlist hash-sample, NEVER the full corpus) — the
    production quantizer, identical store shape, so append / screen /
    retrain / compact work unchanged on either. Data rows:
    (vec_id, c_vec, c_norm) partitioned by ``cell``."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._tables import drop_managed_table

    spark = corpus.sparkSession
    live = None
    if spark.catalog.tableExists(table_name):
        try:
            live = _live_version(spark, table_name)
        except ValueError:  # legacy single-table layout: clear it
            drop_managed_table(spark, table_name)
            drop_managed_table(spark, _centroids_table(table_name))
    orphans = _store_versions(spark, table_name)
    new_v = max(orphans + ([live] if live is not None else []) + [0]) + 1
    data_t = _build_store_version(
        corpus, table_name, new_v, nlist, id_col, vec_col, trained=trained, seed=seed
    )
    spark.sql(f"CREATE OR REPLACE VIEW {table_name} AS SELECT * FROM {data_t}")
    _reclaim_old_versions(
        spark, table_name, {new_v} | ({live} if live is not None else set())
    )
    return table_name


def append_corpus_cells(
    spark,
    cells_table: str,
    new_vectors: DataFrame,
    nlist: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """O(batch) append of newly-accepted vectors into a
    :func:`persist_corpus_cells` store: the new rows assign against the
    FROZEN centroids of the live version and ``insertInto`` its
    partitioned layout — the corpus is never rewritten or re-shuffled,
    so the steady-state ingest loop (screen via
    :func:`semdedup_batch_vs_table` → append survivors) costs only the
    batch at every step. Ids already present are skipped for retry
    idempotence via an anti-join whose store read is PRUNED to the
    batch's touched cell partitions — sound because the frozen
    centroids make assignment deterministic: a previously-appended copy
    of any batch id lives in exactly the cell that id re-assigns to.
    Corollary contract: an id is IMMUTABLE once stored — re-sending an
    id with a DIFFERENT embedding is a mutation, not an append retry
    (it would assign to a different cell, evade the pruned check, and
    duplicate the id); route corrections through a rebuild
    (:func:`retrain_corpus_cells` on corrected vectors). ENFORCED at
    the next full-store pass: retrain and compact run an id-uniqueness
    audit (:func:`_audit_store_ids`) inside the scan they already pay
    for and raise instead of carrying duplicates forward.
    Column order follows the table schema (insertInto is positional).
    ``nlist`` is retained for interface symmetry; the quantizer
    geometry comes entirely from the frozen companion table."""
    data_t, cent_t = _live_tables(spark, cells_table)
    stored = spark.table(data_t)
    centroid_rows = _read_centroids(spark, cent_t)
    b = with_double_embedding(new_vectors, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    assigned = _assign_cells_blas(b, centroid_rows).withColumn(
        "c_norm", _norm(F.col("c_vec"))
    ).localCheckpoint(eager=True)  # one assignment GEMM, reused below
    # bounded collect: the batch assigns to <= min(|batch|, nlist)
    # distinct cells — cell-id metadata, pushed into the store scan
    # as a static partition filter, never corpus-sized
    cells = [r["cell"] for r in assigned.select("cell").distinct().collect()]
    if not cells:
        return
    present = stored.filter(F.col("cell").isin(cells)).select("vec_id")
    fresh = assigned.join(present, "vec_id", "left_anti")
    fresh.select(*stored.columns).write.insertInto(data_t)


def retrain_corpus_cells(
    spark,
    cells_table: str,
    nlist: int,
    trained: bool = False,
    seed: int = 42,
) -> dict:
    """Refit the quantizer and remap the whole store — the maintenance
    step that makes the ``nlist ∝ corpus`` rule OPERATIONAL: as the
    corpus grows, cells fatten and the O(Σ cell²) screen degrades, so a
    periodic retrain (e.g. each time the corpus doubles) re-seeds with
    a larger ``nlist``, reassigns every stored vector, and freezes the
    new centroids in the new version's companion table. With
    ``trained=True`` the refit is a sampled k-means
    (:func:`_trained_centroid_rows` — ~256·nlist hash-sampled vectors,
    never a per-iteration full-store scan), so retrain stays one
    assignment pass + one partition shuffle at any store size.

    Built entirely through :func:`persist_corpus_cells`: version N+1 is
    fully materialized (reading version N lazily — the originals stay
    intact throughout the build), then the pointer view flips in one
    atomic metastore operation and version N is dropped. A crash
    mid-build leaves the live store untouched plus reclaimable
    orphans; a reader resolving the public name never finds it missing.
    Cost is one full pass over the store (the assignment GEMM + one
    partition shuffle) — amortized across the many O(batch) appends it
    enables. Returns {n_rows, nlist}.
    """
    stored = spark.table(cells_table)
    n_rows = _audit_store_ids(stored, cells_table)  # doubles as the count
    vectors = stored.select("vec_id", F.col("c_vec").alias("embedding"))
    persist_corpus_cells(vectors, cells_table, nlist=nlist, trained=trained, seed=seed)
    return {"n_rows": n_rows, "nlist": nlist}


def compact_corpus_cells(spark, cells_table: str) -> dict:
    """Collapse the per-append small files of a cells store back to one
    file per cell — the partitioned-store twin of
    ``_tables.compact_bucketed_store`` (which serves the bucketed bands
    store). Assignments and centroids are preserved verbatim (no
    re-seed — this is compaction, not retrain): the new version is the
    live data repartitioned on ``cell`` plus a copy of the frozen
    centroids, committed by the same atomic view flip, with the SAME
    deferred reclamation as every other rebuild (the just-compacted
    version survives one generation for in-flight readers; anything
    older is swept via :func:`_reclaim_old_versions`). Returns
    {files_before, files_after, n_rows}."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._tables import (
        drop_managed_table,
        store_file_stats,
    )

    v = _live_version(spark, cells_table)  # resolve ONCE; derive both names
    data_t = _versioned(cells_table, v)
    cent_t = _centroids_table(data_t)
    # id-immutability audit BEFORE any mutation: a violating store fails
    # here with versions and pointer untouched
    n_rows = _audit_store_ids(spark.table(data_t), cells_table)
    before = store_file_stats(spark, data_t)["n_files"]
    new_v = max(_store_versions(spark, cells_table) + [v]) + 1
    new_data = _versioned(cells_table, new_v)
    _CENTROID_CACHE.pop(_centroids_table(new_data), None)
    drop_managed_table(spark, new_data)
    drop_managed_table(spark, _centroids_table(new_data))
    spark.table(cent_t).coalesce(1).write.format("parquet").saveAsTable(
        _centroids_table(new_data)
    )
    (
        spark.table(data_t)
        .repartition(F.col("cell"))
        .write.partitionBy("cell")
        .format("parquet")
        .mode("overwrite")
        .saveAsTable(new_data)
    )
    spark.sql(f"CREATE OR REPLACE VIEW {cells_table} AS SELECT * FROM {new_data}")
    _reclaim_old_versions(spark, cells_table, {new_v, v})
    return {
        "files_before": before,
        "files_after": store_file_stats(spark, new_data)["n_files"],
        "n_rows": n_rows,
    }


def semdedup_batch_vs_table(
    spark,
    cells_table: str,
    batch: DataFrame,
    nlist: int = 8,
    min_cosine: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`semdedup_incremental` against a persisted
    :func:`persist_corpus_cells` table: only the BATCH runs the
    assignment kernel (against the FROZEN companion centroids — bounded
    metadata), and the corpus read is PRUNED to the batch's touched
    cell partitions — a bounded collect (≤ min(|batch|, nlist) cell
    ids) pushed into the scan as a static IN filter, so the physical
    plan carries PartitionFilters on ``cell`` and the per-batch corpus
    I/O is bounded by the batch, never O(corpus) (the scale gap the
    earlier bucketed layout left open: bucketing killed the corpus
    SHUFFLE but still read every stored byte each micro-batch). Same
    screening join (and retry-safe self-exclusion) as the direct
    operator via :func:`_screen_batch`. Data and centroids resolve
    from ONE live version (see :func:`_live_tables`). ``nlist`` is
    retained for interface symmetry; the quantizer geometry comes
    entirely from the frozen companion table. Returns one row per
    batch vector: ``(vec_id, cell, keep)``."""
    data_t, cent_t = _live_tables(spark, cells_table)
    centroid_rows = _read_centroids(spark, cent_t)
    b = with_double_embedding(batch, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    ba = _assign_cells_blas(b, centroid_rows).withColumn(
        "c_norm", _norm(F.col("c_vec"))
    ).localCheckpoint(eager=True)  # one assignment GEMM, reused below
    # bounded collect: the batch assigns to <= min(|batch|, nlist)
    # distinct cells — cell-id metadata, pushed into the store scan
    # as a static partition filter, never corpus-sized
    cells = [r["cell"] for r in ba.select("cell").distinct().collect()]
    stored = spark.table(data_t)
    pruned = (
        stored.filter(F.col("cell").isin(cells)) if cells else stored.filter(F.lit(False))
    )
    corp = pruned.select(
        F.col("vec_id").alias("b_vec_id"),
        F.col("cell").alias("b_cell"),
        F.col("c_vec").alias("b_vec"),
        F.col("c_norm").alias("b_norm"),
    )
    return _screen_batch(ba, corp, min_cosine)


def semdedup_ingest_batch(
    spark,
    cells_table: str,
    batch: DataFrame,
    nlist: int = 8,
    min_cosine: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One steady-state micro-batch pass of continuous semantic dedup:
    screen the batch against the persisted cells store AND append the
    survivors, sharing ONE pointer resolution, ONE assignment GEMM,
    ONE touched-cells collect, and ONE pruned store scan — the
    composition the streaming sink runs per trigger (calling
    :func:`semdedup_batch_vs_table` then :func:`append_corpus_cells`
    separately pays all four twice). Returns the screen flags
    ``(vec_id, cell, keep)``, MATERIALIZED before the append so their
    lineage cannot observe the store the append is about to extend.

    Retry semantics are IDENTICAL to the two-call form (same per-pair
    same-id exclusion in :func:`_screen_batch`, same pruned
    already-present anti-join before the insert), so the verdicts stay
    value-equal to :func:`semdedup_batch_vs_table` — the property the
    stream/batch equivalence oracle checks. The store CONVERGES under
    replay; only the audit can gain rows (a replay after the append
    committed re-screens against the survivors it appended, so two
    same-batch near-dup survivors can flag each other — an audit-only
    wart of the documented intra-batch-pairs-not-compared stance,
    which consumers dedupe by key). A corpus row is excluded only when
    it shares the batch vector's OWN id — NOT when its id merely
    appears elsewhere in the batch — so an at-least-once source that
    redelivers an old id alongside a genuinely new near-duplicate
    still gets the duplicate caught."""
    data_t, cent_t = _live_tables(spark, cells_table)
    centroid_rows = _read_centroids(spark, cent_t)
    b = with_double_embedding(batch, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    ba = _assign_cells_blas(b, centroid_rows).withColumn(
        "c_norm", _norm(F.col("c_vec"))
    ).localCheckpoint(eager=True)
    # bounded collect: the batch assigns to <= min(|batch|, nlist)
    # distinct cells — cell-id metadata, pushed into the store scan
    # as a static partition filter, never corpus-sized
    cells = [r["cell"] for r in ba.select("cell").distinct().collect()]
    stored = spark.table(data_t)
    pruned = (
        stored.filter(F.col("cell").isin(cells)) if cells else stored.filter(F.lit(False))
    )
    corp = pruned.select(
        F.col("vec_id").alias("b_vec_id"),
        F.col("cell").alias("b_cell"),
        F.col("c_vec").alias("b_vec"),
        F.col("c_norm").alias("b_norm"),
    )
    flags = _screen_batch(ba, corp, min_cosine).localCheckpoint(eager=True)
    survivors = ba.join(
        flags.filter(F.col("keep")).select("vec_id"), "vec_id", "left_semi"
    )
    fresh = survivors.join(pruned.select("vec_id"), "vec_id", "left_anti")
    fresh.select(*stored.columns).write.insertInto(data_t)
    return flags


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantized ANN top-k: score int8 codes (:func:`quantize_int8`)
    with an integer GEMM instead of float vectors — the 4× memory-traffic
    cut that lets a 100 TB embedding corpus stream through scoring at
    cache-friendly width. The production follow-up (exact float rescore
    of the shortlist via id point-lookups against the store) is the
    standard two-stage pattern; scoring itself is what moves the bytes.

    Exactness of the APPROXIMATION: integer dot products are exact
    (|dot| ≤ 127²·d, exactly representable in float64), and the score
    ``(dot · c_scale) · q_scale`` uses the published 6-decimal scales in
    a fixed multiply order — so every value, tie-break (score desc,
    vec_id asc), and rank is reproducible verbatim in ANSI SQL and the
    whole quantized pipeline is value-checkable by an external oracle.

    Same shape as :func:`cosine_topk_blas`: queries collected once
    (broadcast-small) into int64 matrices in the kernel closure; each
    corpus Arrow batch emits only its partial top-k per query, so the
    final window ranks partitions×Q×k candidate rows, never N×Q.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cq = quantize_int8(corpus, id_col, vec_col)
    qq = quantize_int8(queries, id_col, vec_col)

    q_rows = qq.collect()
    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    Qm = np.array([list(r["q"]) for r in q_rows], dtype=np.int64).T  # d×Q
    q_scale = np.array([r["scale"] for r in q_rows], dtype=np.float64)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def _kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.array(list(pdf["q"]), dtype=np.int64)  # b×d, int codes
            c_scale = pdf["scale"].to_numpy(dtype=np.float64)
            dots = (C @ Qm).astype(np.float64)  # b×Q, exact integers
            scores = (dots * c_scale[:, None]) * q_scale[None, :]
            outs = []
            for j, qid in enumerate(q_ids):
                mask = ids != qid  # exclude self-match
                cand_ids, cand_s = ids[mask], scores[mask, j]
                order = np.lexsort((cand_ids, -cand_s))[:k]
                outs.append(
                    pd.DataFrame(
                        {"query_id": qid, "vec_id": cand_ids[order], "score": cand_s[order]}
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    scored = cq.select(F.col(id_col), "scale", "q").mapInPandas(_kernel, out_schema)
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("score", 6).alias("score"), "rank")
    )


def int8_rescore_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage quantized ANN — the production follow-up
    :func:`int8_topk`'s docstring names: stage 1 streams the int8 codes
    (4× fewer bytes) through the integer GEMM for a per-query SHORTLIST
    of ``shortlist`` candidates; stage 2 rescores ONLY those Q×shortlist
    candidates with the exact float cosine and re-ranks the top ``k``.
    The quantization error that can reorder near-ties inside the
    shortlist is repaired by the exact pass, which re-ranks a candidate
    set whose SIZE is independent of the corpus.

    Scale shape (100 TB): stage 1 is the :func:`int8_topk` plan
    (partial top-k per Arrow batch, metadata-sized final window); stage
    2 broadcasts the Q×shortlist id set against the float corpus scan —
    no corpus shuffle, but the scan itself is a full pass over the
    float vector column, so stage 2's COST is scan-bound linear in the
    corpus, not flat (measured: r14 K=30 probe runs D/F, stage-2
    increment exponent ~0.31-0.37 — the scan emerging from the
    scheduler floor). Use this variant when the corpus has no
    maintained index; the store-backed path that makes stage 2 a true
    corpus-independent get is :func:`ivf_pq_rescore_topk` (refine
    store, partition-pruned + row-group-pruned id lookups).
    Every score, tie-break, and rank is
    reproducible verbatim in ANSI SQL (exact integer dots + published
    6-decimal scales + float64 cosine), so the whole two-stage pipeline
    is value-checkable. Returns (query_id, vec_id, cosine, rank)."""
    shortlist = max(shortlist, k)  # a shortlist below k cannot fill the top-k
    short = int8_topk(corpus, queries, k=shortlist, id_col=id_col, vec_col=vec_col)
    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    q = with_double_embedding(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    cand = c.join(F.broadcast(short.select("query_id", "vec_id")), "vec_id")
    exact = cand.join(F.broadcast(q), "query_id").withColumn(
        "cosine",
        _dot(F.col("c_vec"), F.col("q_vec"))
        / (_norm(F.col("c_vec")) * _norm(F.col("q_vec"))),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


# Johnson-Lindenstrauss sign source: a two-round multiply-xor mix over
# the flat matrix index, mod 2^31 so every intermediate fits SIGNED
# 64-bit (the SQL oracle replays it in DuckDB BIGINTs — max product
# (2^31-1)*2246822519 < 2^63). A plain LCG is NOT good enough here: its
# low bits alternate and even mid bits leave adjacent output columns
# ~0.97-correlated, destroying the distance-preservation guarantee. The
# mixed version's max |column corr| (0.32 at 64×16) matches a truly
# random ±1 matrix (~0.36 baseline).
_JL_M = 2_147_483_648  # 2^31


def jl_sign_matrix(in_dim: int, out_dim: int):
    """The deterministic ±1 projection matrix (in_dim × out_dim,
    float64), rebuilt identically on every executor — nothing shipped
    or stored. Bit 1 of mix(i*out_dim + j + 1) picks the sign."""
    import numpy as np

    idx = np.arange(in_dim * out_dim, dtype=np.int64).reshape(in_dim, out_dim)
    h = (idx + 1) * np.int64(2654435761) % np.int64(_JL_M)
    h = h ^ (h // np.int64(65536))
    h = h * np.int64(2246822519) % np.int64(_JL_M)
    h = h ^ (h // np.int64(8192))
    bit = (h // np.int64(2)) % np.int64(2)
    return np.where(bit == 0, 1.0, -1.0)


def jl_project(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
    in_dim: int = 64,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: compress each embedding
    from in_dim to out_dim with a deterministic ±1 sign matrix (Achlioptas
    2003 — database-friendly projections), preserving pairwise distances
    within (1±ε) whp. The standard pre-pass that makes downstream ANN /
    clustering / dedup O(out_dim) instead of O(in_dim) per comparison.

    Scale shape: the sign matrix is (in_dim × out_dim) — a closure
    constant, rebuilt identically on every executor from the LCG, nothing
    shipped or stored. Each Arrow batch projects as ONE (batch × in_dim)
    @ (in_dim × out_dim) BLAS matmul (the cosine_topk_blas pattern). The
    whole operator is a narrow map: zero shuffle, no driver state, no
    collect — at 100 TB it pipelines with the scan.

    Emits (id, dim, proj) with the RAW dot product in ``proj`` —
    normalization (/sqrt(out_dim)) and display rounding are left to the
    caller/query so engine-specific rounding stays in one place.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    R = jl_sign_matrix(in_dim, out_dim)

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("dim", T.IntegerType()),
            T.StructField("proj", T.DoubleType()),
        ]
    )

    def _kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            X = np.array(list(pdf[vec_col]), dtype=np.float64)
            P = X @ R  # batch × out_dim, one BLAS call
            n, k = P.shape
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, k),
                    "dim": np.tile(np.arange(k, dtype=np.int32), n),
                    "proj": P.ravel(),
                }
            )

    return with_double_embedding(df.select(id_col, vec_col), vec_col).mapInPandas(
        _kernel, out_schema
    )


def jl_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    shortlist: int = 15,
    out_dim: int = 16,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """JL-prefiltered ANN top-k: candidate generation by cosine in the
    ``out_dim`` projected space, then EXACT re-rank of each query's
    shortlist in the original space.

    The scale rationale: candidate scoring is the O(N·Q) term, and the
    projected GEMM does in_dim/out_dim (4x at 64→16) less arithmetic
    and memory traffic per corpus vector than full-dim scoring, while
    the exact re-rank touches only ``shortlist`` vectors per query.
    Deterministic end to end (the sign matrix is a pure function), so
    unlike classic randomized ANN the whole pipeline — including which
    candidates make the shortlist — is replayable by a SQL oracle, and
    recall against the exact top-k is a testable property, not a hope.

    Same kernel discipline as :func:`cosine_topk_blas`: queries are
    projected once driver-side and shipped in the closure; each corpus
    Arrow batch does ONE (batch × in_dim) @ (in_dim × out_dim) projection
    plus one (batch × out_dim) @ (out_dim × Q) scoring multiply, emitting
    only its partial top-``shortlist`` per query, so the candidate
    shuffle is metadata-sized at any corpus size.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    R = jl_sign_matrix(in_dim, out_dim)

    q_rows = (
        with_double_embedding(queries, vec_col)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .collect()
    )
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    QP = np.array([r["q_vec"] for r in q_rows], dtype=np.float64) @ R
    QPn = (QP / np.linalg.norm(QP, axis=1, keepdims=True)).T  # out_dim × Q

    cand_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("jl_cosine", T.DoubleType()),
        ]
    )

    def _kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            CP = np.array(list(pdf[vec_col]), dtype=np.float64) @ R
            norms = np.linalg.norm(CP, axis=1, keepdims=True)
            scores = (CP / np.where(norms == 0.0, 1.0, norms)) @ QPn  # b × Q
            outs = []
            for j, qid in enumerate(q_ids):
                s = scores[:, j]
                mask = ids != qid
                cand_ids, cand_s = ids[mask], s[mask]
                order = np.lexsort((cand_ids, -cand_s))[:shortlist]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "vec_id": cand_ids[order],
                            "jl_cosine": cand_s[order],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    cand = (
        with_double_embedding(corpus.select(id_col, vec_col), vec_col)
        .mapInPandas(_kernel, cand_schema)
    )
    w_short = W.partitionBy("query_id").orderBy(F.desc("jl_cosine"), F.asc("vec_id"))
    short = (
        cand.withColumn("jl_rank", F.row_number().over(w_short))
        .filter(F.col("jl_rank") <= shortlist)
        .select("query_id", "vec_id")
    )

    # Exact re-rank: the broadcast shortlist semi-prunes the corpus to
    # shortlist×Q rows BEFORE any full-dim arithmetic happens.
    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    q = (
        with_double_embedding(queries, vec_col)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .withColumn("q_norm", _norm(F.col("q_vec")))
    )
    scored = (
        c.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine",
            _dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_norm") * _norm(F.col("c_vec"))),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def semdedup_jl(
    corpus: DataFrame,
    nlist: int = 16,
    min_cosine: float = 0.3,
    cand_cosine: float = 0.05,
    out_dim: int = 32,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup with Johnson-Lindenstrauss acceleration, exact verdicts:
    cluster assignment AND candidate generation run in the ``out_dim``
    projected space (half the arithmetic/memory traffic at 64→32), but
    every candidate pair is CONFIRMED with the exact full-dimension
    cosine before a drop verdict — the sketch-prune + exact-confirm
    shape of ``contamination_screen_bloom`` and ``heavy_hitters``
    applied to semantic dedup.

    Why not threshold in projected space directly: JL preserves cosines
    to ADDITIVE error ~1/sqrt(out_dim) (≈0.18 at 32), which swamps a
    0.3 threshold on near-orthogonal pairs; verdicts would be noise.
    With exact confirm, the projection only influences WHICH cell a
    vector lands in and which pairs are scored (candidate recall ≈95%
    at cand_cosine=0.05 on this corpus, pruning ~60% of full-dim pair
    work); the drop decision itself is exact, so drop rates match the
    full-dim operator and residual disagreement is the same clustering
    variance a different k-means seed would produce.

    One fused kernel projects each Arrow batch (GEMM) and assigns cells
    against the projected seed-centroid matrix (chunked quadratic-form
    GEMM, strict-< argmin keeping the lowest cell — identical tie-break
    to ``_assign_cells_blas``), emitting (vec_id, cell, both vectors)
    in O(N) rows. The pair join shuffles on the cell key only; the
    projected-cosine candidate predicate runs BEFORE the full-dim
    cosine in the conjunction, so codegen short-circuits the expensive
    term. Deterministic end to end — the SQL oracle replays projection,
    assignment, candidate prune, and confirm verbatim.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    R = jl_sign_matrix(in_dim, out_dim)

    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    seed_rows = c.orderBy("vec_id").limit(nlist).collect()
    cent = np.array([list(r["c_vec"]) for r in seed_rows], dtype=np.float64) @ R
    cent_sq = (cent**2).sum(axis=1)

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("c_vec", T.ArrayType(T.DoubleType())),
            T.StructField("p_vec", T.ArrayType(T.DoubleType())),
        ]
    )

    def _kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["c_vec"]), dtype=np.float64)
            P = X @ R
            d = (P**2).sum(axis=1)[:, None] - 2.0 * (P @ cent.T) + cent_sq[None, :]
            best = np.full(len(P), np.inf)
            best_cell = np.zeros(len(P), dtype=np.int32)
            for j in range(d.shape[1]):  # strict-< scan keeps lowest cell on ties
                upd = d[:, j] < best
                best[upd] = d[upd, j]
                best_cell[upd] = j
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "cell": best_cell,
                    "c_vec": pdf["c_vec"],
                    "p_vec": list(P),
                }
            )

    # Persisted for the same reason as semdedup's assignment: three plan
    # branches (pair-join left/right, final verdict join) would each
    # re-run the projection+assignment kernel — 3x the GEMM per action
    # (measured on the full-dim twin in scripts/semantic_stage_probe.py).
    from ._cache import scoped_persist

    assigned = scoped_persist(
        c.mapInPandas(_kernel, out_schema)
        .withColumn("c_norm", _norm(F.col("c_vec")))
        .withColumn("p_norm", _norm(F.col("p_vec"))),
        "similarity.semdedup_jl.assigned",
    )
    a = assigned.select("vec_id", "cell", "c_vec", "p_vec", "c_norm", "p_norm")
    b = assigned.select(
        F.col("vec_id").alias("b_vec_id"),
        F.col("cell").alias("b_cell"),
        F.col("c_vec").alias("b_vec"),
        F.col("p_vec").alias("b_pvec"),
        F.col("c_norm").alias("b_norm"),
        F.col("p_norm").alias("b_pnorm"),
    )
    cand = (
        _dot(F.col("p_vec"), F.col("b_pvec")) / (F.col("p_norm") * F.col("b_pnorm"))
        >= cand_cosine
    )
    exact = (
        _dot(F.col("c_vec"), F.col("b_vec")) / (F.col("c_norm") * F.col("b_norm"))
        >= min_cosine
    )
    dropped = (
        a.join(b, (F.col("cell") == F.col("b_cell")) & (F.col("b_vec_id") < F.col("vec_id")))
        .filter(cand & exact)
        .select("vec_id")
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return assigned.join(dropped, "vec_id", "left").select(
        "vec_id", "cell", F.col("_drop").isNull().alias("keep")
    )


def pca_fit_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
) -> tuple[DataFrame, "object"]:
    """Distributed PCA over an embedding column: compression/whitening
    ahead of clustering or ANN (the learned complement to the random JL
    projection — same output shape, data-adapted axes).

    The scalable shape: each partition computes its moment partials
    (n, Σ(x−p), Σ(x−p)(x−p)ᵀ) in one mapInPandas pass — a d²-sized
    summary per partition regardless of row count — the driver combines
    the metadata-sized partials, eigendecomposes the d×d covariance (d
    is the embedding width, tiny), fixes eigenvector sign by the
    largest-|component|-positive convention (eigh's sign is otherwise
    arbitrary), and broadcasts the components into a BLAS projection
    kernel. Two narrow passes over the corpus, zero shuffles, driver
    work bounded by d², never by N.

    ``p`` is a PILOT vector (any sample row, fetched with one cheap
    ``first()``): accumulating shifted moments makes the covariance
    ``SS/n − (S/n)(S/n)ᵀ`` numerically stable on large-mean embeddings
    — with raw moments the two terms both grow as ‖μ‖² and their
    difference (the actual variance) cancels away in float64 once
    ‖μ‖ ≫ σ, which is exactly the regime normalized-but-uncentered
    embedding stores live in (r13 ADVICE: the Welford-vs-moment
    variance comparison was flaky for this reason). Variance is
    shift-invariant, so the eigenvectors are unchanged; only the
    conditioning improves.

    Returns ``(projected_df, model)`` where projected_df has
    ``(id_col, pca: array<float>)`` and model carries ``components``
    (k×d), ``mean`` (d) and ``explained_var`` (k) as numpy arrays.
    Rows with a NULL embedding are excluded from both the fit and the
    returned projection (fit-on-present-vectors); :func:`pca_apply`
    on a null-containing column raises a named-id error instead.
    Eigendecomposition has no SQL twin, so this operator is
    pytest-pinned (orthonormality, variance ordering, agreement with
    single-node numpy PCA) rather than DuckDB-oracled.
    """
    import numpy as np
    import pandas as pd

    # Null embeddings are excluded from the fit AND the returned
    # projection (the standard fit-on-present-vectors contract): a null
    # row carries no moment information, and np.stack over a column
    # containing None crashes deep inside an executor with an opaque
    # message. The pilot fetch must skip nulls too — a null FIRST row
    # over a mostly-valid column previously raised the misleading
    # "needs at least 2 vectors" (r14 ADVICE).
    src = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col).alias("__v")
    )

    pilot_row = src.select("__v").first()
    if pilot_row is None:
        raise ValueError(f"PCA fit: no non-null vectors in column {vec_col!r}")
    pilot = np.asarray(pilot_row[0], dtype=np.float64)

    def partials(batches):
        n = 0
        s = None
        ss = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["__v"].to_numpy()).astype(np.float64) - pilot
            n += m.shape[0]
            s = m.sum(axis=0) if s is None else s + m.sum(axis=0)
            g = m.T @ m
            ss = g if ss is None else ss + g
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.reshape(-1).tolist()]}
            )

    rows = src.select("__v").mapInPandas(
        partials, "n long, s array<double>, ss array<double>"
    ).collect()  # bounded: one row per partition, each O(d^2)
    n = sum(r.n for r in rows)
    if n < 2:
        raise ValueError("PCA needs at least 2 non-null vectors")
    d = len(rows[0].s)
    s = np.zeros(d)
    ss = np.zeros((d, d))
    for r in rows:
        s += np.array(r.s)
        ss += np.array(r.ss).reshape(d, d)
    sbar = s / n  # shifted mean: true mean = pilot + sbar
    mean = pilot + sbar
    cov = ss / n - np.outer(sbar, sbar)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # k x d
    # deterministic sign: largest-|component| entry positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    explained = np.maximum(evals[order], 0.0)

    class _Model:
        components = comps
        mean_vec = mean
        explained_var = explained

    model = _Model()
    # project the same non-null subset the fit saw (row-for-row parity
    # between fit input and projection output)
    return (
        pca_apply(df.filter(F.col(vec_col).isNotNull()), model, id_col, vec_col),
        model,
    )


def pca_apply(
    df: DataFrame,
    model,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    whiten: bool = False,
) -> DataFrame:
    """Project an embedding column with a FROZEN PCA model — the
    production shape for a growing corpus: fit once (on a snapshot or a
    sample, :func:`pca_fit_project`), freeze ``(components, mean,
    explained_var)``, then apply to every later batch/partition with
    this one narrow pass. The same freeze-then-apply discipline as the
    frozen BPE tokenizer (text.bpe_encode) and the trained coarse
    quantizer (persist_corpus_cells trained=True): the expensive fit
    never re-runs with corpus growth, and projections stay mutually
    comparable because the axes never move.

    One Arrow-batched BLAS pass (``(X - mean) @ componentsᵀ``), zero
    shuffles, linear in rows and embarrassingly parallel. With
    ``whiten=True`` each output dimension is additionally scaled to
    unit variance (1/√λᵢ — the usual preconditioner ahead of cosine/
    k-means on anisotropic embeddings). DEGENERATE components — those
    with λᵢ ≤ 1e-9·λ₁ relative to the leading eigenvalue — are ZEROED
    rather than scaled: a near-zero-variance axis carries numerical
    noise, not signal, and dividing it by √λᵢ would amplify that noise
    by up to ~10⁶ and let it dominate every downstream cosine/k-means
    distance. Zeroing makes the degenerate axis inert (sklearn-style
    behavior for exactly-singular covariances, chosen here with a
    relative rather than absolute floor so the rule is scale-free).

    The output id column keeps the INPUT id column's type (string doc
    ids project as readily as long vec ids). Returns
    ``(id_col, pca: array<double>)``.
    """
    import numpy as np
    import pandas as pd

    comps_f = np.asarray(model.components, dtype=np.float64)
    mean_f = np.asarray(model.mean_vec, dtype=np.float64)
    if whiten:
        ev = np.asarray(model.explained_var, dtype=np.float64)
        lead = float(ev.max(initial=0.0))
        live = ev > 1e-9 * lead if lead > 0 else np.zeros(ev.shape, dtype=bool)
        scale = np.zeros_like(ev)
        scale[live] = 1.0 / np.sqrt(ev[live])
        comps_f = comps_f * scale[:, None]

    id_type = df.schema[id_col].dataType.simpleString()
    src = df.select(F.col(id_col), F.col(vec_col).alias("__v"))

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pdf["__v"].isna().any():
                bad = pdf.loc[pdf["__v"].isna(), id_col].iloc[0]
                raise ValueError(
                    f"pca_apply: null embedding at {id_col}={bad!r} — "
                    "drop or impute nulls before projecting"
                )
            m = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            p = (m - mean_f) @ comps_f.T
            yield pd.DataFrame(
                {id_col: pdf[id_col], "pca": [row.tolist() for row in p]}
            )

    return src.mapInPandas(project, f"{id_col} {id_type}, pca array<double>")


def embedding_health(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = None,
) -> DataFrame:
    """One-row health audit of an embedding store — the preflight every
    operator in this module silently assumes has passed: consistent
    dimensionality, no NULL/NaN/Inf payloads, no zero-norm vectors
    (cosine is undefined on them), and unique ids (the append-id
    immutability contract, checked here WITHOUT mutating anything).

    A corrupt embedding column does not fail ANN queries loudly — it
    skews centroids, poisons normalized dot products, and silently
    drops recall — so pipelines gate index builds on this audit the way
    loads gate on row counts. Everything folds into one partial
    aggregate over a single scan (per-row signals are higher-order
    array expressions, JVM-side); the exchange moves one row, so the
    audit costs one pass at any corpus size.
    """
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ss = F.aggregate(vd, F.lit(0.0), lambda a, x: a + x * x)
    nonfinite = F.exists(
        vd, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
    )
    per = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).isNull().alias("__isnull"),
        F.size(F.col(vec_col)).alias("__dim"),
        F.when(F.col(vec_col).isNotNull(), nonfinite).alias("__bad"),
        F.when(F.col(vec_col).isNotNull(), ss).alias("__ss"),
        *([F.col(label_col).isNull().alias("__lab_null")] if label_col else []),
    )
    norm = F.when(
        (~F.col("__bad")) & F.col("__ss").isNotNull(), F.sqrt("__ss")
    )
    aggs = [
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("__isnull").cast("long")).alias("n_null_vec"),
        (F.count("__id") - F.countDistinct("__id")).alias("n_dup_ids"),
        F.countDistinct("__dim").alias("n_dims"),
        F.min("__dim").alias("dim_min"),
        F.max("__dim").alias("dim_max"),
        F.sum(F.coalesce(F.col("__bad").cast("long"), F.lit(0))).alias(
            "n_nonfinite"
        ),
        F.sum(
            ((~F.col("__bad")) & (F.col("__ss") == 0)).cast("long")
        ).alias("n_zero_norm"),
        F.round(F.min(norm), 4).alias("norm_min"),
        F.round(F.max(norm), 4).alias("norm_max"),
        F.round(F.avg(norm), 4).alias("norm_mean"),
    ]
    if label_col:
        aggs.append(F.sum(F.col("__lab_null").cast("long")).alias("n_null_label"))
    return per.agg(*aggs)

"""Hash-family cross-checks and xxhash64 value pins.

Each ANN/dedup algorithm has ONE operator with its hash family (or
quantizer) as a parameter: ``md5_family`` for MinHash, SimHash and
hyperplane LSH, ``trained`` for IVF. The catalog runs the md5/seeded
form, which a portable SQL oracle reproduces value for value; the
xxhash64/k-means form is engine-specific. These tests call each
operator once per family on the same input and assert that both
families compute the same THING:

* MinHash: with identical (num_hashes, bands, threshold) parameters the
  two hash families must produce near-identical candidate-pair sets,
  and both must recover every planted near-duplicate.
* SimHash: the 60-bit md5 and 64-bit xxhash64 families legitimately
  disagree on borderline pairs (the fixture has no real near-dups, so
  its ≤12-bit candidates are threshold noise — set equality is NOT an
  invariant; even hamming-0 pairs are family-specific collisions). The
  invariant that must hold: both families recover planted
  one-token-edit near-duplicates, and their candidate volumes agree to
  a constant.
* LSH / IVF top-k: different hyperplanes/centroids bucket differently,
  so result overlap between families is weak — the invariant is that
  every neighbor either family returns is a genuinely near neighbor
  (inside the exact cosine top-50), with exactly k results per query.

The xxhash64/k-means family has no oracle row, so its VALUES are pinned
here on fixed documents and vectors: MinHash signatures, SimHash
fingerprints, hyperplane buckets, and IVF cells and top-k.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import dedup as D
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import (
    similarity as SIM,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.tables import (
    load_table,
)

SF_DIR = "/root/testdata/sf0.001"
FAMILIES = (False, True)  # md5_family


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").select("doc_id", "text").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


@pytest.fixture(scope="module")
def planted(spark, docs):
    """50 base docs plus a one-token-edit near-duplicate of each
    (doc_id + 10000): ground-truth near-dup pairs for recall checks."""
    base = docs.filter(F.col("doc_id") < 50).cache()
    dups = base.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzextra")).alias("text"),
    )
    corpus = base.unionByName(dups).cache()
    pairs = {(r.doc_id, r.doc_id + 10000) for r in base.select("doc_id").collect()}
    return corpus, pairs


def _minhash_pairs(df, md5_family):
    sigs = D.minhash_signatures(
        df, "doc_id", "text", num_hashes=32, shingle_size=3, md5_family=md5_family
    )
    return {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(
            sigs, num_bands=8, threshold=0.3, num_hashes=32, hash_buckets=not md5_family
        ).collect()
    }


def test_minhash_twins_same_candidates_same_params(docs):
    """With the hash family as the ONLY difference, the two families
    must produce near-identical LSH candidate sets (empirically
    identical on the fixture; the bound leaves room for borderline
    est_jaccard flips)."""
    prod, orc = (_minhash_pairs(docs, fam) for fam in FAMILIES)
    assert prod and orc
    assert abs(len(prod) - len(orc)) <= 0.25 * max(len(prod), len(orc))
    jac = len(prod & orc) / len(prod | orc)
    assert jac >= 0.8, f"minhash family candidate sets diverged: jaccard={jac:.2f}"


def test_minhash_twins_recover_planted_neardups(planted):
    corpus, want = planted
    for fam in FAMILIES:
        got = _minhash_pairs(corpus, fam)
        assert len(want & got) >= 0.95 * len(want), f"md5_family={fam}"


def test_simhash_twins_recover_planted_neardups(planted):
    """Both the 64-bit xxhash64 family and the 60-bit md5 family must
    flag a one-token-edit duplicate as near (≤ 12 bits); short documents
    may flip enough weighted bits to escape, so the bound is 90% recall,
    and the candidate volumes must agree to a constant factor."""
    corpus, want = planted
    found = []
    for fam in FAMILIES:
        fps = D.simhash(corpus, "doc_id", "text", md5_family=fam)
        got = {
            (r.doc_a, r.doc_b)
            for r in D.simhash_near_pairs(fps, max_hamming=12, md5_family=fam).collect()
        }
        assert len(want & got) >= 0.9 * len(want), f"md5_family={fam}: {len(want & got)}"
        found.append(got)
    prod, orc = found
    assert max(len(prod), len(orc)) <= 1.5 * min(len(prod), len(orc))


def test_lsh_topk_twins_return_true_neighbors(emb):
    """Different hyperplane families bucket differently, so the result
    sets legitimately differ — but anything EITHER returns must be a
    real near neighbor (exact cosine top-50 of 500 vectors), with
    exactly k rows per query."""
    q = emb.filter(F.col("vec_id") < 5)
    exact50 = {(r.query_id, r.vec_id) for r in SIM.cosine_topk(emb, q, k=50).collect()}
    for fam in FAMILIES:
        rows = SIM.lsh_multiprobe_topk(
            emb, q, k=3, num_planes=4, dim=64, probes=0, md5_family=fam
        ).collect()
        per_query: dict[int, int] = {}
        for r in rows:
            per_query[r.query_id] = per_query.get(r.query_id, 0) + 1
            assert (r.query_id, r.vec_id) in exact50, (
                f"md5_family={fam} returned a non-neighbor: {(r.query_id, r.vec_id)}"
            )
        assert set(per_query.values()) == {3}, per_query


def test_ivf_twins_agree_and_return_true_neighbors(emb):
    """k-means centroids (trained) vs seed-vector centroids: cell
    boundaries differ, but ≥ 2/3 of the top-k results must coincide and
    every result from both must sit in the exact top-50."""
    q = emb.filter(F.col("vec_id") < 5)
    exact50 = {(r.query_id, r.vec_id) for r in SIM.cosine_topk(emb, q, k=50).collect()}
    kmeans, fixed = (
        {
            (r.query_id, r.vec_id)
            for r in SIM.ivf_topk(emb, q, k=3, nlist=8, nprobe=3, trained=t).collect()
        }
        for t in (True, False)
    )
    assert len(kmeans) == len(fixed) == 15
    assert kmeans <= exact50 and fixed <= exact50
    assert len(kmeans & fixed) >= 10, f"IVF quantizers agree on only {len(kmeans & fixed)}/15"


# --- xxhash64-family value pins ---------------------------------------------
# Recorded from the separate pre-merge xxhash64 operators; the merged
# operators must reproduce them exactly.

PIN_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "The quick brown fox jumped over the lazy dogs"),
    (3, "spark shuffles partitions across executors at scale"),
    (4, "two words"),
    (5, "  déjà vu   all over again and again  "),
    (6, "a a a a a b b b c"),
]

# doc 4 has fewer than 3 words, hence no shingles and no signature row
PIN_MINHASH = {
    1: [-5722436853456277108, -8779152658124852842, -9159784625113025089, -6330060534990010533,
        -7844675635917701622, -7762890447744112800, -5713229304298846584, -7595342899530728689],
    2: [-5709314864998057327, -8779152658124852842, -9159784625113025089, -6330060534990010533,
        119888923635592058, -7925138782197944833, -5713229304298846584, -7595342899530728689],
    3: [-4386059980359040675, -8276213301183577155, -9138667684448534836, -1495827992597940384,
        -751885448251614752, -5566448778169154485, -9016553067756214581, -6136400748923628250],
    5: [-7392749365708696806, -8634115879876717656, -8752238390173388968, -5630922903296119024,
        -7120875714023174928, -2761949831738406669, -8670079412484172224, -4931909020426509846],
    6: [-4571962658970929873, -2169595499349298598, -1767706251275363978, -7830502492582314361,
        -7334383409653903303, -8058086458349942026, -2848965433841057892, -8395004138779385782],
}

PIN_SIMHASH = {
    1: -7573889167326994222,
    2: -7014866678019546630,
    3: 8921616078435802066,
    4: 4913435992608383616,
    5: -6632903219212281072,
    6: -8582455328737087284,
}

# 40 vectors in 4 tight clusters (vector i belongs to cluster i % 4)
PIN_BUCKETS = [102, 63, 98, 32, 102, 63, 96, 32, 102, 63, 98, 32, 102, 127, 98, 32,
               102, 127, 98, 32, 102, 63, 98, 32, 102, 63, 96, 32, 102, 63, 96, 32,
               102, 127, 98, 32, 102, 127, 98, 32]
PIN_IVF_CELLS = [2, 0, 1, 3] * 10
PIN_IVF_TOPK = {
    (0, 8, 2), (0, 16, 3), (0, 20, 1),
    (1, 17, 3), (1, 25, 1), (1, 29, 2),
    (2, 10, 2), (2, 14, 1), (2, 22, 3),
}


@pytest.fixture(scope="module")
def pin_vectors(spark):
    rng = np.random.RandomState(11)
    centers = rng.normal(0, 1, size=(4, 8)) * 4
    rows = []
    for i in range(40):
        v = centers[i % 4] + rng.normal(0, 0.2, size=8)
        rows.append((i, [round(float(x), 3) for x in v]))
    # one partition: the k-means|| init sample depends on the layout
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(1)


def test_xxhash64_minhash_signature_pins(spark):
    docs = spark.createDataFrame(PIN_DOCS, "doc_id long, text string")
    got = {
        r.doc_id: list(r.signature)
        for r in D.minhash_signatures(docs, "doc_id", "text", num_hashes=8).collect()
    }
    assert got == PIN_MINHASH


def test_xxhash64_simhash_fingerprint_pins(spark):
    docs = spark.createDataFrame(PIN_DOCS, "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in D.simhash(docs, "doc_id", "text").collect()}
    assert got == PIN_SIMHASH


def test_xxhash64_hyperplane_bucket_pins(pin_vectors):
    vec = F.transform("embedding", lambda x: x.cast("double"))
    got = {
        r.vec_id: r.bucket
        for r in pin_vectors.select(
            "vec_id", SIM.hyperplane_signature(vec, 8, 8).alias("bucket")
        ).collect()
    }
    assert [got[i] for i in range(40)] == PIN_BUCKETS


def test_trained_ivf_cell_and_topk_pins(pin_vectors):
    """The cells ``ivf_topk(trained=True)`` assigns (sampled-fit k-means
    centroids, BLAS argmin) and its top-k rows."""
    c = SIM.with_double_embedding(pin_vectors, "embedding").select(
        "vec_id", F.col("embedding").alias("c_vec")
    )
    cells = {
        r.vec_id: r.cell
        for r in SIM._assign_cells_blas(c, SIM._trained_centroid_rows(c, 4, 42)).collect()
    }
    assert [cells[i] for i in range(40)] == PIN_IVF_CELLS
    q = pin_vectors.filter(F.col("vec_id") < 3)
    got = {
        (r.query_id, r.vec_id, r.rank)
        for r in SIM.ivf_topk(pin_vectors, q, k=3, nlist=4, nprobe=2).collect()
    }
    assert got == PIN_IVF_TOPK

"""Similarity search: exact top-k vs numpy ground truth; LSH determinism
and recall of planted duplicates."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_validation_spark.operators import similarity

DIM = 16
N = 300


@pytest.fixture(scope="module")
def vectors():
    rng = np.random.default_rng(7)
    mat = rng.standard_normal((N, DIM)).astype(np.float32)
    mat[10] = mat[3] * 2.0          # same direction as 3 (cosine 1)
    mat[11] = mat[3] + rng.standard_normal(DIM).astype(np.float32) * 0.05
    return mat


@pytest.fixture(scope="module")
def emb(spark, vectors):
    rows = [(i, [float(x) for x in vectors[i]]) for i in range(N)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def _numpy_topk(vectors, q, k):
    qq = q / np.linalg.norm(q)
    unit = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
    cos = unit @ qq
    order = np.lexsort((np.arange(len(cos)), -cos))
    return [int(i) for i in order[:k]], cos


def test_brute_force_topk_matches_numpy(emb, vectors):
    q = vectors[3].astype(np.float64)
    expect_ids, cos = _numpy_topk(vectors.astype(np.float64), q, 8)
    got = similarity.brute_force_topk(emb, q, 8).collect()
    assert [r["vec_id"] for r in got] == expect_ids
    for r in got:
        assert r["cosine"] == pytest.approx(cos[r["vec_id"]], abs=1e-6)
    # the planted colinear/near vectors rank on top
    assert set(expect_ids[:3]) == {3, 10, 11}


def test_pandas_kernel_path_agrees(emb, vectors):
    q = vectors[3].astype(np.float64)
    a = similarity.brute_force_topk(emb, q, 10).collect()
    b = similarity.brute_force_topk_pandas(emb, q, 10).collect()
    assert [r["vec_id"] for r in a] == [r["vec_id"] for r in b]
    for ra, rb in zip(a, b):
        assert ra["cosine"] == pytest.approx(rb["cosine"], abs=1e-9)


def test_pandas_kernel_zero_query_matches_catalyst(emb):
    """An all-zero query scores every vector 0.0 on both paths (the
    numpy kernel used to divide by the query's zero norm: NULL)."""
    q = np.zeros(DIM)
    a = [tuple(r) for r in similarity.brute_force_topk(emb, q, 5).collect()]
    b = [tuple(r) for r in
         similarity.brute_force_topk_pandas(emb, q, 5).collect()]
    assert a == b
    assert [r[1] for r in b] == [0.0] * 5


def test_lsh_bucket_determinism(emb):
    i1 = {r["vec_id"]: r["bucket"] for r in
          similarity.lsh_bucket_index(emb, DIM).collect()}
    i2 = {r["vec_id"]: r["bucket"] for r in
          similarity.lsh_bucket_index(emb, DIM).collect()}
    assert i1 == i2
    assert all(0 <= b < 256 for b in i1.values())


def test_lsh_colinear_vectors_share_bucket(emb):
    idx = {r["vec_id"]: r["bucket"] for r in
           similarity.lsh_bucket_index(emb, DIM).collect()}
    assert idx[3] == idx[10]  # same direction → same sign pattern


def test_lsh_topk_finds_planted_neighbors(emb, vectors):
    q = vectors[3].astype(np.float64)
    idx = similarity.lsh_bucket_index(emb, DIM)
    got = similarity.lsh_bucketed_topk(idx, q, 3, dim=DIM, n_probe=4)
    ids = [r["vec_id"] for r in got.collect()]
    assert ids[0] in (3, 10)           # cosine-1 pair tops the list
    assert {3, 10} <= set(ids)


def test_embedding_near_duplicates(emb):
    nd = similarity.embedding_near_duplicates(emb, DIM, threshold=0.95)
    pairs = {(r["id_a"], r["id_b"]) for r in nd.collect()}
    assert (3, 10) in pairs
    assert (3, 11) in pairs
    # random 16-dim vectors almost never hit cosine ≥ .95: only planted
    # pairs (3,10,11 triangle) qualify
    assert pairs <= {(3, 10), (3, 11), (10, 11)}


def test_query_buckets_probe_count():
    q = np.ones(DIM)
    probes = similarity.query_buckets(q, DIM, n_planes=8, n_probe=4)
    assert len(probes) == 5 and len(set(probes)) == 5


def test_scaled_n_planes_keeps_expected_bucket_constant():
    s = similarity.scaled_n_planes
    assert s(500) == 4                       # small data → floor
    assert s(1024 * 256) == 8                # N/target = 2^8
    assert s(10**12) == 24                   # capped
    # expected bucket size N / 2^k stays ≤ ~target as N grows 100×
    for n in (10**6, 10**8, 10**10):
        k = s(n)
        assert k == 24 or n / 2 ** k <= 1024


def test_embedding_near_dups_stats_and_split(spark):
    """10× planted-hot-region data: a correlated-but-splittable hot
    region is recursively split instead of dropped — zero drops, and
    the split + recall estimate are part of the reported stats."""
    rng = np.random.default_rng(11)
    base = rng.standard_normal((3000, DIM)).astype(np.float32)
    # correlated hot region, wide enough that extra sign bits separate it
    center = rng.standard_normal(DIM)
    hot = (center[None, :] + 0.3 * rng.standard_normal((600, DIM))
           ).astype(np.float32)
    mat = np.vstack([base, hot])
    rows = [(i, [float(x) for x in mat[i]]) for i in range(len(mat))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    stats = {}
    nd = similarity.embedding_near_duplicates(
        df, DIM, threshold=0.9, max_bucket=300, target_bucket=256,
        stats_out=stats)
    n_pairs = nd.count()
    assert stats["n_dropped_buckets"] == 0
    assert stats["n_dropped_memberships"] == 0
    assert stats["split_rounds"] >= 1          # the hot cone forced a split
    assert 0.0 < stats["est_recall"] <= 1.0
    # the hot cone yields plenty of cosine-.9 pairs; none were lost to caps
    assert n_pairs > 100


def test_embedding_near_dups_degenerate_clique_is_counted(spark):
    """A near-parallel clique larger than max_bucket cannot be separated
    by sign bits (all pairwise cosines ≈ 1) — it must be DROPPED WITH
    ACCOUNTING, never silently."""
    rng = np.random.default_rng(12)
    center = rng.standard_normal(DIM)
    clique = (center[None, :] + 0.01 * rng.standard_normal((500, DIM))
              ).astype(np.float32)
    rows = [(i, [float(x) for x in clique[i]]) for i in range(len(clique))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    stats = {}
    similarity.embedding_near_duplicates(
        df, DIM, threshold=0.99, max_bucket=100, max_split_rounds=2,
        stats_out=stats).count()
    assert stats["n_dropped_buckets"] > 0
    assert stats["n_dropped_memberships"] >= 100


def test_embedding_near_dups_stable_under_plane_count(emb):
    """Planted pairs survive a plane-count change (multi-table recall)."""
    a = {(r["id_a"], r["id_b"]) for r in
         similarity.embedding_near_duplicates(
             emb, DIM, threshold=0.95, n_planes=4).collect()}
    b = {(r["id_a"], r["id_b"]) for r in
         similarity.embedding_near_duplicates(
             emb, DIM, threshold=0.95, n_planes=6).collect()}
    assert {(3, 10), (3, 11)} <= a
    assert {(3, 10), (3, 11)} <= b


# ---------------------------------------------------------------------------
# IVF tier
# ---------------------------------------------------------------------------

def test_ivf_centroids_deterministic(emb):
    c1 = similarity.ivf_centroids(emb, DIM, n_centroids=8)
    c2 = similarity.ivf_centroids(emb, DIM, n_centroids=8)
    assert np.array_equal(c1, c2)
    assert c1.shape == (8, DIM)


def test_ivf_full_probe_equals_brute_force(emb, vectors):
    """Probing every cell must reproduce the exact answer — the IVF
    machinery adds pruning, never error, when nothing is pruned."""
    q = vectors[5].astype(np.float64)
    cents = similarity.ivf_centroids(emb, DIM, n_centroids=8)
    idx = similarity.ivf_index(emb, cents).cache()
    exact = [(r["vec_id"], round(r["cosine"], 9))
             for r in similarity.brute_force_topk(emb, q, 10).collect()]
    ivf = [(r["vec_id"], round(r["cosine"], 9))
           for r in similarity.ivf_topk(idx, cents, q, 10,
                                        n_probe=8).collect()]
    assert ivf == exact


def test_ivf_planted_query_found_and_partial_probe_recall(emb, vectors):
    """A query identical to an indexed vector is always found at rank 1
    (its own cell is the nearest centroid, so it is always probed);
    and a half-probe search keeps high recall vs brute force."""
    q = vectors[3].astype(np.float64)
    cents = similarity.ivf_centroids(emb, DIM, n_centroids=8)
    idx = similarity.ivf_index(emb, cents).cache()
    got = similarity.ivf_topk(idx, cents, q, 10, n_probe=4).collect()
    # rank-1 hits: vec 3 itself or its colinear twin 10 (cosine 1.0)
    assert got[0]["vec_id"] in (3, 10) and got[0]["cosine"] > 0.999999
    exact_ids = {r["vec_id"]
                 for r in similarity.brute_force_topk(emb, q, 10).collect()}
    recall = len(exact_ids & {r["vec_id"] for r in got}) / 10
    assert recall >= 0.7  # deterministic given the fixed seed/data


def test_knn_join_exact_matches_per_query_brute_force(emb, vectors):
    """ivf_knn_join with every cell probed = exact batch kNN: each
    query's rows equal its single-query brute-force answer."""
    cents = similarity.ivf_centroids(emb, DIM, n_centroids=8)
    idx = similarity.ivf_index(emb, cents).cache()
    queries = emb.where(F.col("vec_id") < 12)
    out = similarity.ivf_knn_join(queries, idx, cents, k=5,
                                  n_probe=8).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(12))
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: (-r["cosine"], r["vec_id"]))
        want = similarity.brute_force_topk(
            emb, vectors[qid].astype(np.float64), 5).collect()
        assert [r["vec_id"] for r in rows] == [w["vec_id"] for w in want]
        for r, w in zip(rows, want):
            assert r["cosine"] == pytest.approx(w["cosine"], abs=1e-9)


def test_knn_join_partial_probe_self_recall(emb):
    """Queries drawn from the corpus always find themselves at rank 1
    under partial probing — the query's own cell is its nearest
    centroid, so it is probed by construction."""
    cents = similarity.ivf_centroids(emb, DIM, n_centroids=8)
    idx = similarity.ivf_index(emb, cents).cache()
    out = similarity.ivf_knn_join(emb, idx, cents, k=1, n_probe=2).collect()
    assert len(out) == N
    for r in out:
        # rank-1 is the query itself, or a colinear twin at cosine 1
        assert r["vec_id"] == r["query_id"] or r["cosine"] > 0.999999


def test_knn_join_deterministic(emb):
    cents = similarity.ivf_centroids(emb, DIM, n_centroids=8)
    idx = similarity.ivf_index(emb, cents).cache()
    queries = emb.where(F.col("vec_id") % 29 == 0)
    a = sorted(map(tuple, similarity.ivf_knn_join(
        queries, idx, cents, k=4, n_probe=3).collect()))
    b = sorted(map(tuple, similarity.ivf_knn_join(
        queries, idx, cents, k=4, n_probe=3).collect()))
    assert a == b


def test_knn_join_k_larger_than_cells(emb):
    """k above the probed candidate count returns what exists, no
    crash, no padding."""
    cents = similarity.ivf_centroids(emb, DIM, n_centroids=8)
    idx = similarity.ivf_index(emb, cents).cache()
    one = emb.where(F.col("vec_id") == 0)
    out = similarity.ivf_knn_join(one, idx, cents, k=10_000,
                                  n_probe=1).collect()
    assert 0 < len(out) < N          # one cell's worth
    assert all(r["query_id"] == 0 for r in out)


# ---------------------------------------------------------------------------
# the shared kernels: pair sweep, nearest-cell pick, sign buckets
# ---------------------------------------------------------------------------

def _brute_pairs(ids, mat, threshold):
    norms = np.linalg.norm(mat, axis=1)
    unit = mat / np.where(norms == 0, 1.0, norms)[:, None]
    cos = unit @ unit.T
    return {(min(ids[i], ids[j]), max(ids[i], ids[j])): cos[i, j]
            for i in range(len(ids)) for j in range(i + 1, len(ids))
            if cos[i, j] >= threshold}


@pytest.mark.parametrize("threshold", [-1.0, 0.25])
def test_cosine_pairs_sweeps_every_block(monkeypatch, threshold):
    """A group spanning several blocks, the last of them one row that
    still has a pair to emit, gives numpy brute force's pairs and
    cosines whatever order its rows arrive in."""
    import pandas as pd
    rng = np.random.default_rng(11)
    block, n = 4, 3 * 4 + 2  # rows 12 and 13 form the last block
    mat = rng.standard_normal((n, 6))
    mat[5] = mat[2] * 3.0    # a cosine-1 pair in different blocks
    mat[9] = 0.0             # a zero row stays zero, never NaN
    ids = rng.permutation(np.arange(100, 100 + 7 * n, 7))
    pdf = pd.DataFrame({"vec_id": ids, "embedding": list(mat)})
    monkeypatch.setattr(similarity, "_PAIR_BLOCK", block)
    a, b, cos = similarity.cosine_pairs(pdf, "embedding", "vec_id",
                                        threshold)
    expect = _brute_pairs(ids, mat, threshold)
    # no cosine sits within rounding of the threshold
    assert min(abs(c - threshold)
               for c in _brute_pairs(ids, mat, -2.0).values()) > 1e-9
    assert (a < b).all()
    got = dict(zip(zip(a.tolist(), b.tolist()), cos.tolist()))
    assert len(got) == len(a) and got.keys() == expect.keys()
    for k, c in expect.items():
        assert got[k] == pytest.approx(c, abs=1e-12)
    # one block holding the whole group gives the same pairs
    monkeypatch.setattr(similarity, "_PAIR_BLOCK", 2048)
    whole = similarity.cosine_pairs(pdf, "embedding", "vec_id", threshold)
    assert sorted(zip(*whole[:2])) == sorted(got)


def test_cell_kernels_agree_and_break_ties_by_cell_id(emb, vectors):
    """Two identical centroids tie for every vector nearest them: the
    pick keeps the lower cell id.  ``ivf_index`` is
    ``ivf_index_multi`` at one probe, and ``ivf_assign_queries``
    probes the cells ``ivf_index_multi`` assigns."""
    cents = similarity.ivf_centroids(emb, DIM, n_centroids=4)
    cents = np.vstack([cents[:1], cents[:1], cents[1:]])  # cells 0 == 1

    def cells(frame, id_col):
        # no sort: a vector's probe rows keep the kernel's nearest-first
        # order, which a sort by id alone would not preserve
        out: dict[int, list[int]] = {}
        for r in frame.collect():
            out.setdefault(r[id_col], []).append(r["cell"])
        return out

    one = cells(similarity.ivf_index(emb, cents), "vec_id")
    assert one == cells(similarity.ivf_index_multi(emb, cents, 1), "vec_id")
    assert all(len(c) == 1 and c[0] != 1 for c in one.values())
    tied = [i for i, c in one.items() if c == [0]]
    assert tied  # some vectors sit nearest the duplicated centroid
    multi = cells(similarity.ivf_index_multi(emb, cents, 3), "vec_id")
    queries = similarity.ivf_assign_queries(emb, cents, 3)
    assert multi == cells(queries, "query_id")
    assert all(multi[i][:2] == [0, 1] for i in tied)
    unit = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
    cu = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    expect = np.argsort(-(unit.astype(np.float64) @ cu.T), kind="stable",
                        axis=1)[:, :3]
    assert all(multi[i] == expect[i].tolist() for i in range(N))


def test_lsh_bucket_ids_are_plane_sign_bits(emb, vectors):
    """Bit ``b`` of a vector's bucket is the sign of its dot product
    with hyperplane ``b``."""
    planes = similarity._hyperplanes(DIM, 8, similarity.DEFAULT_SEED)
    signs = (vectors.astype(np.float64) @ planes.T) > 0
    expect = (signs * (1 << np.arange(8))).sum(axis=1)
    got = {r["vec_id"]: r["bucket"] for r in
           similarity.lsh_bucket_index(emb, DIM, n_planes=8).collect()}
    assert similarity.lsh_bucket_index(emb, DIM).columns == [
        "vec_id", "bucket", "embedding"]
    assert got == {i: int(expect[i]) for i in range(N)}


def test_embedding_near_dups_report_each_pair_once(emb):
    """A pair that collides in several tables is verified once per
    table, in buckets of different make-up, so its cosines can differ
    in the last bits; it is still one row."""
    doubled = emb.unionAll(emb.withColumn("vec_id", F.col("vec_id") + N))
    rows = similarity.embedding_near_duplicates(
        doubled, DIM, threshold=0.999, n_planes=3, n_tables=6).collect()
    pairs = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(pairs) == len(set(pairs))
    assert {(i, i + N) for i in range(N)} <= set(pairs)

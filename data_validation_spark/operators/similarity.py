"""Similarity search over embedding columns (array<float>).

Three tiers, trading exactness for scan cost:

* ``brute_force_topk`` — exact cosine top-k via Catalyst expressions +
  ``orderBy(...).limit(k)`` (Spark plans a TakeOrdered: per-partition
  heap + driver merge of k rows per partition — no global sort even at
  10^12 rows).
* ``brute_force_topk_pandas`` — same semantics, Arrow-batched numpy
  matrix kernel (mapInPandas) for throughput when the vector column is
  wide; this is the fast path for bulk scoring.
* ``lsh_bucketed_topk`` — random-hyperplane LSH: vectors land in
  2^n_planes sign buckets; the query probes its own bucket plus
  ``n_probe`` single-bit-flip neighbors, scanning only those partitions
  of the index.  Approximate, tunable recall, scan cost ~ bucket share.
* ``ivf_*`` — k-means cells (IVF): index, multi-probe index, query
  probes and the batch kNN join.
* ``embedding_near_duplicates`` — cosine ≥ threshold pairs within LSH
  buckets (near-dup path for embedding dedup).

Each numpy step is written once, here, and every operator that needs
it (``semantic`` and ``ann_index`` included) calls that copy:

* ``_matrix`` stacks a batch's vector column to float64, ``_norms`` /
  ``_unit`` normalise rows (a zero row stays zero);
* ``cosine_pairs`` is the within-group pair sweep (LSH buckets here,
  SemDeDup clusters in ``semantic``);
* ``_nearest`` picks each row's nearest centroid cells, and ``_cells``
  is the Arrow kernel around it (``ivf_index``, ``ivf_index_multi``,
  ``ivf_assign_queries``; the Lloyd step of ``ivf_centroids`` calls
  ``_nearest`` directly);
* ``_sign_buckets`` assigns hyperplane sign buckets
  (``lsh_bucket_index`` is its one-table, no-split case).

Hyperplanes are generated from a fixed seed so index and query agree
deterministically across jobs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_validation_spark.functions.arrays import cosine_col, lit_vector

DEFAULT_SEED = 42

#: rows per matrix block in ``cosine_pairs``: the sweep holds
#: ~block × group-size doubles at once, however large the group
_PAIR_BLOCK = 2048


def _matrix(pdf: pd.DataFrame, col: str) -> np.ndarray:
    """A batch's vector column stacked into one float64 matrix."""
    return np.stack(pdf[col].to_numpy()).astype(np.float64)


def _norms(mat: np.ndarray) -> np.ndarray:
    """Row norms, with a zero row's norm taken as 1 so it stays zero."""
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    return norms


def _unit(mat: np.ndarray) -> np.ndarray:
    return mat / _norms(mat)[:, None]


def cosine_pairs(pdf: pd.DataFrame, vec_col: str, id_col: str,
                 threshold: float
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Every pair of ``pdf``'s rows with cosine ≥ ``threshold``, as
    arrays ``(id_a, id_b, cosine)`` with ``id_a < id_b``.

    The rows are sorted by id and unit-normalised once, then the upper
    triangle of ``X @ X.T`` is swept ``_PAIR_BLOCK`` rows at a time, so
    the sweep never holds more than ``_PAIR_BLOCK`` × n cosines.  A
    group of at most ``_PAIR_BLOCK`` rows is one block, ``X @ X.T`` in
    full, which numpy hands to BLAS's symmetric product: its cosines
    keep the bits an unblocked kernel gives.  The output order and every
    cosine's bits depend only on the group's rows, not on their arrival
    order."""
    pdf = pdf.sort_values(id_col, kind="stable")
    mat = _unit(_matrix(pdf, vec_col))
    ids = pdf[id_col].to_numpy()
    out_a, out_b, out_c = [ids[:0]], [ids[:0]], [np.empty(0)]
    for lo in range(0, len(ids) - 1, _PAIR_BLOCK):
        sims = mat[lo:lo + _PAIR_BLOCK] @ mat.T  # (block, n)
        # upper triangle only: column j must exceed global row i
        ii, jj = np.nonzero(sims >= threshold)
        keep = jj > ii + lo
        out_a.append(ids[ii[keep] + lo])
        out_b.append(ids[jj[keep]])
        out_c.append(sims[ii[keep], jj[keep]])
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_c)


def brute_force_topk(df: DataFrame, query_vec, k: int = 10,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Exact cosine top-k against a literal query vector — pure Catalyst
    (zip_with/aggregate), deterministic ties broken by id."""
    q = lit_vector(query_vec)
    return (df.select(F.col(id_col),
                      cosine_col(F.col(vec_col), q).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc(id_col))
            .limit(k))


def brute_force_topk_pandas(df: DataFrame, query_vec, k: int = 10,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """Exact cosine top-k with an Arrow-batched numpy kernel: each batch
    is scored as one matrix-vector product, and only each batch's local
    top-k survives to the final TakeOrdered."""
    q = np.asarray(query_vec, dtype=np.float64)
    # an all-zero query stays zero, so every cosine is 0.0 as in
    # brute_force_topk; any other query divides by its own norm
    qn = q / (np.linalg.norm(q) or 1.0)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = _matrix(pdf, vec_col)
            cos = (mat @ qn) / _norms(mat)
            out = pd.DataFrame({id_col: pdf[id_col], "cosine": cos})
            yield out.nlargest(min(k, len(out)), "cosine")

    scored = df.select(id_col, vec_col).mapInPandas(
        score, schema=f"{id_col} long, cosine double")
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


# ---------------------------------------------------------------------------
# random-hyperplane LSH index
# ---------------------------------------------------------------------------

def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def lsh_bucket_index(df: DataFrame, dim: int, n_planes: int = 8,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     seed: int = DEFAULT_SEED) -> DataFrame:
    """Assign every vector a sign-bucket id.  Persist/partition this by
    ``bucket`` as the ANN index (e.g. write partitioned parquet so a
    probe prunes to the probed buckets' files)."""
    planes = _hyperplanes(dim, n_planes, seed)
    return _sign_buckets(df, [planes], n_planes, 0, [[]], vec_col,
                         id_col).drop("table")


def query_buckets(query_vec, dim: int, n_planes: int = 8, n_probe: int = 4,
                  seed: int = DEFAULT_SEED) -> list[int]:
    """The query's bucket plus its n_probe nearest single-bit flips
    (flip order = |margin| ascending: the planes the query is closest
    to are the most likely sign errors)."""
    planes = _hyperplanes(dim, n_planes, seed)
    q = np.asarray(query_vec, dtype=np.float64)
    margins = planes @ q
    base = 0
    for b in range(n_planes):
        base |= int(margins[b] > 0) << b
    flips = np.argsort(np.abs(margins))[:n_probe]
    return [base] + [base ^ (1 << int(b)) for b in flips]


def lsh_bucketed_topk(index: DataFrame, query_vec, k: int = 10,
                      dim: int | None = None, n_planes: int = 8,
                      n_probe: int = 4, vec_col: str = "embedding",
                      id_col: str = "vec_id",
                      seed: int = DEFAULT_SEED) -> DataFrame:
    """Approximate top-k: exact cosine over only the probed buckets."""
    dim = dim or len(query_vec)
    probes = query_buckets(query_vec, dim, n_planes, n_probe, seed)
    cand = index.filter(F.col("bucket").isin(probes))
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) index — the k-means-cell scale path
# ---------------------------------------------------------------------------

def ivf_centroids(df: DataFrame, dim: int, n_centroids: int = 16,
                  n_iters: int = 2, vec_col: str = "embedding",
                  id_col: str = "vec_id",
                  sample_factor: int = 8) -> np.ndarray:
    """Deterministic IVF coarse quantizer: k-means centroids trained
    with driver-bounded cluster work.

    * **Init**: k-means|| style but deterministic — take the
      ``n_centroids`` vectors with the smallest ``xxhash64(id)``
      (a TakeOrdered over a hash ordering = a uniform pseudo-random
      sample with NO RNG state on the data path, so index build and
      rebuild agree bit-for-bit).
    * **Refine**: ``n_iters`` Lloyd iterations; each is ONE pass that
      emits per-Arrow-batch partial (centroid, count, sum-vector) rows
      — #batches × k rows of dim floats, merged driver-side — never a
      per-row shuffle of vectors.

    Driver memory is O(k × dim); cluster passes are O(n_iters).
    """
    sample = (df.select(id_col, vec_col)
              .orderBy(F.xxhash64(F.col(id_col).cast("string")))
              .limit(max(n_centroids * sample_factor, n_centroids)))
    rows = sample.collect()
    cents = np.stack([np.asarray(r[vec_col], dtype=np.float64)
                      for r in rows[:n_centroids]])

    for _ in range(n_iters):
        cu = _unit(cents)

        def partials(batches: Iterator[pd.DataFrame]
                     ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                mat = _matrix(pdf, vec_col)
                assign = _nearest(mat, cu, 1)[:, 0]
                ks, inv = np.unique(assign, return_inverse=True)
                sums = np.zeros((len(ks), mat.shape[1]))
                np.add.at(sums, inv, mat)  # k×dim accumulator, not hot
                counts = np.bincount(inv, minlength=len(ks))
                yield pd.DataFrame({
                    "centroid": ks.astype(np.int64),
                    "cnt": counts.astype(np.int64),
                    "vsum": list(sums)})

        part = df.select(id_col, vec_col).mapInPandas(
            partials, schema="centroid long, cnt long, vsum array<double>")
        merged = part.collect()
        # collect() row order varies run to run; float += in that order
        # would wobble the centroids' last bits and flip borderline cell
        # assignments between runs.  math.fsum is exactly rounded and
        # therefore ORDER-INSENSITIVE — centroids are bit-deterministic
        # for a given dataset no matter how partials arrive.
        import math as _math
        by_cent: dict[int, list] = {}
        for r in merged:
            by_cent.setdefault(r["centroid"], []).append(r)
        sums = np.zeros_like(cents)
        counts = np.zeros(len(cents))
        for ci, rs in by_cent.items():
            counts[ci] = sum(r["cnt"] for r in rs)
            for d in range(cents.shape[1]):
                sums[ci, d] = _math.fsum(r["vsum"][d] for r in rs)
        nonzero = counts > 0
        cents[nonzero] = sums[nonzero] / counts[nonzero, None]
    return cents


def _nearest(mat: np.ndarray, unit_centroids: np.ndarray,
             n_probe: int) -> np.ndarray:
    """Each row's ``n_probe`` nearest (cosine) centroid cells, shape
    (rows, n_probe), nearest first.  Ties go to the lower cell id:
    ``argmax`` keeps the first maximum, and the stable ``argsort`` keeps
    equal similarities in cell order, so both picks agree at
    ``n_probe == 1``."""
    sims = _unit(mat) @ unit_centroids.T
    if n_probe == 1:
        return np.argmax(sims, axis=1)[:, None]
    return np.argsort(-sims, kind="stable", axis=1)[:, :n_probe]


def _cells(df: DataFrame, centroids: np.ndarray, n_probe: int,
           vec_col: str, id_col: str, out_id: str, out_vec: str
           ) -> DataFrame:
    """The IVF cell kernel: one ``(out_id, cell, out_vec)`` row per
    (vector, probed cell), ``n_probe`` rows per vector."""
    cu = _unit(centroids)
    n_probe = min(n_probe, len(cu))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cells = _nearest(_matrix(pdf, vec_col), cu, n_probe)
            yield pd.DataFrame({
                out_id: np.repeat(pdf[id_col].to_numpy(), n_probe),
                "cell": cells.astype(np.int64).ravel(),
                out_vec: np.repeat(pdf[vec_col].to_numpy(), n_probe)})

    return df.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{out_id} long, cell long, {out_vec} array<float>")


def ivf_index(df: DataFrame, centroids: np.ndarray,
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """Assign every vector to its nearest (cosine) centroid cell.
    Persist partitioned by ``cell`` so a probe prunes to the probed
    cells' files — the IVF analogue of ``lsh_bucket_index``."""
    return _cells(df, centroids, 1, vec_col, id_col, id_col, vec_col)


def ivf_index_multi(df: DataFrame, centroids: np.ndarray,
                    n_probe: int = 2, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """Assign every vector to its ``n_probe`` nearest (cosine)
    centroid cells — one output row per (vector, cell), same column
    names as ``ivf_index`` so within-cell kernels run unchanged.  The
    multi-probe expansion is what closes SemDeDup's cross-cluster miss
    for near-boundary vectors: two near-identical vectors on opposite
    sides of a Voronoi boundary still SHARE a cell once each also
    lands in its second-nearest.  Ties break by cell id, so the probe
    set is deterministic on any engine."""
    return _cells(df, centroids, n_probe, vec_col, id_col, id_col, vec_col)


def ivf_topk(index: DataFrame, centroids: np.ndarray, query_vec,
             k: int = 10, n_probe: int = 4,
             vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """Approximate cosine top-k: exact scoring over only the
    ``n_probe`` cells whose centroids are nearest the query — scan
    cost ~ n_probe/n_centroids of the table (further reduced to file
    pruning if the index is stored partitioned by cell)."""
    q = np.asarray(query_vec, dtype=np.float64)
    qu = q / (np.linalg.norm(q) or 1.0)
    order = np.argsort(-(_unit(centroids) @ qu))
    probes = [int(x) for x in order[:n_probe]]
    cand = index.filter(F.col("cell").isin(probes))
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)


def ivf_assign_queries(queries: DataFrame, centroids: np.ndarray,
                       n_probe: int = 4, vec_col: str = "embedding",
                       id_col: str = "vec_id") -> DataFrame:
    """Explode each query row to its ``n_probe`` nearest centroid cells
    — ``(query_id, cell, qvec)``, one row per probe.  The same cell
    kernel as ``ivf_index_multi``, so ties break by cell id and the
    probe set is deterministic."""
    return _cells(queries, centroids, n_probe, vec_col, id_col,
                  "query_id", "qvec")


#: query rows scored per matrix block inside the kNN-join kernel —
#: bounds kernel memory to ~block × |cell| doubles even in a hot cell
_KNN_QUERY_BLOCK = 4096


def ivf_knn_join(queries: DataFrame, index: DataFrame,
                 centroids: np.ndarray, k: int = 10, n_probe: int = 4,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """Batch kNN join — for EVERY query row, the k nearest (cosine)
    index vectors among its ``n_probe`` probed IVF cells.  The shape a
    training-data pipeline actually runs ("for each of M new docs, find
    the k nearest corpus docs"), where the single-query ``ivf_topk``
    would schedule M jobs.

    Returns ``(query_id, vec_id, cosine)``, ≤ k rows per query,
    deterministic order ties broken by ``vec_id``.

    Distributed shape (no all-pairs anywhere):

    1. queries explode to ``(query_id, cell)`` probes — M × n_probe
       narrow rows;
    2. ONE cogrouped shuffle keyed by ``cell`` brings each cell's
       queries and index vectors to the same task —
       ``applyInPandas``-over-cogroup, so the per-cell work is a dense
       matrix product (queries blocked ``_KNN_QUERY_BLOCK`` at a time to
       bound memory) and only each query's LOCAL top-k leaves the task;
    3. a final narrow shuffle keyed by ``query_id`` merges each query's
       ≤ n_probe × k candidates and keeps the global top-k
       (``row_number`` window — input is tiny, k rows per probe).

    With ``n_probe = len(centroids)`` every cell is probed and the
    result is EXACT kNN — the correctness gate; production uses small
    ``n_probe`` for ~n_probe/n_centroids scan cost.  Group sizes are
    whole cells, so kernel matrix shapes — and therefore the float
    geometry of every cosine — are run-invariant."""
    from pyspark.sql import Window

    probes = ivf_assign_queries(queries, centroids, n_probe, vec_col, id_col)

    def score(qpdf: pd.DataFrame, xpdf: pd.DataFrame) -> pd.DataFrame:
        if qpdf.empty or xpdf.empty:
            return pd.DataFrame({"query_id": pd.Series(dtype="int64"),
                                 "vec_id": pd.Series(dtype="int64"),
                                 "cosine": pd.Series(dtype="float64")})
        xmat = _unit(_matrix(xpdf, vec_col))
        xids = xpdf[id_col].to_numpy()
        # stable order inside the cell so ties keep the smallest vec_id
        xorder = np.argsort(xids, kind="stable")
        xmat, xids = xmat[xorder], xids[xorder]
        kk = min(k, len(xids))
        outs = []
        for s in range(0, len(qpdf), _KNN_QUERY_BLOCK):
            qb = qpdf.iloc[s:s + _KNN_QUERY_BLOCK]
            qmat = _unit(_matrix(qb, "qvec"))
            cos = qmat @ xmat.T
            # local top-k per query: STABLE sort on -cosine over the
            # vec_id-ascending cell, so boundary ties always keep the
            # smallest vec_id (exactly the oracle's ORDER BY).  The
            # sort is not the hot loop — the matmul above does
            # dim/log(n) times more work per candidate.
            rows = np.arange(len(qb))[:, None]
            sel = np.argsort(-cos, kind="stable", axis=1)[:, :kk]
            outs.append(pd.DataFrame({
                "query_id": np.repeat(qb["query_id"].to_numpy(), kk),
                "vec_id": xids[sel].ravel(),
                "cosine": cos[rows, sel].ravel()}))
        return pd.concat(outs, ignore_index=True)

    cand = (probes.groupBy("cell")
            .cogroup(index.groupBy("cell"))
            .applyInPandas(score,
                           schema="query_id long, vec_id long, cosine double"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("vec_id"))
    return (cand.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .select("query_id", "vec_id", "cosine"))


#: cap on oversized-(table, bucket) ids collected to the driver per
#: split round; past this the split stops and the remainder is counted
#: as dropped (the cap itself bounds driver memory to a few MB)
_SPLIT_COLLECT_MAX = 65_536


def scaled_n_planes(n_rows: int, target_bucket: int = 1024,
                    lo: int = 4, hi: int = 24) -> int:
    """Hyperplane count giving an EXPECTED bucket size of
    ``target_bucket``: k = log2(N / target).  A fixed k partitions the
    whole space into a constant 2^k buckets, so bucket sizes — and the
    per-bucket O(b²) verify — grow linearly with data; scaling k with N
    keeps them constant at any scale."""
    import math
    if n_rows <= target_bucket:
        return lo
    return int(min(hi, max(lo, math.ceil(math.log2(n_rows / target_bucket)))))


def scaled_n_tables(n_planes: int, threshold: float,
                    target_recall: float = 0.99,
                    max_tables: int = 8) -> int:
    """Smallest table count whose modeled recall meets
    ``target_recall``: recall = 1-(1-p^k)^L with
    p = 1 - arccos(threshold)/π, solved for L.  A fixed L=4 pays four
    full assignment scans even when ONE table already clears the
    target (small corpora get few planes → high per-table collision
    probability) — r3's sf0.1 bench was exactly this constant factor.
    At scale k grows, p^k shrinks and L rises back toward (and is
    clamped at) ``max_tables``; the clamp is honest because
    ``stats_out["est_recall"]`` reports the achieved value."""
    import math
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    miss = 1.0 - p ** n_planes
    if miss <= 1.0 - target_recall:
        return 1
    if miss >= 1.0:
        return max_tables
    need = math.ceil(math.log(1.0 - target_recall) / math.log(miss))
    return int(min(max_tables, max(1, need)))


def _sign_buckets(df: DataFrame, planes_by_table: list[np.ndarray],
                  base_planes: int, extra_planes: int,
                  oversized_by_table: list[list[np.ndarray]],
                  vec_col: str, id_col: str) -> DataFrame:
    """The sign-bucket kernel: (id, table, bucket, vec), one row per
    vector per LSH table; bit ``b`` of a bucket id is the sign of the
    vector's dot product with plane ``b``.

    Refinement: a row whose depth-d bucket is in
    ``oversized_by_table[t][d]`` takes ``extra_planes`` more sign bits
    (parent bits stay in the low positions, so refined bucket ids can
    never collide with ids from a different parent, and the plane
    matrix's prefix rows are identical at every depth because
    ``_hyperplanes`` fills its rows in C order from one seeded stream).
    """
    n_tables = len(planes_by_table)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = _matrix(pdf, vec_col)
            ids = pdf[id_col].to_numpy()
            out_id, out_t, out_b = [], [], []
            for t in range(n_tables):
                signs = (mat @ planes_by_table[t].T) > 0
                weights = (np.uint64(1) << np.arange(
                    signs.shape[1], dtype=np.uint64))

                def bucket_upto(nb):
                    return (signs[:, :nb].astype(np.uint64)
                            @ weights[:nb]).astype(np.int64)

                bucket = bucket_upto(base_planes)
                depth = np.zeros(len(pdf), dtype=np.int64)
                for lvl, oset in enumerate(oversized_by_table[t]):
                    if oset.size == 0:
                        continue
                    m = (depth == lvl) & np.isin(bucket, oset)
                    if m.any():
                        nb = base_planes + (lvl + 1) * extra_planes
                        bucket[m] = bucket_upto(nb)[m]
                        depth[m] = lvl + 1
                out_id.append(ids)
                out_t.append(np.full(len(pdf), t, dtype=np.int64))
                out_b.append(bucket)
            yield pd.DataFrame({
                id_col: np.concatenate(out_id),
                "table": np.concatenate(out_t),
                "bucket": np.concatenate(out_b),
                vec_col: np.tile(pdf[vec_col].to_numpy(), n_tables)})

    return df.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} long, table long, bucket long, "
                       f"{vec_col} array<float>")


def embedding_near_duplicates(df: DataFrame, dim: int,
                              threshold: float = 0.95,
                              n_planes: int | None = None,
                              n_tables: int | None = None,
                              target_recall: float = 0.99,
                              vec_col: str = "embedding",
                              id_col: str = "vec_id",
                              seed: int = DEFAULT_SEED,
                              max_bucket: int = 5000,
                              target_bucket: int = 1024,
                              extra_planes: int = 6,
                              max_split_rounds: int = 3,
                              stats_out: dict | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ threshold, id_a < id_b).

    Scale-safe LSH geometry (the fixed-10-plane, drop-the-rest version
    silently lost all recall once every bucket outgrew ``max_bucket``):

    * ``n_planes`` defaults to ``scaled_n_planes(count)`` — expected
      bucket size stays ~``target_bucket`` at ANY data size;
    * ``n_tables`` independent hash tables recover the recall that more
      planes per table would destroy: a pair is a candidate if it
      collides in ANY table — est. recall 1-(1-p^k)^L with
      p = 1 - arccos(threshold)/π; defaults to
      ``scaled_n_tables(n_planes, threshold, target_recall)``, the
      SMALLEST L meeting ``target_recall`` (small corpora get few
      planes → one or two tables suffice; a fixed L=4 paid four
      assignment scans for nothing at sf0.1);
    * buckets still over ``max_bucket`` (skewed/correlated regions) are
      recursively SPLIT with ``extra_planes`` more sign bits per round
      instead of dropped; only buckets oversized after
      ``max_split_rounds`` are dropped, and the drop is COUNTED;
    * ``stats_out`` (optional dict) receives n_planes / n_tables /
      split_rounds / n_dropped_buckets / n_dropped_memberships /
      est_recall — "0 near-dups found" is only trustworthy alongside
      zero drops.

    Each split round costs one pass over (id, vec) plus a narrow
    (table, bucket) count shuffle; rounds stop early when nothing is
    oversized.  Verification is an exact pairwise-cosine numpy kernel
    per (table, bucket) group; a pair verified in several tables is one
    row, keeping its largest cosine (kernels over buckets of different
    sizes can differ in the last bits, so ``distinct`` kept both).
    """
    import math
    if n_planes is None:
        n_planes = scaled_n_planes(df.count(), target_bucket)
    if n_tables is None:
        n_tables = scaled_n_tables(n_planes, threshold, target_recall)
    planes_by_table = [
        _hyperplanes(dim, n_planes + max_split_rounds * extra_planes,
                     seed + 7919 * t)
        for t in range(n_tables)]
    oversized: list[list[np.ndarray]] = [[] for _ in range(n_tables)]

    def banded_frame():
        return _sign_buckets(df, planes_by_table, n_planes, extra_planes,
                             oversized, vec_col, id_col)

    n_dropped_buckets = n_dropped_members = 0
    rounds_used = 0
    for r in range(max_split_rounds + 1):
        sizes = (banded_frame().groupBy("table", "bucket")
                 .agg(F.count(F.lit(1)).alias("n")))
        over = (sizes.where(F.col("n") > max_bucket)
                .limit(_SPLIT_COLLECT_MAX + 1).collect())
        if not over:
            break
        if r == max_split_rounds or len(over) > _SPLIT_COLLECT_MAX:
            # out of rounds (or too many hot buckets to track): the
            # remainder is dropped — record it instead of hiding it
            n_dropped_buckets = len(over)
            n_dropped_members = sum(x["n"] for x in over)
            break
        rounds_used = r + 1
        for t in range(n_tables):
            oversized[t].append(np.array(
                sorted(x["bucket"] for x in over if x["table"] == t),
                dtype=np.int64))

    if stats_out is not None:
        p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
        stats_out.update({
            "n_planes": n_planes, "n_tables": n_tables,
            "split_rounds": rounds_used,
            "n_dropped_buckets": n_dropped_buckets,
            "n_dropped_memberships": n_dropped_members,
            "est_recall": 1.0 - (1.0 - p ** n_planes) ** n_tables})

    from pyspark.sql import Window
    # a window count shares the per-bucket groupBy's exchange, so the
    # assignment kernel runs once and nothing is persisted
    n = F.count(F.lit(1)).over(Window.partitionBy("table", "bucket"))
    cand = (banded_frame().withColumn("__n", n)
            .where((F.col("__n") > 1) & (F.col("__n") <= max_bucket))
            .drop("__n"))

    def pairwise(pdf: pd.DataFrame) -> pd.DataFrame:
        a, b, cos = cosine_pairs(pdf, vec_col, id_col, threshold)
        return pd.DataFrame({"id_a": a, "id_b": b, "cosine": cos})

    return (cand.groupBy("table", "bucket")
            .applyInPandas(pairwise, schema="id_a long, id_b long, cosine double")
            .groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine")))

"""SemDeDup-style semantic deduplication over embedding clusters.

Near-dup text dedup (MinHash/SimHash) misses SEMANTIC duplicates —
paraphrases, translations, template re-writes — that an embedding
model maps to nearly identical vectors.  SemDeDup (Abbas et al., 2023,
arXiv:2303.09540) makes the all-pairs cosine search tractable by first
coarse-clustering the embeddings (k-means) and only comparing WITHIN a
cluster: with k chosen so clusters hold ~10^3-10^4 vectors, the
quadratic term is bounded per cluster and the whole pass is one
shuffle keyed by cluster id.  Cross-cluster near-dups are the paper's
documented trade-off; ``semantic_dedup_multiprobe`` closes it for
near-boundary vectors by assigning each vector to its top-``n_probe``
IVF cells before the pair kernel, or fall back to
``embedding_near_duplicates`` (multi-table LSH) when even that
matters.

Spark shape — everything here is one ``groupBy(cluster).applyInPandas``
over vectors that are ALREADY co-partitioned by the clustering step,
plus the repo's existing ``connected_components`` for transitive
closure; no driver-side vector math, no all-pairs join:

* pair generation: ``similarity.cosine_pairs``, the blocked
  ``X @ X.T`` sweep that ``embedding_near_duplicates`` runs per LSH
  bucket, here run per cluster (kernel memory ~``_PAIR_BLOCK`` ×
  |cluster| doubles even in the largest allowed cluster); the cell
  assignment of the multi-probe path is ``similarity.ivf_index_multi``,
  so this module writes no numpy kernel of its own,
* the oversize guard is EXPLICIT (``oversize_clusters`` /
  ``on_oversize``): a cluster past ``max_cluster_rows`` either fails
  fast or is skipped WITH ACCOUNTING, never silently quadratic,
* closure + canonical labeling reuses ``graph.dedup_clusters`` (the
  same large-star/small-star machinery as the LSH dedup path).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from data_validation_spark.operators.graph import dedup_clusters
from data_validation_spark.operators.similarity import (
    cosine_pairs,
    ivf_index_multi,
)

__all__ = ["cluster_near_pairs", "oversize_clusters", "semantic_dedup",
           "semantic_dedup_multiprobe"]

#: default per-cluster row bound.  ``similarity.cosine_pairs`` sweeps
#: a cluster ``_PAIR_BLOCK`` (2048) rows at a time, so an 8192-row
#: cluster holds 2048 × 8192 float64 sims (128 MiB) at once and does
#: 8192²/2 dot products in all — comfortably inside an executor;
#: SemDeDup sizes k so clusters land well under this
DEFAULT_MAX_CLUSTER_ROWS = 8192


def oversize_clusters(df: DataFrame, cluster_col: str,
                      max_cluster_rows: int = DEFAULT_MAX_CLUSTER_ROWS
                      ) -> DataFrame:
    """(cluster, n_rows) for clusters past the quadratic-work bound —
    the guard a pipeline runs (or ``semantic_dedup`` runs for it)
    before committing to within-cluster all-pairs scoring.  One
    map-side-combined count shuffle."""
    return (df.groupBy(F.col(cluster_col).alias("cluster"))
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .filter(F.col("n_rows") > max_cluster_rows))


def cluster_near_pairs(df: DataFrame, cluster_col: str,
                       vec_col: str = "embedding",
                       id_col: str = "vec_id",
                       threshold: float = 0.999,
                       max_cluster_rows: int = DEFAULT_MAX_CLUSTER_ROWS,
                       ) -> DataFrame:
    """Within-cluster cosine near-duplicate pairs:
    ``(cluster, id_a, id_b, cosine)`` with ``id_a < id_b`` and raw
    cosine ≥ ``threshold`` (``cosine`` emitted rounded to 6 for
    engine-portable comparison; the FILTER uses the unrounded value).

    One shuffle keyed by ``cluster_col``; each cluster goes through
    ``similarity.cosine_pairs``, which sorts members by id (output
    order independent of partitioning), normalizes once, and sweeps
    the blocked upper triangle of ``X @ X.T``.
    A cluster larger than ``max_cluster_rows`` raises — run
    ``oversize_clusters`` first or use ``semantic_dedup(...,
    on_oversize='skip')`` for counted exclusion."""
    ctype = dict(df.dtypes)[cluster_col]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_cluster_rows:
            raise ValueError(
                f"cluster {pdf[cluster_col].iloc[0]!r} has {n} rows > "
                f"max_cluster_rows={max_cluster_rows}; raise the bound, "
                "re-cluster with more centroids, or use "
                "semantic_dedup(on_oversize='skip')")
        a, b, cos = cosine_pairs(pdf, vec_col, id_col, threshold)
        return pd.DataFrame({"cluster": pdf[cluster_col].iloc[0],
                             "id_a": a, "id_b": b,
                             "cosine": np.round(cos, 6)})

    return (df.select(cluster_col, id_col, vec_col)
            .groupBy(cluster_col)
            .applyInPandas(kernel,
                           schema=f"cluster {ctype}, id_a long, "
                                  "id_b long, cosine double"))


def semantic_dedup(df: DataFrame, cluster_col: str,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   threshold: float = 0.999,
                   max_cluster_rows: int = DEFAULT_MAX_CLUSTER_ROWS,
                   on_oversize: str = "error",
                   stats_out: dict | None = None) -> DataFrame:
    """SemDeDup: label every vector with its semantic-duplicate cluster
    — ``(id_col, cluster_id, cluster_size, is_canonical)`` where
    ``cluster_id`` is the minimum member id of the connected component
    of the within-cluster cosine-≥-threshold pair graph (singletons are
    their own cluster).  Keep ``is_canonical`` rows to dedup; join
    ``cluster_size`` back for soft-dedup weighting.

    ``cluster_col`` is any coarse partition of the embedding space —
    ``ivf_index(...).cell`` (the repo's deterministic k-means) in
    production, or a trusted label column.  ``on_oversize``:
    ``'error'`` fails fast on a cluster past ``max_cluster_rows``;
    ``'skip'`` excludes those clusters from pair generation (their rows
    become singletons) and records ``(n_oversize_clusters,
    n_oversize_rows)`` in ``stats_out`` — counted exclusion, the same
    contract as the LSH hot-bucket caps."""
    work = _guard_oversize(df, cluster_col, max_cluster_rows,
                           on_oversize, stats_out)
    pairs = cluster_near_pairs(work, cluster_col, vec_col, id_col,
                               threshold, max_cluster_rows)
    return dedup_clusters(df, pairs, id_col=id_col,
                          pair_cols=("id_a", "id_b"))


def _guard_oversize(df: DataFrame, cluster_col: str,
                    max_cluster_rows: int, on_oversize: str,
                    stats_out: dict | None) -> DataFrame:
    """'error': pass through (the pair kernel raises on an oversize
    group); 'skip': exclude oversize clusters with counted accounting
    in ``stats_out`` — shared by the single- and multi-probe paths."""
    if on_oversize not in ("error", "skip"):
        raise ValueError("on_oversize must be 'error' or 'skip'")
    if on_oversize == "error":
        return df
    over = oversize_clusters(df, cluster_col, max_cluster_rows)
    if stats_out is not None:
        r = over.agg(
            F.count(F.lit(1)).alias("c"),
            F.coalesce(F.sum("n_rows"), F.lit(0)).alias("r")).first()
        stats_out["n_oversize_clusters"] = int(r["c"])
        stats_out["n_oversize_rows"] = int(r["r"])
    return df.join(
        F.broadcast(over.select(F.col("cluster").alias(cluster_col))),
        on=cluster_col, how="left_anti")


def semantic_dedup_multiprobe(df: DataFrame, centroids,
                              vec_col: str = "embedding",
                              id_col: str = "vec_id",
                              threshold: float = 0.999,
                              n_probe: int = 2,
                              max_cluster_rows: int =
                              DEFAULT_MAX_CLUSTER_ROWS,
                              on_oversize: str = "error",
                              stats_out: dict | None = None) -> DataFrame:
    """SemDeDup with the cross-cluster miss closed: assign every
    vector to its top-``n_probe`` IVF cells (``ivf_index_multi``),
    run the within-cell pair kernel over the expanded frame, and
    de-duplicate pairs found in more than one shared cell before the
    transitive closure.  Two near-identical vectors split by a Voronoi
    boundary — the pair single-probe SemDeDup documents as its miss —
    now meet in one of each other's probe cells whenever the boundary
    cell is among either's top-``n_probe``.

    Cost shape: the pair kernel's input grows ``n_probe``× in rows
    (quadratic work per CELL is unchanged — cells keep their target
    size, each vector just appears in ``n_probe`` of them), plus one
    ``distinct`` on the pair frame (LSH-output-sized, never
    all-pairs).  Labeling/closure runs over the ORIGINAL ``df`` so
    cluster sizes and canonical election are not inflated by the
    expansion."""
    idx = ivf_index_multi(df, centroids, n_probe, vec_col, id_col)
    work = _guard_oversize(idx, "cell", max_cluster_rows,
                           on_oversize, stats_out)
    pairs = (cluster_near_pairs(work, "cell", vec_col, id_col,
                                threshold, max_cluster_rows)
             .select("id_a", "id_b").distinct())
    return dedup_clusters(df, pairs, id_col=id_col,
                          pair_cols=("id_a", "id_b"))

"""Deterministic global ordering / corpus shuffling.

Training pipelines need a GLOBAL position per document — to shuffle a
corpus reproducibly (order by a key hash), to shard it (position %
n_shards), or to feed the sequence packer a stable stream order.  The
naive routes both fail at scale: ``zipWithIndex`` ties positions to
physical partition layout (different cluster → different shuffle), and
``row_number() OVER (ORDER BY ...)`` moves every row through ONE window
task (the unbounded-window scale-killer).

``global_order_index`` computes the exact global rank with no global
bottleneck:

1. ``repartitionByRange`` on the order columns — Spark's sampled range
   partitioner puts partition p's rows all-before partition p+1's;
2. per-partition local ``row_number`` (a PARTITIONED window — every
   task sorts only its own slice);
3. one tiny driver collect of per-partition row counts (numPartitions
   rows), cumulative-summed into offsets and broadcast back;
4. ``position = offset[partition] + local_rank``.

The output is a pure function of the ORDER (which must be total —
include a tie-break column), NOT of partition boundaries: wherever the
sampler happens to cut ranges, offsets + local ranks reconstruct the
same global rank, so the result is reproducible across clusters,
retries, and engines — an oracle replays it with a plain
``row_number() OVER (ORDER BY ...)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["global_order_index", "shuffle_corpus"]


def global_order_index(df: DataFrame, order_cols: list,
                       position_col: str = "position",
                       num_partitions: int | None = None) -> DataFrame:
    """Add 0-based ``position_col`` = exact global rank of the row
    under ``order_cols`` (must be a total order or positions within a
    tie are partition-dependent).  Two jobs: the counts collect and the
    caller's downstream action; the range-sorted frame is persisted
    between them so the sort runs once.
    """
    parted = (df.repartitionByRange(num_partitions, *order_cols)
              if num_partitions else df.repartitionByRange(*order_cols))
    parted = parted.withColumn("_pid", F.spark_partition_id()).persist()
    # numPartitions rows to the driver — KBs at any data scale
    counts = {r["_pid"]: r["n"] for r in
              parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_col = F.element_at(
        F.create_map(*[F.lit(x) for pid in sorted(offsets)
                       for x in (pid, offsets[pid])]),
        F.col("_pid")) if offsets else F.lit(0)
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    out = (parted.withColumn(
        position_col,
        (off_col + F.row_number().over(w) - 1).cast("long"))
        .drop("_pid"))
    # parted stays persisted: it pins the range split the offsets came
    # from, and releasing it means materializing out, a table copy
    return out


def shuffle_corpus(df: DataFrame, key_col: str = "doc_id",
                   salt: str = "", position_col: str = "position",
                   num_partitions: int | None = None) -> DataFrame:
    """Reproducible pseudo-random corpus order: global position under
    ``(md5(key ⊕ salt), key)`` — a new ``salt`` is a fresh epoch
    shuffle, same salt always replays the same order on any cluster.
    ``position % n_shards`` shards it; feeding the sequence packer in
    this order packs a shuffled corpus deterministically."""
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    shuffled = df.withColumn("_shuffle_key", h)
    out = global_order_index(
        shuffled, [F.col("_shuffle_key"), F.col(key_col)],
        position_col=position_col, num_partitions=num_partitions)
    return out.drop("_shuffle_key")


def sorted_neighborhood_pairs(df: DataFrame, order_cols: list,
                              id_cols: list[str],
                              window: int = 5) -> DataFrame:
    """Sorted-neighborhood candidate generation (Hernández & Stolfo,
    SIGMOD'95) — the classic record-linkage alternative to key
    blocking: sort the table by a similarity-correlated key and pair
    every row with its next ``window - 1`` neighbors in that order.
    Where PassJoin blocking (operators/fuzzy.py) guarantees recall for
    a fixed edit budget, sorted-neighborhood trades a recall guarantee
    for O(n·w) candidates REGARDLESS of value distribution — the tier
    to reach for when common prefixes degenerate segment blocking.

    Scale shape: the global rank comes from ``global_order_index``
    (range partition + LOCAL row_number + a numPartitions-row offset
    collect — no single-task sort); each row then explodes to its
    ``window - 1`` forward partner ranks and equi-joins the rank
    column — one ordinary shuffle pair, candidates exactly
    ``n·(w−1) − (w−1)·w/2``.  ``order_cols`` must be a total order
    (append ``id_cols``) or neighbor sets are partition-dependent.

    Output: every ``id_cols`` pair (suffixed ``_a``/``_b``) with both
    positions; verification (levenshtein, Jaccard, cosine) is the
    caller's second stage, same contract as every blocking tier.
    """
    if window < 2:
        raise ValueError("window must be >= 2")
    ranked = global_order_index(df, order_cols).select(
        *id_cols, F.col("position").alias("__pos"))
    left = ranked.select(
        *[F.col(c).alias(f"{c}_a") for c in id_cols],
        F.col("__pos").alias("pos_a"),
        F.explode(F.sequence(F.col("__pos") + 1,
                             F.col("__pos") + window - 1)).alias("__p"))
    right = ranked.select(
        *[F.col(c).alias(f"{c}_b") for c in id_cols],
        F.col("__pos").alias("__p"), F.col("__pos").alias("pos_b"))
    return left.join(right, "__p").drop("__p")

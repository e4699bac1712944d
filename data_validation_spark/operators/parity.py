"""Snapshot parity / diff — the content-parity checksum turned into an
operator: which PARTITIONS of a table changed between two snapshots
(engine migration A/B, replication audit, pre/post-backfill check)?

Per snapshot: one pruned scan → per-partition (rows, token count,
order-insensitive Rabin checksum) via the Catalyst higher-order fold in
``functions.hashing`` (no arrays are shuffled — reduce state is three
longs per partition).  The diff is a full-outer join of the two tiny
aggregate frames, so comparing two 100 TB snapshots shuffles kilobytes.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_validation_spark.functions.hashing import partition_checksum_exprs


def snapshot_checksums(df: DataFrame, tokens: str | Column,
                       partition_cols: list[str]) -> DataFrame:
    """(partition_cols..., checksum_sum, n_rows_with_tokens, n_tokens)."""
    return df.groupBy(*partition_cols).agg(*partition_checksum_exprs(tokens))


def snapshot_diff(a: DataFrame, b: DataFrame, tokens: str | Column,
                  partition_cols: list[str],
                  include_matching: bool = False) -> DataFrame:
    """Partition-level diff of two snapshots: one row per partition
    present in either side, with both sides' fingerprints and a
    ``match`` verdict.  ``include_matching=False`` (default) returns
    only the partitions that differ — at parity the result is EMPTY,
    which is the cheap invariant a migration gate asserts."""
    ca = snapshot_checksums(a, tokens, partition_cols)
    cb = snapshot_checksums(b, tokens, partition_cols)
    return checksum_diff(ca, cb, partition_cols, include_matching)


def checksum_diff(ca: DataFrame, cb: DataFrame, partition_cols: list[str],
                  include_matching: bool = False) -> DataFrame:
    """``snapshot_diff`` over two already-computed ``snapshot_checksums``
    frames — the shape an incremental pipeline uses, where each run
    persists its (KB-sized) checksum frame and the next run diffs
    against it without touching the previous snapshot's data."""
    renames_a = {c: f"{c}_a" for c in
                 ("checksum_sum", "n_rows_with_tokens", "n_tokens")}
    renames_b = {c: f"{c}_b" for c in renames_a}
    # the partition keys join NULL-safely: a NULL partition is one
    # partition on both sides, not two unmatched ones
    keys_b = {c: f"__b_{c}" for c in partition_cols}
    ca = ca.withColumnsRenamed(renames_a)
    cb = cb.withColumnsRenamed({**renames_b, **keys_b})
    on = reduce(lambda x, y: x & y,
                [F.col(c).eqNullSafe(F.col(k)) for c, k in keys_b.items()],
                F.lit(True))
    out = ca.join(cb, on, "full_outer").select(
        *[F.coalesce(c, k).alias(c) for c, k in keys_b.items()],
        *[c for c in ca.columns if c not in keys_b],
        *[c for c in cb.columns if c not in keys_b.values()])
    match = (F.col("checksum_sum_a").eqNullSafe(F.col("checksum_sum_b"))
             & F.col("n_rows_with_tokens_a")
               .eqNullSafe(F.col("n_rows_with_tokens_b"))
             & F.col("n_tokens_a").eqNullSafe(F.col("n_tokens_b")))
    out = out.withColumn("match", match)
    return out if include_matching else out.filter(~F.col("match"))


def row_diff(a: DataFrame, b: DataFrame, key_cols: list[str],
             compare_cols: list[str] | None = None) -> DataFrame:
    """ROW-level diff of two snapshots keyed by ``key_cols``: one row
    per difference with ``status`` in {added, removed, changed} (b is
    the "new" side) and ``changed_cols`` — the alphabetically-ordered
    names of the columns whose values differ (NULL-safe comparison, so
    NULL→value and value→NULL both count).  Unchanged rows are absent.

    The partition-level ``snapshot_diff`` answers "WHERE did the table
    change" from kilobyte aggregates; this operator answers "WHICH rows
    and columns" — run it on the partitions the cheap pass flagged, not
    on the whole 100 TB.  Shape: ONE full-outer shuffle join on the key
    (pre-bucketed snapshots via ``read_bucketed`` make even that
    Exchange-free), then a pure projection; nothing else moves.

    Duplicate keys within a snapshot are the caller's bug (this is a
    keyed diff); the join would pair them combinatorially.
    """
    if compare_cols is None:
        compare_cols = sorted(set(a.columns) & set(b.columns)
                              - set(key_cols))
    else:
        compare_cols = sorted(compare_cols)

    av = a.select(*key_cols,
                  F.lit(True).alias("__in_a"),
                  *[F.col(c).alias(f"__a_{c}") for c in compare_cols])
    bv = b.select(*key_cols,
                  F.lit(True).alias("__in_b"),
                  *[F.col(c).alias(f"__b_{c}") for c in compare_cols])
    j = av.join(bv, key_cols, "full_outer")

    diffs = F.array_compact(F.array(*[
        F.when(~F.col(f"__a_{c}").eqNullSafe(F.col(f"__b_{c}")), F.lit(c))
        for c in compare_cols])) if compare_cols else \
        F.array().cast("array<string>")
    status = (F.when(F.col("__in_a").isNull(), F.lit("added"))
              .when(F.col("__in_b").isNull(), F.lit("removed"))
              .otherwise(F.lit("changed")))
    out = j.select(*key_cols, status.alias("status"),
                   F.when(F.col("__in_a").isNull()
                          | F.col("__in_b").isNull(),
                          F.array().cast("array<string>"))
                   .otherwise(diffs).alias("changed_cols"))
    return out.filter((F.col("status") != "changed")
                      | (F.size("changed_cols") > 0))

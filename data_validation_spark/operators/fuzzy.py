"""Fuzzy (edit-distance) duplicate detection over short strings —
record-linkage blocking with a PROVABLY complete candidate set, never
an all-pairs scan.

The pigeonhole scheme (PassJoin, Li et al., VLDB'11 — simplified to
any-position matching):

* split every string into ``d+1`` near-equal contiguous segments
  (``d = max_distance``).  At most ``d`` edits touch at most ``d``
  segments, so for any pair within distance ``d`` at least one segment
  of either string survives VERBATIM as a substring of the other;
* therefore joining {segments of s} against {all substrings of t with
  a compatible length} on string equality yields a candidate superset
  of the true answer — an ordinary equi-join, AQE-skew-splittable;
* candidates are verified with ``levenshtein() <= d`` (exact DP,
  identical in Spark and DuckDB), so the OUTPUT equals the exact
  all-pairs answer — which is precisely what the ``fuzzy_pairs``
  oracle checks end-to-end (same gate pattern as
  ``minhash_near_dups`` == exact Jaccard).

Completeness at the edges: strings of length ``<= d`` may have every
non-empty segment touched, so they flow through a dedicated short
block (all distinct values of length ``<= 2d`` pair against each
other — any partner of a ``<= d`` string is ``<= 2d`` long).  The
segment path requires length ``> d``, where every segment is
non-empty.

Scale shape: the pair space is DISTINCT VALUES, not rows (exact
duplicates belong to the exact-dedup pass); windows per value are
O(len × d) — built for name/title/URL-sized strings.  Data whose
values share long common substrings (e.g. a constant prefix) degrades
toward the verify-everything corner — the same caveat as every
blocking scheme; at that point length+position-bucketed keys or
MinHash over q-grams (operators/dedup.py) are the production tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["fuzzy_duplicate_strings"]


def fuzzy_duplicate_strings(df: DataFrame, str_col: str,
                            max_distance: int = 2) -> DataFrame:
    """All unordered pairs of DISTINCT non-null values of ``str_col``
    within ``max_distance`` edits: ``(s_a, s_b, dist)``, ``s_a < s_b``.
    Equal values are not pairs (that is exact dedup's job)."""
    d = int(max_distance)
    if d < 1:
        raise ValueError("max_distance must be >= 1")
    k = d + 1

    # read by four branches: materialized once, freed with the result
    vals = (df.select(F.col(str_col).alias("s"))
            .filter(F.col("s").isNotNull()).distinct()
            .localCheckpoint(eager=True))

    # segment side: k near-equal chunks; first (len % k) chunks get the
    # extra char.  Only lengths > d (every chunk non-empty there).
    segs = (vals.filter(F.length("s") > d)
            .select("s", F.explode(F.expr(f"""
                transform(sequence(0, {d}), i ->
                  substring(s,
                    CAST(i * (length(s) div {k})
                         + least(i, length(s) % {k}) + 1 AS INT),
                    (length(s) div {k})
                    + (CASE WHEN i < length(s) % {k} THEN 1 ELSE 0 END)))
            """)).alias("key")))

    # window side: every substring whose length could be a chunk length
    # of some partner length L in [len-d, len+d] with L > d
    wins = (vals.filter(F.length("s") >= 1)
            .select(F.col("s").alias("t"), F.explode(F.array_distinct(
                F.expr(f"""
                flatten(transform(
                  sequence(greatest(length(s) - {d}, {k}),
                           greatest(length(s) + {d}, {k})),
                  L -> flatten(transform(
                         array(L div {k}, (L div {k}) + 1),
                         len -> CASE
                           WHEN len >= 1 AND len <= length(s)
                           THEN transform(sequence(1, length(s) - len + 1),
                                          p -> substring(s, p, len))
                           ELSE array() END))))
            """))).alias("key")))

    long_cand = (segs.join(wins, "key")
                 .filter(F.abs(F.length("s") - F.length("t")) <= d)
                 .filter(F.col("s") != F.col("t"))
                 .select(F.least("s", "t").alias("s_a"),
                         F.greatest("s", "t").alias("s_b")))

    # short block joins on a candidate-length equi-key (one side
    # explodes its ±d length window) so even this path plans as a hash
    # join, never a cartesian
    shorts = vals.filter(F.length("s") <= 2 * d)
    short_keys = shorts.select(
        F.col("s").alias("a"),
        F.explode(F.sequence(F.length("s") - d, F.length("s") + d))
        .alias("__L"))
    short_cand = (short_keys
                  .join(shorts.select(F.col("s").alias("b"),
                                      F.length("s").alias("__L")), "__L")
                  .filter(F.col("a") < F.col("b"))
                  .select(F.col("a").alias("s_a"),
                          F.col("b").alias("s_b")))

    return (long_cand.unionByName(short_cand).distinct()
            .withColumn("dist", F.levenshtein("s_a", "s_b"))
            .filter(F.col("dist") <= d))

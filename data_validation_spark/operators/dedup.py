"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket
join → exact-Jaccard verify), SimHash (vectorized Arrow kernel + banded
Hamming join), and n-gram Jaccard verification.  Designed for the
100 TB regime:

* candidate generation never collects rows to the driver — it's a
  bucket self-join on band hashes with an explicit hot-bucket cap
  (a band shared by millions of near-identical docs would otherwise go
  quadratic; capped buckets are the documented trade-off, and AQE's
  skew-join split handles the rest),
* ``_bucket_pairs`` is that step for MinHash and SimHash, and no call
  leaves its persisted banded frame cached,
* verification hashes each text's shingle set and joins it to both
  sides of every candidate pair,
* an input with fewer partitions than cores (a one-row-group file) is
  hash-spread by id over every core before hashing; other inputs are
  left as they are,
* everything except the SimHash bit-kernel is Catalyst expressions;
  the kernel is an Arrow-batched pandas UDF built on
  ``pandas.util.hash_array`` (vectorized SipHash) — no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from data_validation_spark.functions.arrays import (
    band_hashes_col,
    jaccard_col,
    let_col,
    minhash_signature_col,
    word_shingle_hashes_col,
    word_shingles_col,
)
from data_validation_spark.functions.text import fingerprint_col


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicate_groups(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Duplicate groups by content fingerprint: one row per fingerprint
    with >1 member — (fingerprint, n_docs, min_id).  Hash-groupBy: one
    shuffle keyed by the 128-bit fingerprint, partial agg map-side."""
    return (df
            .select(fingerprint_col(text_col).alias("fingerprint"),
                    F.col(id_col))
            .groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min(id_col).alias("keep_id"))
            .filter(F.col("n_docs") > 1))


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (min id) per distinct content fingerprint.
    Implemented as a min-id-per-fingerprint semi-join rather than a
    window over the full table: the agg side carries only
    (fingerprint, id)."""
    keep = (df.select(fingerprint_col(text_col).alias("fingerprint"),
                      F.col(id_col))
            .groupBy("fingerprint").agg(F.min(id_col).alias(id_col)))
    return df.join(keep.select(id_col), on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH near-dedup
# ---------------------------------------------------------------------------

def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k_shingle: int = 3,
                       n_hashes: int = 16) -> DataFrame:
    """(id, signature array<long>) — signature computed entirely with
    Catalyst higher-order expressions (no UDF).  Shingles enter as
    64-bit hashes (``word_shingle_hashes_col``): one hash pass over the
    document instead of concat-allocate-then-hash per shingle —
    measured 3.7 s → ~2 s for the sf0.1 signature stage, and the gap
    grows with document length.  Signature VALUES therefore differ from
    the string-shingle formulation, but the Jaccard estimator and the
    banding S-curve are hash-family-independent; the recall oracles
    (exact-answer equality, J=1 recall 1.0) pin the semantics."""
    shingles = word_shingle_hashes_col(text_col, k_shingle)
    return df.select(F.col(id_col),
                     minhash_signature_col(shingles, n_hashes)
                     .alias("signature"))


def _bucket_drop_stats(sizes: DataFrame, max_bucket: int) -> dict:
    """One aggregate action over per-bucket sizes ``n`` counting what
    the hot-bucket cap will exclude: (n_buckets, n_dropped_buckets,
    n_dropped_memberships).  A pipeline owner cannot trust "0 near-dups
    found" without these.  Costs one extra evaluation of the banded
    plan — opt in via the operators' ``stats_out``."""
    over = F.col("n") > max_bucket
    r = (sizes.agg(F.count(F.lit(1)).alias("n_buckets"),
              F.sum(F.when(over, 1).otherwise(0)).alias("dropped_buckets"),
              F.sum(F.when(over, F.col("n")).otherwise(0))
              .alias("dropped_members")).collect()[0])
    return {"n_buckets": r["n_buckets"],
            "n_dropped_buckets": int(r["dropped_buckets"] or 0),
            "n_dropped_memberships": int(r["dropped_members"] or 0)}


def _band_rows(n_hashes: int, bands: int) -> int:
    """Signature rows per LSH band; the bands must tile the signature."""
    if n_hashes % bands:
        raise ValueError("n_hashes must be divisible by bands")
    return n_hashes // bands


def _known_partitions(df: DataFrame) -> int | None:
    """Partition count of ``df``'s physical plan when the driver can
    read it without submitting a job: a plan with no exchange, no
    adaptive wrapper, no cached relation and no subquery builds its RDD
    lineage (file splits, local rows) on the driver alone.  ``None``
    otherwise.  Reads ``df``'s own plan, which Spark plans once per
    DataFrame, so repeated calls on one input cost about a millisecond."""
    plan = df._jdf.queryExecution().executedPlan()
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if ("Exchange" in name or name in ("AdaptiveSparkPlan",
                                           "InMemoryTableScan")
                or not node.subqueries().isEmpty()):
            return None
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return plan.execute().getNumPartitions()


def _minhash_docs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``(id, text)``, hash-partitioned by id over every core when the
    input has fewer partitions than ``defaultParallelism`` — a
    one-row-group parquet file otherwise shingles and hashes the whole
    corpus in one task.  An input already split at least once per core,
    or whose partition count is unknown without a job, passes through
    untouched: spreading it would shuffle the full text for no added
    parallelism."""
    docs = df.select(id_col, text_col)
    cores = df.sparkSession.sparkContext.defaultParallelism
    n = _known_partitions(df)
    if n is not None and n < cores:
        return docs.repartition(cores, F.col(id_col))
    return docs


def _bucket_pairs(banded: DataFrame, keys: list[str], id_col: str,
                  max_bucket: int, stats_out: dict | None, finish,
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """``finish`` over the ``id_a < id_b`` pairs sharing a bucket of
    2..``max_bucket`` rows of ``banded`` (``id_col``, ``keys``, ``carry``
    columns, the last as ``<c>_a``/``<c>_b``), materialized in one plan;
    ``banded`` stays persisted only until then."""
    from pyspark import StorageLevel
    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        sizes = banded.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
        if stats_out is not None:
            stats_out.update(_bucket_drop_stats(sizes, max_bucket))
        in_bucket = banded.join(
            sizes.filter((F.col("n") > 1) & (F.col("n") <= max_bucket))
            .select(*keys), keys)
        a, b = (in_bucket.select(*keys, F.col(id_col).alias(f"id_{s}"),
                                 *[F.col(c).alias(f"{c}_{s}") for c in carry])
                for s in "ab")
        pairs = (a.join(b, keys)
                 .filter(F.col("id_a") < F.col("id_b"))
                 .drop(*keys).distinct())
        return finish(pairs).localCheckpoint(eager=True)
    finally:
        banded.unpersist()


def lsh_candidate_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k_shingle: int = 3,
                        n_hashes: int = 16, bands: int = 8,
                        max_bucket: int = 1000,
                        stats_out: dict | None = None) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band bucket.

    Band geometry: 8 bands × 2 rows over the 16-hash signature.  The
    LSH S-curve midpoint sits at (1/b)^(1/r) ≈ 0.35, so recall at the
    thresholds near-dedup actually uses is high — P(candidate) ≈ 0.90
    at J = 0.5, 0.997 at J = 0.7, ~1 above 0.85 — while precision is
    delegated to the exact-Jaccard verify tier, which bounds the cost
    of the extra moderately-similar candidates (4 bands × 4 rows put
    the midpoint at 0.56 and caught a J = 0.71 pair only 70% of the
    time — recall is the metric a dedup pipeline cannot give up).

    Hot-bucket guard: buckets larger than ``max_bucket`` are dropped
    (they are almost always boilerplate/templated content and would go
    quadratic).  Pass ``stats_out={}`` to get the drop accounting —
    n_dropped_buckets / n_dropped_memberships (a doc dropped from one
    band can still be found through its other bands, so memberships,
    not docs) — with the banded frame persisted, nearly free.

    The banded frame feeds three plan branches (bucket sizes, the two
    join sides), so it is persisted MEMORY_AND_DISK for the call;
    without it Spark re-runs the shingle+signature scan — the dominant
    cost — once per branch (measured 6.7 s → 3.2 s on the sf0.1
    near-dup bench).  At scale it is N × bands narrow rows (~60 B per
    document in the columnar cache), spilling to disk past memory.
    The pairs come back materialized (``localCheckpoint``: lineage
    truncated, as in ``graph.py``) and nothing stays cached.  An input
    with fewer partitions than cores is first spread by id
    (``_minhash_docs``).
    """
    return _bucket_pairs(
        minhash_band_state(_minhash_docs(df, text_col, id_col), text_col,
                           id_col, k_shingle, n_hashes, bands),
        ["band", "band_hash"], id_col, max_bucket, stats_out, lambda p: p)


def verify_pairs_jaccard(df: DataFrame, pairs: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         k_shingle: int = 3,
                         prune_verify: bool = False) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs over ``df``: each
    document's shingle-hash set is computed from its text and joined to
    both sides of every pair.  Sets enter as 64-bit shingle hashes:
    |A∩B| and |A∪B| are identical to the string formulation unless two
    distinct shingles of the same pair collide in 64 bits (≈ n²·2⁻⁶⁴ —
    no effect at any feasible doc size), and long-array intersects beat
    string-array intersects.

    ``prune_verify``: semi-join ``df`` down to the ids that appear in
    ``pairs`` BEFORE hashing.  At production sparsity (candidates ≪
    corpus — the normal case at 10^12 docs) this prunes the verify
    tier's shingle hashing by the candidate ratio; on dense-candidate
    inputs it only adds shuffles (measured on the sf0.1 bench, where
    every doc is a candidate by construction: 1.1 s → 3.5 s), hence
    opt-in rather than default — the right setting is a property of
    the data, not the plan."""
    if prune_verify:
        ids = (pairs.select(F.col("id_a").alias(id_col))
               .unionAll(pairs.select(F.col("id_b").alias(id_col)))
               .distinct())
        df = df.join(ids, id_col, "left_semi")
    sh = df.select(F.col(id_col),
                   word_shingle_hashes_col(text_col, k_shingle).alias("sh"))
    return (pairs
            .join(sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
            .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
            .select("id_a", "id_b",
                    jaccard_col(F.col("sh_a"), F.col("sh_b")).alias("jaccard")))


def minhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k_shingle: int = 3,
                            n_hashes: int = 16, bands: int = 8,
                            threshold: float = 0.7,
                            max_bucket: int = 1000,
                            stats_out: dict | None = None) -> DataFrame:
    """LSH candidates (``lsh_candidate_pairs``) verified by exact
    Jaccard ≥ threshold (``verify_pairs_jaccard``).  Both read one
    ``(id, text)`` frame, spread over every core when the input has
    fewer partitions than cores, so the signature stage and the verify
    tier's shingle hashing both run on every core.  The candidates and
    the verify run as one plan before the call returns, and the pairs
    come back materialized (``localCheckpoint``, lineage truncated).
    ``stats_out={}`` adds hot-bucket drop accounting.  For the
    sparse-candidate setting, compose ``lsh_candidate_pairs`` with
    ``verify_pairs_jaccard(prune_verify=True)``."""
    docs = _minhash_docs(df, text_col, id_col)
    return _bucket_pairs(
        minhash_band_state(docs, text_col, id_col, k_shingle, n_hashes,
                           bands),
        ["band", "band_hash"], id_col, max_bucket, stats_out,
        lambda pairs: (verify_pairs_jaccard(docs, pairs, text_col, id_col,
                                            k_shingle)
                       .filter(F.col("jaccard") >= threshold)))


# ---------------------------------------------------------------------------
# SimHash near-dedup
# ---------------------------------------------------------------------------

def _simhash_kernel(texts: pd.Series) -> pd.Series:
    """Vectorized 64-bit SimHash: per-word SipHash via
    pandas.util.hash_array (C-level, deterministic fixed key).

    Bit accumulation is a segment reduction: ``explode`` keeps words
    grouped by source row, so per-row bit sums are 64 ``np.bincount``
    calls over a repeat-built segment-id vector (measured 0.8 s/1.5M
    words vs 5 s for the ``np.add.at`` scatter-add it replaces and
    4-14 s for reduceat/cumsum formulations on this numpy build).  The
    ±1 matrix is folded to popcount form — sum(±1) = 2·ones − n_words —
    so only the 0/1 bit matrix (uint8, via ``np.unpackbits`` on the
    hash bytes) is ever materialized."""
    s = texts.fillna("").str.strip().str.lower()
    words = s.str.split()
    n_words = words.str.len().to_numpy(dtype=np.int64)
    if n_words.sum() == 0:
        return pd.Series(np.zeros(len(s), dtype=np.int64), index=texts.index)
    # explode emits rows in row-major order (one NaN for empty rows), so
    # the word→row map is a plain repeat — no pandas reindex needed
    exploded = words.explode().to_numpy()
    flat = exploded[np.repeat(n_words > 0, np.maximum(n_words, 1))]
    rows = np.repeat(np.arange(len(s)), n_words)  # sorted by construction
    h = pd.util.hash_array(flat, categorize=False)
    # bit matrix via unpackbits on the little-endian bytes (memcpy-speed;
    # the uint64 broadcast-shift formulation spent ~20 s per 1.5M words
    # on this expansion alone): column b == (h >> b) & 1
    ones = np.unpackbits(h.view(np.uint8).reshape(-1, 8), axis=1,
                         bitorder="little")
    starts = np.flatnonzero(np.r_[True, rows[1:] != rows[:-1]])
    seg_rows = rows[starts]
    seg_ids = np.repeat(np.arange(len(starts)),
                        np.diff(np.r_[starts, len(rows)]))
    seg_ones = np.empty((len(starts), 64), dtype=np.int64)
    for b in range(64):
        seg_ones[:, b] = np.bincount(seg_ids, weights=ones[:, b],
                                     minlength=len(starts))
    acc = np.zeros((len(s), 64), dtype=np.int64)
    acc[seg_rows] = 2 * seg_ones - n_words[seg_rows, None]
    out = (acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)
    return pd.Series(out.sum(axis=1).astype(np.int64, copy=False).view(np.int64),
                     index=texts.index)


simhash_udf = F.pandas_udf(_simhash_kernel, LongType())


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    return df.select(F.col(id_col),
                     simhash_udf(F.col(text_col)).alias("simhash"))


def simhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", max_hamming: int = 3,
                            max_bucket: int = 10000,
                            stats_out: dict | None = None) -> DataFrame:
    """Near-dup pairs with Hamming(simhash_a, simhash_b) ≤ max_hamming.

    Kernel (``simhash_signatures``) + pair stage
    (``simhash_pairs_from_signatures``) — split so the pair stage can
    run over a MATERIALIZED signature table, which is also how the
    driver oracle checks it (both engines derive pairs from the same
    parquet signatures; the kernel itself stays pytest/recall-gated
    since SipHash isn't replayable in SQL)."""
    sig = simhash_signatures(df, text_col, id_col)
    return simhash_pairs_from_signatures(sig, id_col, max_hamming,
                                         max_bucket, stats_out)


def simhash_pairs_from_signatures(sig: DataFrame, id_col: str = "doc_id",
                                  max_hamming: int = 3,
                                  max_bucket: int = 10000,
                                  stats_out: dict | None = None
                                  ) -> DataFrame:
    """Banded Hamming pair stage over an ``(id, simhash)`` frame.

    Candidate generation: split the 64-bit hash into max_hamming+1
    16-bit bands — any pair within the Hamming radius must agree on at
    least one band (pigeonhole), so a band-bucket equi-join finds all of
    them; verification is JVM-side bit_count(a XOR b).
    ``stats_out={}`` adds hot-bucket drop accounting.  As in
    ``lsh_candidate_pairs``, the banded frame is persisted for the call
    (saving a re-run of the signature subplan — the Arrow kernel, when
    fed from ``simhash_near_duplicates`` — per branch) and the pairs
    come back materialized (``localCheckpoint``, lineage truncated).
    """
    n_bands = 4
    banded = sig.select(
        id_col, "simhash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("simhash"), 16 * b)
            .bitwiseAND(F.lit(0xFFFF)) for b in range(n_bands)]))
        .alias("band", "band_key"))

    def within_radius(pairs):
        return (pairs
                .withColumn("hamming", F.bit_count(
                    F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))))
                .filter(F.col("hamming") <= max_hamming)
                .select("id_a", "id_b", "hamming"))
    return _bucket_pairs(banded, ["band", "band_key"], id_col, max_bucket,
                         stats_out, within_radius, carry=("simhash",))


# ---------------------------------------------------------------------------
# benchmark contamination (dataset decontamination)
# ---------------------------------------------------------------------------

def ngram_contamination(df: DataFrame, benchmark: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        k_shingle: int = 3, min_hits: int = 1,
                        broadcast_benchmark: bool = True) -> DataFrame:
    """Training docs that leak benchmark content: (id, n_hits) for every
    document sharing ≥ ``min_hits`` DISTINCT word ``k``-gram shingles
    with the benchmark corpus — the standard test-set-decontamination
    screen run before training.

    Scale shape: the benchmark (an eval set) is tiny next to the corpus,
    so its distinct shingle set is BROADCAST — the 100 TB side is one
    scan with a map-side hash-join, and only matching (doc, shingle)
    rows reach the per-doc count shuffle (bounded by actual
    contamination, not corpus size).  Set
    ``broadcast_benchmark=False`` only if the benchmark's shingle set
    is itself too large to broadcast — it becomes a shuffle join.
    """
    return _contamination(df, benchmark,
                          word_shingles_col(text_col, k_shingle), id_col,
                          min_hits, broadcast_benchmark)


def token_ngram_contamination(df: DataFrame, benchmark: DataFrame,
                              tokens_col: str = "tokens",
                              id_col: str = "doc_id", k: int = 8,
                              min_hits: int = 1,
                              broadcast_benchmark: bool = True) -> DataFrame:
    """``ngram_contamination`` for PRE-TOKENIZED corpora (the
    input_hint table shape): flag training sequences sharing ≥
    ``min_hits`` distinct ``k``-grams of TOKEN IDS with a benchmark
    set — decontamination that runs directly on the stored
    ``array<int>`` payload, no detokenization needed.  Token-id k-grams
    are stricter than word shingles (a benchmark sentence tokenizes one
    way), so ``k`` defaults higher.

    Same scale shape as the text screen: the benchmark's distinct gram
    set broadcasts, the corpus side is one scan + map-side join, and
    only matching (doc, gram) rows reach the per-doc count shuffle.
    """
    from data_validation_spark.functions.arrays import array_kgrams_col
    return _contamination(df, benchmark,
                          array_kgrams_col(F.col(tokens_col), k), id_col,
                          min_hits, broadcast_benchmark)


def _contamination(df: DataFrame, benchmark: DataFrame, grams: Column,
                   id_col: str, min_hits: int,
                   broadcast_benchmark: bool) -> DataFrame:
    """The body of both contamination screens: ``grams`` is the
    gram-array column, evaluated over each side's own rows."""
    doc_sh = df.select(F.col(id_col), F.explode(grams).alias("__sh"))
    bench_sh = benchmark.select(F.explode(grams).alias("__sh")).distinct()
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    return (doc_sh.join(bench_sh, "__sh")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .filter(F.col("n_hits") >= min_hits))


# ---------------------------------------------------------------------------
# incremental (snapshot-vs-corpus) dedup
# ---------------------------------------------------------------------------

def corpus_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct content fingerprints of an existing corpus — the compact
    dedup STATE an incremental ingest joins against.  16 bytes/doc
    instead of the documents themselves; at 10^12 docs this is the only
    thing the steady-state pipeline has to keep.  Persist it with
    ``TableProvider.write_bucketed(..., ["fingerprint"], N)`` and every
    future increment anti-joins against it with the corpus side
    SHUFFLE-FREE (the batch side alone re-buckets — the 100 TB table
    never moves; asserted in tests/test_increment.py)."""
    return (df.select(fingerprint_col(text_col).alias("fingerprint"))
            .distinct())


def dedup_increment(batch: DataFrame, corpus_fps: DataFrame,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Survivors of an incremental ingest batch: rows whose content is
    new versus BOTH the accumulated corpus (fingerprint anti-join) and
    the batch itself (first occurrence by min ``id_col`` wins — a batch
    routinely carries its own duplicates).

    Steady-state shape of every web-crawl pipeline: yesterday's corpus
    is fingerprint state, today's snapshot is the batch.  Cost is
    O(batch) + one probe of the state: min-id groupBy on the batch's
    fingerprints, anti-join against ``corpus_fps`` (bucketed state ⇒
    only the batch side shuffles), then an id semi-join back to carry
    full rows.  Nothing scans the corpus documents.

    Returns ``batch`` rows (all columns) that should be appended; the
    caller also appends ``corpus_fingerprints(survivors)`` to the state
    table (or relies on the state table's next rebuild)."""
    fps = batch.select(F.col(id_col),
                       fingerprint_col(text_col).alias("fingerprint"))
    first = (fps.groupBy("fingerprint").agg(F.min(id_col).alias(id_col)))
    fresh = first.join(corpus_fps.select("fingerprint"),
                       on="fingerprint", how="left_anti")
    return batch.join(fresh.select(id_col), on=id_col, how="left_semi")


def increment_report(batch: DataFrame, corpus_fps: DataFrame,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """One-row accounting for an incremental ingest: (n_batch,
    n_distinct, n_seen_in_corpus, n_survivors).  A pipeline owner
    cannot trust "ingested N docs" without knowing how many were
    in-batch copies vs corpus re-crawls.  One grouped pass over the
    batch fingerprints + one left join against the state: the corpus
    side contributes only matching fingerprints."""
    fps = (batch.select(fingerprint_col(text_col).alias("fingerprint"))
           .groupBy("fingerprint").agg(F.count(F.lit(1)).alias("n")))
    seen = (corpus_fps.select("fingerprint")
            .withColumn("__seen", F.lit(1)))
    joined = fps.join(seen, on="fingerprint", how="left")
    return joined.agg(
        F.sum("n").cast("long").alias("n_batch"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.when(F.col("__seen").isNotNull(), 1).otherwise(0))
         .cast("long").alias("n_seen_in_corpus"),
        F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0))
         .cast("long").alias("n_survivors"))


def minhash_band_state(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k_shingle: int = 3,
                       n_hashes: int = 16, bands: int = 8) -> DataFrame:
    """The NEAR-dup analogue of ``corpus_fingerprints``: the corpus's
    LSH band index ``(band, band_hash, doc_id)`` — ~24 B × bands per
    doc, the standing state an incremental ingest probes for near-dup
    candidates.  Persist with ``TableProvider.write_bucketed(...,
    ["band", "band_hash"], N)`` so every future increment's candidate
    join leaves the state SHUFFLE-FREE (same contract as the exact
    fingerprint state; the index is ~2% of a text corpus's bytes)."""
    return _signature_bands(
        minhash_signatures(df, text_col, id_col, k_shingle, n_hashes),
        id_col, n_hashes, bands)


def _signature_bands(sig: DataFrame, id_col: str, n_hashes: int,
                     bands: int, *carry: str) -> DataFrame:
    """``(id, *carry, band, band_hash)`` over a ``minhash_signatures``
    frame.  The signature is let-bound so banding doesn't recompute it
    per band (functions/arrays.py let_col has the measured pathology)."""
    rows = _band_rows(n_hashes, bands)
    return sig.select(
        F.col(id_col), *carry,
        F.posexplode(let_col(
            F.col("signature"),
            lambda s: band_hashes_col(s, bands, rows)))
        .alias("band", "band_hash"))


def increment_near_dups(batch: DataFrame, band_state: DataFrame,
                        corpus_sigs: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        k_shingle: int = 3, n_hashes: int = 16,
                        bands: int = 8, threshold: float = 0.7,
                        max_bucket: int = 1000,
                        stats_out: dict | None = None) -> DataFrame:
    """Near-duplicate pairs between an ingest BATCH and the standing
    corpus — ``(batch_id, corpus_id, est_jaccard)`` — without touching
    corpus text: candidates come from probing the bucketed
    ``minhash_band_state`` (built by the same geometry), verification
    is the signature-agreement estimator ``mean(sig_a[i] == sig_b[i])``
    against ``corpus_sigs`` (``minhash_signatures`` output persisted
    bucketed by ``id_col``), an unbiased Jaccard estimate — the verify
    tier a 100 TB steady-state pipeline can actually afford (exact
    Jaccard would re-read matched corpus documents; re-verify the
    survivors' matches offline if exactness matters downstream).

    Cost shape per batch: one signature pass over the batch, one
    equi-join of batch bands against the bucketed state (state never
    moves), one id-keyed join of candidate corpus ids against the
    bucketed signature table, zero corpus text reads.  Hot state
    buckets past ``max_bucket`` are dropped WITH accounting
    (``stats_out``) — boilerplate buckets would otherwise go quadratic
    batch-side.

    Degenerate-doc caveat (every minhash pipeline's): a doc with fewer
    than ``k_shingle`` words has an EMPTY shingle set, and empty sets
    share one constant signature — signature-agreement would report
    est_jaccard 1.0 for every such pair.  Exact-verify tiers
    (``minhash_near_duplicates``) catch this at the Jaccard step; a
    signature-only verify cannot, so length-gate inputs below
    ``k_shingle`` words upstream (the standard pre-filter)."""
    batch_bands = _signature_bands(
        minhash_signatures(batch, text_col, id_col, k_shingle, n_hashes),
        id_col, n_hashes, bands, "signature"
    ).withColumnRenamed(id_col, "batch_id")
    state = band_state.select("band", "band_hash",
                              F.col(id_col).alias("corpus_id"))
    sizes = state.groupBy("band", "band_hash").agg(
        F.count(F.lit(1)).alias("n"))
    if stats_out is not None:
        stats_out.update(_bucket_drop_stats(sizes, max_bucket))
    keep = sizes.filter(F.col("n") <= max_bucket).select("band", "band_hash")
    cand = (batch_bands
            .join(keep, ["band", "band_hash"])
            .join(state, ["band", "band_hash"])
            .select("batch_id", "corpus_id", "signature").distinct())
    csig = corpus_sigs.select(F.col(id_col).alias("corpus_id"),
                              F.col("signature").alias("sig_b"))
    est = F.aggregate(
        F.zip_with("signature", "sig_b",
                   lambda a, b: (a == b).cast("int")),
        F.lit(0), lambda acc, x: acc + x
    ).cast("double") / F.lit(n_hashes)
    return (cand.join(csig, "corpus_id")
            .select("batch_id", "corpus_id",
                    F.round(est, 6).alias("est_jaccard"))
            .filter(F.col("est_jaccard") >= threshold))


def dedup_increment_near(batch: DataFrame, band_state: DataFrame,
                         corpus_sigs: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         k_shingle: int = 3, n_hashes: int = 16,
                         bands: int = 8, threshold: float = 0.7,
                         max_bucket: int = 1000,
                         stats_out: dict | None = None) -> DataFrame:
    """Survivors of an incremental ingest under NEAR-dup semantics:
    batch rows that are neither (a) a near-dup of the standing corpus
    (``increment_near_dups``) nor (b) a non-canonical member of an
    in-batch near-dup cluster (exact-verified ``minhash_near_duplicates``
    over the batch alone — the batch carries its own texts, so the
    in-batch tier keeps exact Jaccard).  The caller appends the
    survivors' ``minhash_band_state``/``minhash_signatures`` rows to
    the two state tables, completing the steady-state loop."""
    from data_validation_spark.operators.graph import dedup_clusters
    vs_corpus = increment_near_dups(
        batch, band_state, corpus_sigs, text_col, id_col, k_shingle,
        n_hashes, bands, threshold, max_bucket, stats_out)
    # materialized: ``fresh`` has three readers, and each would re-run
    # the corpus probe
    matched = (vs_corpus.select(F.col("batch_id").alias(id_col))
               .distinct().localCheckpoint(eager=True))
    fresh = batch.join(matched, id_col, "left_anti")
    in_batch = minhash_near_duplicates(
        fresh, text_col, id_col, k_shingle, n_hashes, bands, threshold,
        max_bucket)
    keep = (dedup_clusters(fresh.select(id_col), in_batch, id_col)
            .filter(F.col("is_canonical")).select(id_col))
    return fresh.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# inter-source duplicate overlap
# ---------------------------------------------------------------------------

def source_overlap(df: DataFrame, text_col: str = "text",
                   source_col: str = "source") -> DataFrame:
    """Corpus-overlap matrix: for every pair of sources, how many
    DISTINCT contents appear in both — the "is CommonCrawl already
    inside my books dump" question asked before mixing corpora.

    Scale shape: one distinct over (fingerprint, source), one
    hash-groupBy on fingerprint whose per-key state is bounded by the
    SOURCE CARDINALITY (a handful), never by duplicate count — then the
    per-fingerprint source set explodes into ordered pairs with a
    Catalyst comprehension.  No fingerprint self-join: a content
    duplicated millions of times still contributes one source set."""
    s = F.col(source_col)
    sets = (df.select(fingerprint_col(text_col).alias("fp"),
                      s.alias("__s"))
            .distinct()
            .groupBy("fp")
            .agg(F.array_sort(F.collect_set("__s")).alias("ss"))
            .filter(F.array_size("ss") > 1))
    pair_array = F.flatten(F.transform(
        "ss",
        lambda x, i: F.transform(
            F.slice("ss", i + F.lit(2),
                    F.greatest(F.array_size("ss") - i - 1, F.lit(0))),
            lambda y: F.struct(x.alias("source_a"), y.alias("source_b")))))
    return (sets.select(F.explode(pair_array).alias("p"))
            .select("p.source_a", "p.source_b")
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("n_shared")))

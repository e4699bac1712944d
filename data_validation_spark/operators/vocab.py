"""Vocabulary-level distribution drift between two corpus snapshots.

The drift family in functions/drift.py (chi², KS, PSI) operates on
LOW-cardinality collected histograms — source labels, quantile
vectors.  The tokens payload needs the same check at VOCABULARY
cardinality: "did the unigram token distribution move between last
week's snapshot and this one?" catches tokenizer changes, a source
flipping language, template spam flooding in — before any model
trains on it.  At 10⁵–10⁷ distinct tokens the histogram must never
sit on the driver, so this is the distributed counterpart: everything
up to the final one-row summary stays in DataFrames.

Scale shape (10^12 tokens per snapshot):

* one ``explode → groupBy(token)`` count per snapshot — the shuffle
  reduces corpus cardinality to vocab size, and Zipfian heads collapse
  map-side exactly as in ``unigram_model``,
* ONE full-outer equi-join on token builds the contingency frame
  (vocab-sized, persisted — it feeds the totals agg and the final
  stats agg),
* totals ride a broadcast crossJoin back onto the frame, so the whole
  summary is two aggregate jobs over a vocab-sized frame — no token
  ever reaches the driver.

Determinism contract: total-variation distance is emitted both as a
double and as an EXACT integer numerator — with add-½ smoothing,
4·|p−q|·N′ₐN′ᵦ per token is ``|(2cₐ+1)(2Nᵦ+V) − (2cᵦ+1)(2Nₐ+V)|``,
an integer summed as DECIMAL(38,0), so an oracle can replay the whole
statistic exactly; KL (ln-based doubles) is pytest-verified against
numpy instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["unit_counts", "vocab_drift_frame", "vocab_drift_summary",
           "vocab_health",
           "vocab_top_movers"]


def unit_counts(df: DataFrame, unit: Column) -> DataFrame:
    """(token, cnt) for an array-valued unit expression (``F.col
    ("tokens")`` for pre-tokenized corpora, ``words_col("text")`` for
    raw text).  One explode → hash-groupBy; map-side partials collapse
    the Zipf head before the vocab-cardinality shuffle."""
    return (df.select(F.explode(unit).alias("token"))
            .groupBy("token").agg(F.count(F.lit(1)).alias("cnt")))


def vocab_drift_frame(cur: DataFrame, ref: DataFrame,
                      unit) -> DataFrame:
    """Per-token contingency frame ``(token, cnt_a, cnt_b)`` over the
    JOINT vocabulary (full-outer join of the two count frames; a token
    absent from one snapshot counts 0 there).  ``unit`` is a Column or
    a callable DataFrame→Column applied to each side."""
    ua = unit(cur) if callable(unit) else unit
    ub = unit(ref) if callable(unit) else unit
    a = unit_counts(cur, ua).withColumnRenamed("cnt", "cnt_a")
    b = unit_counts(ref, ub).withColumnRenamed("cnt", "cnt_b")
    return (a.join(b, "token", "full_outer")
            .select("token",
                    F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
                    F.coalesce("cnt_b", F.lit(0)).alias("cnt_b")))


def vocab_drift_summary(cur: DataFrame, ref: DataFrame, unit,
                        tv_threshold: float = 0.1) -> DataFrame:
    """One-row drift summary between two snapshots' unigram
    distributions (add-½ smoothing over the joint vocabulary):

      ``vocab_joint, n_tokens_a, n_tokens_b`` — exact integers,
      ``tv_num4``  — Σ|(2cₐ+1)(2Nᵦ+V) − (2cᵦ+1)(2Nₐ+V)| as
                     DECIMAL(38,0): the EXACT scaled TV numerator
                     (engine-replayable; summation-order-proof),
      ``tv``       — total variation ∈ [0,1]: tv_num4 / (2·(2Nₐ+V)·(2Nᵦ+V)),
      ``kl_ab``    — KL(current ‖ reference) in nats over the smoothed
                     distributions (double — verified by pytest, not
                     oracle-hashed),
      ``drifted``  — tv > tv_threshold.

    The vocab-sized frame is persisted until the one-row result is
    materialized (``localCheckpoint``); the totals row rides back via
    broadcast crossJoin so no statistic is driver-computed.
    """
    from pyspark import StorageLevel
    frame = vocab_drift_frame(cur, ref, unit) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    totals = frame.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("cnt_a").alias("na"),
        F.sum("cnt_b").alias("nb"))
    t = frame.crossJoin(F.broadcast(totals))
    dec = "decimal(38,0)"
    term_a = (2 * F.col("cnt_a") + 1).cast(dec) \
        * (2 * F.col("nb") + F.col("v")).cast(dec)
    term_b = (2 * F.col("cnt_b") + 1).cast(dec) \
        * (2 * F.col("na") + F.col("v")).cast(dec)
    # smoothed probabilities for KL: p = (2c_a+1)/(2N_a+V) etc.
    p = (2 * F.col("cnt_a") + 1).cast("double") \
        / (2 * F.col("na") + F.col("v")).cast("double")
    q = (2 * F.col("cnt_b") + 1).cast("double") \
        / (2 * F.col("nb") + F.col("v")).cast("double")
    out = t.agg(
        F.first("v").alias("vocab_joint"),
        F.first("na").alias("n_tokens_a"),
        F.first("nb").alias("n_tokens_b"),
        F.sum(F.abs(term_a - term_b)).alias("tv_num4"),
        F.sum(p * F.log(p / q)).alias("kl_ab"))
    denom = (2 * (2 * F.col("n_tokens_a") + F.col("vocab_joint"))
             * (2 * F.col("n_tokens_b") + F.col("vocab_joint")))
    try:
        return out.select(
            "vocab_joint", "n_tokens_a", "n_tokens_b", "tv_num4",
            (F.col("tv_num4").cast("double") / denom.cast("double"))
            .alias("tv"),
            "kl_ab").withColumn("drifted", F.col("tv") > tv_threshold) \
            .localCheckpoint(eager=True)
    finally:
        frame.unpersist()


def vocab_top_movers(cur: DataFrame, ref: DataFrame, unit,
                     k: int = 20) -> DataFrame:
    """The ``k`` tokens contributing most to the distribution shift,
    ranked by the EXACT integer cross-product |cₐ·Nᵦ − cᵦ·Nₐ|
    (∝ |p−q| unsmoothed — ranking needs no smoothing) with token as
    tie-break; ``(rank, token, cnt_a, cnt_b)``.  TakeOrdered heaps via
    ``global_topk`` — never a window over the vocabulary."""
    from data_validation_spark.operators.profile import global_topk
    frame = vocab_drift_frame(cur, ref, unit)
    totals = frame.agg(F.sum("cnt_a").alias("na"),
                       F.sum("cnt_b").alias("nb"))
    dec = "decimal(38,0)"
    scored = (frame.crossJoin(F.broadcast(totals))
              .withColumn("shift_num",
                          F.abs(F.col("cnt_a").cast(dec) * F.col("nb")
                                - F.col("cnt_b").cast(dec) * F.col("na"))))
    top = global_topk(scored, k,
                      [F.desc("shift_num"), F.asc("token")])
    return top.select("rank", "token", "cnt_a", "cnt_b", "shift_num")


def vocab_health(df: DataFrame, unit) -> DataFrame:
    """ONE-row corpus vocabulary health summary — the tokenizer/corpus
    QA numbers read before training: vocab_size, n_tokens, n_hapax
    (tokens seen exactly once — a swelling hapax share means OCR junk,
    boilerplate explosion or tokenizer drift), n_top (the modal token's
    count, Zipf-head mass), hapax_fraction and type_token_ratio.

    Scale shape: ``unit_counts``'s map-side partials collapse the Zipf
    head before the single vocab-cardinality shuffle, then ONE
    aggregate job folds the count frame to one row — the vocabulary
    never reaches the driver.  Ratios divide exact integer counts, so
    any engine reproduces them bit-for-bit."""
    c = unit_counts(df, unit if not callable(unit) else unit(df))
    return c.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).cast("long")
         .alias("n_hapax"),
        F.max("cnt").alias("n_top"),
        F.round(F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
                .cast("double") / F.count(F.lit(1)), 6)
         .alias("hapax_fraction"),
        F.round(F.count(F.lit(1)).cast("double") /
                F.sum("cnt").cast("double"), 6)
         .alias("type_token_ratio"))


def bigram_pmi_topk(df: DataFrame, text_col: str = "text",
                    min_count: int = 5, k: int = 25) -> DataFrame:
    """Top-k collocations by pointwise mutual information — the
    template/boilerplate tell raw bigram frequency misses (a frequent
    bigram of two frequent words is unremarkable; a frequent bigram of
    two RARE words is glue text).

    PMI = ln(p(xy) / (p(x)p(y))) with p(xy) = c_xy/n_pairs and
    p(x) = c_x/n_tokens.  The RANKING never touches a float: for fixed
    corpus totals, PMI order == order of the exact rational
    c_xy / (c_x * c_y), compared as the DECIMAL(38,0) integral
    ``c_xy * 10^12 div (c_x * c_y)`` with (w1, w2) tie-breaks — so the
    returned set is engine-exact even when two collocations' PMIs
    differ past float precision.  The ln itself is ONE float op
    sequence per SURVIVING row (k rows, identical on every engine,
    rounded 6 dp).

    Shape: two value-collapse shuffles (unigrams, bigrams — map-side
    combinable, cardinality = vocab sizes), two narrow equi-joins of
    bigram counts to unigram counts (ordinary AQE-skew-splittable
    joins), then TakeOrdered (orderBy+limit heap) — NEVER a rank
    window over the bigram vocabulary.  ``min_count`` prunes the
    hapax-bigram tail before the joins.
    """
    words = df.select(F.split(F.trim(text_col), r"\s+").alias("w")) \
        .where(F.col(text_col).isNotNull()
               & (F.length(F.trim(text_col)) > 0))
    uni = (words.select(F.explode("w").alias("word"))
           .groupBy("word").agg(F.count(F.lit(1)).alias("c")))
    pairs = words.where(F.size("w") >= 2).select(F.explode(F.expr(
        "transform(sequence(1, size(w) - 1), "
        "i -> struct(element_at(w, i) AS w1, "
        "element_at(w, i + 1) AS w2))")).alias("b")) \
        .select("b.w1", "b.w2")
    bi = (pairs.groupBy("w1", "w2")
          .agg(F.count(F.lit(1)).alias("c_xy"))
          .where(F.col("c_xy") >= min_count))
    j = (bi.join(uni.select(F.col("word").alias("w1"),
                            F.col("c").alias("c1")), "w1")
         .join(uni.select(F.col("word").alias("w2"),
                          F.col("c").alias("c2")), "w2"))
    dec = "decimal(38,0)"
    key = F.expr(f"(CAST(c_xy AS {dec}) * 1000000000000) "
                 f"div (CAST(c1 AS {dec}) * CAST(c2 AS {dec}))")
    top = (j.withColumn("rank_key", key.cast("long"))
           .orderBy(F.col("rank_key").desc(), F.col("w1").asc(),
                    F.col("w2").asc())
           .limit(k))
    totals = words.agg(
        F.sum(F.size("w")).cast("long").alias("n_tokens"),
        F.sum(F.size("w") - 1).cast("long").alias("n_pairs"))
    pmi = F.log(
        (F.col("c_xy").cast("double") / F.col("n_pairs").cast("double"))
        / ((F.col("c1").cast("double") / F.col("n_tokens").cast("double"))
           * (F.col("c2").cast("double")
              / F.col("n_tokens").cast("double"))))
    return (top.crossJoin(F.broadcast(totals))
            .select("w1", "w2", "c_xy", "c1", "c2", "rank_key",
                    F.round(pmi, 6).alias("pmi")))


def tfidf_distinctive_terms(df: DataFrame, group_col: str,
                            text_col: str = "text", top_k: int = 5,
                            min_tf: int = 1) -> DataFrame:
    """Per-group distinctive vocabulary — "which words characterise
    THIS source against the rest of the corpus?" (the tf-idf triage a
    mixture pipeline runs before weighting sources).  Rarity is
    group-level document frequency: a term appearing in few groups is
    distinctive wherever it is frequent.

    Ranking is FLOAT-FREE (same policy as ``bigram_pmi_topk``'s
    rank_key): ``score_micro = tf·10⁶ div n_groups_with_term`` on
    exact integers — monotone in tf and rarity like tf·idf for a
    fixed group count, but no engine can disagree at a rounding
    half-way.  Ties break (score DESC, term ASC): deterministic.

    Scale shape: ONE explode → (group, term) collapse (map-side
    combined; the shuffle carries per-group vocab, never tokens),
    group-df as ``count() OVER (PARTITION BY term)`` on that collapse
    (each reducer holds ONE term's group list — ≤ n_groups rows), and
    the per-group top-k as a rank window — each reducer holds ONE
    group's vocab (10⁶–10⁷ narrow rows at 100 TB).  ``min_tf`` > 1
    drops the Zipf low-tf tail BEFORE both windows (rarity then
    counts only groups clearing the floor — the cheap bound when the
    window matters).  The window form consumes the collapse exactly
    once, so nothing needs persisting: the r4 agg + join-back form
    needed a persist to stop Spark re-running the corpus explode per
    branch, and that persist was never released (cached partitions
    accumulated across calls in a long-lived session until eviction
    pressure)."""
    from pyspark.sql import Window

    words = F.split(F.trim(F.col(text_col)), r"\s+")

    gt = (df.filter(F.col(text_col).isNotNull()
                    & (F.length(F.trim(F.col(text_col))) > 0))
          .select(F.col(group_col).alias("group"),
                  F.explode(words).alias("term"))
          .groupBy("group", "term").agg(F.count(F.lit(1)).alias("tf")))
    if min_tf > 1:
        gt = gt.filter(F.col("tf") >= int(min_tf))
    # (group, term) rows are unique post-collapse, so a plain count
    # over the term partition IS the group-document-frequency
    scored = (gt.withColumn(
        "n_groups_with_term",
        F.count(F.lit(1)).over(Window.partitionBy("term")))
        .withColumn("score_micro",
                    F.expr("tf * CAST(1000000 AS BIGINT) "
                           "div n_groups_with_term")))
    w = Window.partitionBy("group").orderBy(
        F.col("score_micro").desc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(top_k))
            .select("group", "rank", "term", "tf",
                    "n_groups_with_term", "score_micro"))

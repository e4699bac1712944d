"""Corpus-level unigram language model + per-doc scoring.

The CCNet/DCLM-style quality signal: fit a unigram model on the corpus
itself (or a trusted reference corpus), then score every document by
its tokens' log-probabilities — rare-garbage documents (binary spew,
lorem-ipsum, boilerplate soup) score far below fluent text, and the
score is a cheap stand-in for LM perplexity filtering when no external
model is available.

Scale shape (10^12 docs):

* ``unigram_model`` — one ``explode → groupBy(word)`` count.  The
  shuffle reduces token-count cardinality to VOCAB size (map-side
  partial counts do most of the work: natural-language partitions are
  Zipfian, so per-partition combines collapse the head).  Top-V
  selection is ``orderBy(cnt desc, word).limit(V)`` =
  TakeOrderedAndProject (per-partition heaps, k-row merge) with a total
  order so boundary ties are deterministic — never a global window.
* ``doc_lm_scores`` — ``explode → broadcast join model →
  groupBy(doc)``.  The model is top-V rows (broadcast-sized by
  construction); explode preserves row locality, so the per-doc
  partial aggregation collapses each document to one row map-side
  before the shuffle — the shuffle moves O(docs) rows, not O(tokens).

Determinism: counts and OOV tallies are integers; ``mean_logp`` is a
float (ln) and is therefore verified by pytest against numpy, while
the integer surface is DuckDB-oracle-checked.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from data_validation_spark.functions.text import words_col

__all__ = ["unigram_model", "doc_lm_scores"]


def unigram_model(df: DataFrame, text_col: str = "text",
                  top_v: int = 100_000) -> DataFrame:
    """Top-``top_v`` corpus unigram counts with log-probabilities.

    Returns ``(word, cnt, logp)`` where ``logp = ln(cnt / N)`` and N is
    the TOTAL token count of the corpus (not just the kept head), so
    probabilities stay honest after truncation.  Boundary ties at rank
    ``top_v`` break on the word itself — the vocabulary is a pure
    function of the corpus, never of partitioning.
    """
    counts = (df.select(F.explode(words_col(text_col)).alias("word"))
              .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))
    counts = counts.persist()
    try:
        total = counts.agg(F.sum("cnt")).first()[0] or 0
        head = (counts.orderBy(F.desc("cnt"), F.asc("word")).limit(top_v)
                .withColumn("logp", F.log(F.col("cnt").cast("double")
                                          / F.lit(float(total)))))
        # the head is what callers broadcast-join; materialize it off
        # the persisted counts, then let the full counts frame go
        return head.localCheckpoint(eager=True)
    finally:
        counts.unpersist()


def doc_lm_scores(df: DataFrame, model: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  oov_logp: float | None = None) -> DataFrame:
    """Per-document unigram score against a fitted ``unigram_model``.

    Returns one row per input row:
      ``n_tokens``     — whitespace token count (0-token docs keep a row),
      ``n_oov``        — tokens outside the model vocabulary,
      ``sum_cnt``      — Σ corpus-count over in-vocab tokens (exact int),
      ``mean_cnt``     — ``sum_cnt / (n_tokens - n_oov)`` (commonness),
      ``mean_logp``    — mean token ln-probability; OOV tokens score
                         ``oov_logp`` (default: ln(1/N) floor estimated
                         from the model's own head — strictly below any
                         in-vocab logp).

    Plan: explode → broadcast hash join (model is top-V rows) → one
    groupBy on the doc id whose partials collapse map-side (explode
    keeps a doc's tokens in its partition).  Docs with zero tokens
    survive via a left join back, with NULL means and zero counts.
    """
    if oov_logp is None:
        # ln(cnt/N) for cnt=1 given the model head: logp - ln(cnt)
        # recovers -ln(N) from any row; None model head → 0-vocab
        row = model.select(
            (F.first("logp") - F.log(F.first("cnt").cast("double")))
            .alias("lnN")).first()
        oov_logp = float(row["lnN"]) if row and row["lnN"] is not None \
            else 0.0
    tok = df.select(id_col, F.explode(words_col(text_col)).alias("word"))
    joined = tok.join(F.broadcast(model), "word", "left")
    scored = (joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("cnt").isNull(), 1).otherwise(0))
         .alias("n_oov"),
        F.sum(F.coalesce("cnt", F.lit(0))).alias("sum_cnt"),
        F.sum(F.coalesce("logp", F.lit(float(oov_logp))))
         .alias("_sum_logp")))
    scored = scored.withColumn(
        "mean_cnt",
        F.when(F.col("n_tokens") > F.col("n_oov"),
               F.col("sum_cnt").cast("double")
               / (F.col("n_tokens") - F.col("n_oov")))) \
        .withColumn(
        "mean_logp",
        F.when(F.col("n_tokens") > 0,
               F.col("_sum_logp") / F.col("n_tokens"))) \
        .drop("_sum_logp")
    # left join back so 0-token docs keep a row (explode drops them)
    base = df.select(id_col)
    out = base.join(scored, id_col, "left")
    return out.select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
        F.coalesce("sum_cnt", F.lit(0)).alias("sum_cnt"),
        "mean_cnt", "mean_logp")

"""Structured Streaming validation — the engine's stats/constraint pass
applied to an unbounded sequences stream.

The reference (rdv) is batch-only (SURVEY.md §2.2: streaming listed as a
non-goal hook); this module is the *rebuild's* scale-path extension: the
same ``ValidationSuite`` evaluated continuously.

Two shapes, matching Spark's two streaming idioms:

* ``validate_stream`` — ``foreachBatch``: each micro-batch runs the
  identical batch constraint pass (``evaluate_constraints``) and appends
  verdict + violation rows (tagged with batch_id) through a
  ``TableProvider``.  Exactly the batch semantics, incrementally — and
  because ``foreachBatch`` hands us a plain DataFrame, every operator
  (salted uniqueness *within* the batch, broadcast referential, bounds)
  works unchanged.
* ``streaming_stats`` — native watermarked windowed aggregation: per
  (event-time window × partition column) stat rows (count / mean / min /
  max / null-count) as an incremental state-store agg.  Late rows beyond
  the watermark are dropped by Spark; this is the always-on profile feed
  that a drift monitor tails.
* ``streaming_duplicates`` — custom stateful operator
  (``applyInPandasWithState``): CROSS-batch uniqueness, the one check
  ``foreachBatch`` cannot express (it only sees one batch).  State is
  sharded by a hash bucket of the key; the default state is a
  FIXED-SIZE Bloom filter per shard (constant bytes at any key count,
  no false negatives), with an exact seen-key-list mode for small key
  spaces; a shard's state that has been idle for the TTL is dropped
  when the shard's next keys arrive.

At scale: foreachBatch inherits all batch-path properties (map-side
partials, broadcast joins); the windowed agg's state is bounded by
(#windows in watermark horizon × #groups), never row count; the
stateful dedup's state is bounded by (keys within TTL), sharded across
``n_shards`` state-store partitions.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from data_validation_spark.operators.constraints import evaluate_constraints
from data_validation_spark.plans.suite import ValidationSuite
from data_validation_spark.sources.table_provider import TableProvider

STREAM_VERDICTS_TABLE = "stream_verdicts"
STREAM_VIOLATIONS_TABLE = "stream_violations"


def _start_batches(stream_df: DataFrame,
                   process_batch: Callable[[DataFrame, int], None],
                   checkpoint_dir: str | None,
                   trigger_available_now: bool) -> StreamingQuery:
    """Start ``process_batch`` on every micro-batch of ``stream_df``
    (update mode), checkpointed in ``checkpoint_dir`` when given, and
    draining the backlog then stopping under ``trigger_available_now``."""
    writer = (stream_df.writeStream
              .foreachBatch(process_batch)
              .outputMode("update"))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def validate_stream(stream_df: DataFrame, suite: ValidationSuite,
                    sink: TableProvider,
                    dims: dict[str, DataFrame] | None = None,
                    checkpoint_dir: str | None = None,
                    trigger_available_now: bool = True) -> StreamingQuery:
    """Run the suite's constraint pass on every micro-batch.

    Returns the started StreamingQuery; callers ``awaitTermination()``.
    With ``trigger_available_now`` the query drains the current backlog
    and stops — the incremental-batch idiom used in tests and backfills.
    The checkpoint dir gives exactly-once batch tracking across
    restarts (the streaming analogue of the IO7 manifest).
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        run = evaluate_constraints(batch_df, suite, dims)
        sink.append(run.verdicts.withColumn("batch_id", F.lit(batch_id)),
                    STREAM_VERDICTS_TABLE)
        sink.append(
            run.violations
               .withColumn("batch_id", F.lit(batch_id))
               .withColumn("errors", F.to_json("errors")),
            STREAM_VIOLATIONS_TABLE)

    return _start_batches(stream_df, process_batch, checkpoint_dir,
                          trigger_available_now)


def streaming_stats(stream_df: DataFrame, ts_col: str, value_expr: str,
                    group_cols: list[str] | None = None,
                    window_duration: str = "1 minute",
                    watermark: str = "2 minutes") -> DataFrame:
    """Watermarked windowed stats feed (S1/S2 incrementally).

    Returns an unbounded DataFrame of one stats row per closed
    (window × group); write it with ``.writeStream`` in append mode so
    only watermark-finalized windows are emitted.
    """
    group_cols = group_cols or []
    v = F.expr(value_expr).cast("double")
    return (stream_df
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window_duration), *group_cols)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.expr(value_expr).isNull().cast("long"))
                 .alias("n_invalid"),
                 F.min(v).alias("min_v"),
                 F.max(v).alias("max_v"),
                 F.avg(v).alias("mean_v"))
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"),
                    *group_cols, "n", "n_invalid", "min_v", "max_v",
                    "mean_v"))


# ---------------------------------------------------------------- Bloom
# Pure, vectorized Bloom-filter kernel used as the bounded state of
# streaming_duplicates.  Deterministic across runs and processes:
# pandas' hash_array is SipHash with an explicit 16-byte key, so a
# restarted query reads the same bit positions out of checkpointed
# state.  Double hashing (h1 + i*h2 with h2 forced odd) gives the k
# probe positions from two base hashes (Kirsch–Mitzenmacher).

_BLOOM_KEY_1 = "dv_spark_bloom_1"
_BLOOM_KEY_2 = "dv_spark_bloom_2"


def _bloom_positions(keys, n_bits: int, n_hashes: int):
    """(len(keys), n_hashes) uint64 array of bit positions."""
    import numpy as np

    arr = pd.Index(keys).to_numpy(dtype=object)
    h1 = pd.util.hash_array(arr, hash_key=_BLOOM_KEY_1, categorize=False)
    h2 = pd.util.hash_array(arr, hash_key=_BLOOM_KEY_2, categorize=False) | 1
    i = np.arange(n_hashes, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(n_bits)


def _bloom_contains(bloom, pos):
    """Per-key membership (all k bits set) for a packed uint8 filter."""
    import numpy as np

    byte = bloom[(pos >> np.uint64(3)).astype(np.int64)]
    bit = (byte >> (pos & np.uint64(7)).astype(np.uint8)) & 1
    return bit.all(axis=1)


def _bloom_add(bloom, pos) -> None:
    import numpy as np

    idx = (pos >> np.uint64(3)).astype(np.int64).ravel()
    mask = np.left_shift(np.uint8(1),
                         (pos & np.uint64(7)).astype(np.uint8)).ravel()
    np.bitwise_or.at(bloom, idx, mask)


def streaming_duplicates(stream_df: DataFrame, key_col: str = "doc_id",
                         n_shards: int = 64,
                         state_ttl_ms: int = 30 * 60 * 1000,
                         state_mode: str = "bloom",
                         n_bits: int = 1 << 23,
                         n_hashes: int = 6) -> DataFrame:
    """Cross-micro-batch duplicate detection — a custom stateful
    operator built on ``applyInPandasWithState`` (U-surface: Arrow
    batches in and out, no per-row Python against Spark rows).

    Keys are sharded into ``n_shards`` hash buckets; each micro-batch
    emits ``(key, shard, n_dup)`` for every key that arrived again
    after its first-ever occurrence (``n_dup`` = duplicate arrivals in
    this batch); state expires after ``state_ttl_ms`` of shard
    inactivity: each shard stores the processing time of its last
    batch (``t_ms``), and state that has been idle for at least the TTL
    is treated as empty when the shard's next keys arrive.  No timeout
    is registered, so an ``availableNow`` drain ends by itself (a
    processing-time timeout makes Spark plan one more no-data batch
    forever).  The state schema gained ``t_ms``: checkpoints written
    by the earlier timeout-based version of this operator cannot be
    restored and must restart.

    ``state_mode`` picks the shard state representation:

    * ``"bloom"`` (default, the scale path) — a FIXED-SIZE Bloom filter
      of ``n_bits`` bits (``n_bits/8`` bytes, default 1 MiB) with
      ``n_hashes`` probes per key, held as ``binary`` state.  State per
      shard is constant no matter how many keys stream through — the
      property the exact mode lacks at 10^12 keys, where rewriting a
      full key list into the state store every batch is the
      scale-killer.  Bloom filters have NO false negatives (every true
      cross-batch duplicate is still caught); false positives flag a
      first-time key as duplicate at rate ≈ (1 - e^(-kn/m))^k for n
      keys inserted (k=``n_hashes``, m=``n_bits``) — at the defaults,
      n=500k keys per shard gives FPR ≈ 0.05%, and the per-shard
      insert count is kept in state (``n_seen``) so operators can size
      m against it.  Hashing is SipHash with pinned keys
      (``pd.util.hash_array``), so checkpoint-restored state stays
      valid across restarts.
    * ``"exact"`` — the seen-key list (array state).  Exact answers,
      state grows with distinct keys within the TTL; for modest key
      spaces (e.g. per-day id dedup) this is fine and gives no false
      positives.

    Use ``outputMode("update")``.
    """
    if state_mode not in ("bloom", "exact"):
        raise ValueError(f"state_mode must be bloom|exact, got {state_mode!r}")
    if state_mode == "bloom" and n_bits % 8:
        raise ValueError("n_bits must be a multiple of 8")
    shard = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).alias("__shard")
    keyed = stream_df.select(F.col(key_col).cast("string").alias("key"), shard)

    def batch_counts(pdfs: Iterator[pd.DataFrame]) -> pd.Series:
        """key -> arrivals this batch (concat chunks, one value_counts)."""
        parts = [pdf["key"] for pdf in pdfs]
        if not parts:
            return pd.Series(dtype="int64")
        return pd.concat(parts, ignore_index=True).value_counts()

    def emit(shard_id, counts: pd.Series, first_time) -> Iterator[pd.DataFrame]:
        n_dup = counts.to_numpy() - first_time.astype("int64")
        keep = n_dup > 0
        if keep.any():
            yield pd.DataFrame({"key": counts.index.to_numpy()[keep],
                                "shard": shard_id,
                                "n_dup": n_dup[keep]})

    def live_state(state: GroupState, now_ms: int):
        """The shard's state without its ``t_ms``, or None when there is
        none or it has been idle for at least ``state_ttl_ms``."""
        if not state.exists:
            return None
        *value, t_ms = state.get
        return value if now_ms - t_ms < state_ttl_ms else None

    def detect_exact(key, pdfs: Iterator[pd.DataFrame],
                     state: GroupState) -> Iterator[pd.DataFrame]:
        now_ms = state.getCurrentProcessingTimeMs()
        (seen,) = live_state(state, now_ms) or ([],)
        seen_set = set(seen)
        counts = batch_counts(pdfs)
        first = ~counts.index.isin(seen_set)
        seen_set.update(counts.index)
        state.update((list(seen_set), now_ms))
        yield from emit(key[0], counts, first)

    def detect_bloom(key, pdfs: Iterator[pd.DataFrame],
                     state: GroupState) -> Iterator[pd.DataFrame]:
        import numpy as np

        now_ms = state.getCurrentProcessingTimeMs()
        live = live_state(state, now_ms)
        if live is not None:
            raw, n_seen = live
            bloom = np.frombuffer(bytes(raw), dtype=np.uint8).copy()
        else:
            bloom, n_seen = np.zeros(n_bits // 8, dtype=np.uint8), 0
        counts = batch_counts(pdfs)
        if len(counts):
            pos = _bloom_positions(counts.index, n_bits, n_hashes)
            seen_before = _bloom_contains(bloom, pos)
            _bloom_add(bloom, pos)
            n_seen += int((~seen_before).sum())
        else:
            seen_before = np.zeros(0, dtype=bool)
        state.update((bytearray(bloom.tobytes()), n_seen, now_ms))
        yield from emit(key[0], counts, ~seen_before)

    detect = detect_bloom if state_mode == "bloom" else detect_exact
    state_schema = ("bloom binary, n_seen long, t_ms long"
                    if state_mode == "bloom"
                    else "seen array<string>, t_ms long")
    return (keyed.groupBy("__shard").applyInPandasWithState(
        detect,
        outputStructType="key string, shard long, n_dup long",
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout))


STREAM_DRIFT_TABLE = "stream_drift"


def streaming_drift(stream_df: DataFrame, reference,
                    components: list, sink: TableProvider,
                    thresholds: dict | None = None,
                    min_batch_rows: int = 1000,
                    checkpoint_dir: str | None = None,
                    trigger_available_now: bool = True) -> StreamingQuery:
    """Always-on drift monitor — rdv's production loop (score live
    traffic against a frozen reference profile) as a stream: each
    micro-batch is profiled with the batch ``build_profile`` and
    contrasted (KS / PSI / chi² / Δpinv) against ``reference``; one row
    per (batch, component, test) lands in the ``stream_drift`` sink.

    ``min_batch_rows`` guards statistical power: tiny batches produce
    noisy statistics (chi² against a treated-as-exact reference is hot
    on small samples — see verify notes), so under-sized batches are
    recorded with test='skipped_small_batch' instead of fake verdicts.

    Scale shape: profiling a batch is the fused single pass (map-side
    partials); the contrast itself is driver-side arithmetic on
    aggregated profiles — O(components × quantile points), independent
    of batch size.
    """
    from data_validation_spark.operators.contrast import contrast
    from data_validation_spark.operators.profile import build_profile

    spark = stream_df.sparkSession

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.count()
        if n == 0:
            return
        if n < min_batch_rows:
            rows = [(int(batch_id), n, "_batch", "skipped_small_batch",
                     None, False)]
        else:
            cur = build_profile(batch_df, components)
            report = contrast(cur, reference, thresholds)
            rows = [(int(batch_id), n, name, r.test,
                     float(r.statistic), bool(r.drifted))
                    for name, cd in report.components.items()
                    for r in cd.results]
        out = spark.createDataFrame(
            rows, "batch_id long, n_rows long, component string, "
                  "test string, statistic double, drifted boolean")
        sink.append(out, STREAM_DRIFT_TABLE)

    return _start_batches(stream_df, handle, checkpoint_dir,
                          trigger_available_now)


def streaming_sessionize(stream_df: DataFrame, user_col: str = "user_id",
                         ts_col: str = "ts", value_col: str | None = None,
                         gap_ms: int = 30 * 60 * 1000,
                         idle_timeout_ms: int | None = None) -> DataFrame:
    """Online gap sessionization — the batch ``operators.sessions``
    semantics as a custom stateful streaming operator
    (``applyInPandasWithState``): per user, events closer than
    ``gap_ms`` belong to one session; a CLOSED session is emitted the
    moment an event arrives past the gap, and an idle open session is
    flushed by a processing-time timeout (default ``2 × gap_ms``).

    State per user is ONE open session (start/end epoch-µs, count,
    value sum, closed-session counter) — constant bytes per active
    user regardless of stream length, the property that makes this run
    forever.  Per batch the user's events are ts-sorted and segmented
    with one vectorized diff; the Python loop is over SEGMENTS (gap
    splits in one batch), not rows.

    Ordering contract: intra-batch order is handled (events are
    sorted); a cross-batch late event that still touches the open
    session (its segment reaches within ``gap_ms`` of the session end)
    folds in and may extend the session backwards (start keeps the
    min).  An event later than that — older than an ALREADY CLOSED
    session — starts a fresh session rather than reopening history
    (deliberate: exactly what a watermark upstream is for; replay the
    batch operator for exact out-of-order reconstruction).

    Emits ``(user, session_seq, start_us, end_us, n_events,
    sum_value)`` — closed sessions only, ``outputMode("update")``.

    Key contract for downstream upsert sinks: use ``(user, start_us)``
    as the natural key — two sessions of one user can never share a
    start instant.  ``session_seq`` is monotone per user while the
    user's state survives: after an idle-timeout flush the counter is
    kept in a zero-session tombstone for ONE further idle window (so a
    briefly-idle user continues numbering), after which the tombstone
    is dropped and a later return restarts at 1 — the price of
    constant-size state over unbounded users (ADVICE r3; keying output
    by seq alone would collide across TTL epochs).
    """
    gap_us = int(gap_ms) * 1000
    idle = int(idle_timeout_ms if idle_timeout_ms is not None
               else 2 * gap_ms)
    val = (F.col(value_col) if value_col else F.lit(0.0))
    keyed = stream_df.select(
        F.col(user_col).cast("string").alias("user"),
        F.col(ts_col).cast("timestamp").alias("ts"),
        val.cast("double").alias("val"))

    out_schema = ("user string, session_seq long, start_us long, "
                  "end_us long, n_events long, sum_value double")

    def row(user, seq, s, e, n, v):
        return {"user": user, "session_seq": seq, "start_us": s,
                "end_us": e, "n_events": n, "sum_value": v}

    def sessionize(key, pdfs: Iterator[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
        import numpy as np

        user = key[0]
        if state.hasTimedOut:
            if state.exists:
                s, e, n, v, seq = state.get
                if n > 0:
                    # flush the open session but KEEP the closed-session
                    # counter in a tombstone for one more idle window,
                    # so a briefly-idle user's session_seq stays
                    # monotone instead of restarting at 1
                    state.update((0, 0, 0, 0.0, int(seq) + 1))
                    state.setTimeoutDuration(idle)
                    yield pd.DataFrame([row(user, seq + 1, s, e, n, v)])
                else:
                    state.remove()      # second idle window: drop it
            else:
                state.remove()
            return
        parts = [p for p in pdfs]
        pdf = (pd.concat(parts, ignore_index=True) if parts
               else pd.DataFrame(columns=["ts", "val"]))
        if not len(pdf):
            state.setTimeoutDuration(idle)
            return
        ts = pdf["ts"].to_numpy("datetime64[us]").astype("int64")
        order = np.argsort(ts, kind="stable")
        ts = ts[order]
        vals = pdf["val"].to_numpy("float64")[order]

        if state.exists:
            cs, ce, cn, cv, seq = state.get
        else:
            cs = ce = 0
            cn, cv, seq = 0, 0.0, 0
        closed = []
        bounds = np.nonzero(np.diff(ts) > gap_us)[0] + 1
        for idx in np.split(np.arange(len(ts)), bounds):
            ss, se = int(ts[idx[0]]), int(ts[idx[-1]])
            sn, sv = len(idx), float(vals[idx].sum())
            if cn > 0 and ss - ce <= gap_us:
                cs, ce = min(cs, ss), max(ce, se)
                cn, cv = cn + sn, cv + sv
            else:
                if cn > 0:
                    seq += 1
                    closed.append(row(user, seq, cs, ce, cn, cv))
                cs, ce, cn, cv = ss, se, sn, sv
        state.update((int(cs), int(ce), int(cn), float(cv), int(seq)))
        state.setTimeoutDuration(idle)
        if closed:
            yield pd.DataFrame(closed)

    return (keyed.groupBy("user").applyInPandasWithState(
        sessionize,
        outputStructType=out_schema,
        stateStructType=("start_us long, end_us long, n long, "
                        "sum double, seq long"),
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout))


# ------------------------------------------------------- ingest dedup
INGEST_CORPUS_TABLE = "ingest_corpus"
INGEST_STATE_TABLE = "ingest_fingerprints"
INGEST_REPORT_TABLE = "ingest_report"


def streaming_ingest_dedup(stream_df: DataFrame, sink: TableProvider,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           checkpoint_dir: str | None = None,
                           trigger_available_now: bool = True
                           ) -> StreamingQuery:
    """Continuous incremental-ingest dedup: every micro-batch is
    deduped against the ACCUMULATED corpus fingerprint state (plus
    itself), survivors are appended to the corpus table, their
    fingerprints to the state table, and a per-batch accounting row
    (n_batch / n_distinct / n_seen_in_corpus / n_survivors + batch_id)
    to the report table — the always-on form of ``dedup_increment``.

    Why ``foreachBatch`` and a TABLE for state rather than
    ``applyInPandasWithState``: the dedup state here is the corpus's
    full fingerprint set — 16 B × total docs, far beyond what a state
    store should rewrite per batch, but exactly what a bucketed
    fingerprint TABLE holds for free (and the anti-join against it
    shuffles only the batch side).  ``streaming_duplicates`` (Bloom
    state) is the complementary shape for approximate in-store dedup.

    Exactly-once caveat: with a checkpoint dir Spark will not REPLAY a
    completed batch, but a crash mid-batch can leave a partial
    parquet append on retry — on a transactional table format
    (the Iceberg seam) the three appends become atomic commits; with
    raw parquet, idempotence holds only at batch granularity.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if sink.exists(INGEST_STATE_TABLE):
            state = sink.read(INGEST_STATE_TABLE, ["fingerprint"])
        else:
            state = spark.createDataFrame([], "fingerprint string")
        from data_validation_spark.operators.dedup import (
            corpus_fingerprints, dedup_increment, increment_report)
        report = (increment_report(batch_df, state, text_col, id_col)
                  .withColumn("batch_id", F.lit(batch_id)))
        survivors = dedup_increment(batch_df, state, text_col,
                                    id_col).persist()
        try:
            # ORDER MATTERS: report and survivors are LAZY plans that
            # re-read the state table when executed — both must run
            # before the state append below changes what a re-list of
            # that table returns.  (persist pins survivors at its first
            # materialization; the report is pinned by writing it now.)
            sink.append(report, INGEST_REPORT_TABLE)
            sink.append(survivors, INGEST_CORPUS_TABLE)
            sink.append(corpus_fingerprints(survivors, text_col),
                        INGEST_STATE_TABLE)
        finally:
            survivors.unpersist()

    return _start_batches(stream_df, process_batch, checkpoint_dir,
                          trigger_available_now)


SCD2_CURRENT_TABLE = "scd2_current"
SCD2_HISTORY_TABLE = "scd2_history"
SCD2_LATE_TABLE = "scd2_late"
SCD2_REPORT_TABLE = "scd2_report"


def streaming_scd2(stream_df: DataFrame, sink: TableProvider,
                   key_cols: list[str], ts_col: str,
                   attr_cols: list[str],
                   order_cols: tuple[str, ...] = (),
                   checkpoint_dir: str | None = None,
                   trigger_available_now: bool = True) -> StreamingQuery:
    """Continuously maintained SCD2 split from a CDC change stream:
    every micro-batch folds into a compact CURRENT table (one open
    version per key) + an append-only HISTORY table (closed
    intervals), via ``operators.history.scd2_apply_batch`` — whose
    invariant (incremental fold == batch ``scd2_intervals`` over the
    concatenated stream) is pinned by test.  Out-of-order records
    land in a LATE quarantine table with a per-batch accounting row,
    never silently folded.

    Why ``foreachBatch`` + tables rather than ``applyInPandasWithState``:
    the open-version state is one row per ENTITY — beyond a state
    store's per-batch rewrite budget at 10^9 keys, but exactly what a
    keyed table holds; the merge join shuffles only the batch side.
    Per batch the current table pays one targeted ``delete_keys``
    rewrite (atomic two-rename swap — readers never see a half state);
    on the Iceberg seam that step becomes a metadata-native
    ``MERGE INTO``.  Exactly-once caveat matches
    ``streaming_ingest_dedup``: idempotence at batch granularity on
    raw parquet, atomic commits on the Iceberg branch.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        from data_validation_spark.operators.history import (
            scd2_apply_batch)
        if sink.exists(SCD2_CURRENT_TABLE):
            cur = sink.read(SCD2_CURRENT_TABLE)
        else:
            cur = batch_df.select(
                *key_cols, *attr_cols,
                F.lit(0).cast("int").alias("version"),
                F.col(ts_col).alias("valid_from")).limit(0)
        hist, new_cur, late = scd2_apply_batch(
            batch_df, cur, key_cols, ts_col, attr_cols, order_cols)
        # Materialize EVERYTHING that lazily reads the current table
        # BEFORE delete_keys swaps it (localCheckpoint: eviction-proof,
        # unlike persist) — the ingest-dedup ordering lesson.
        new_cur = new_cur.localCheckpoint(eager=True)
        late = late.localCheckpoint(eager=True)
        n_late = late.count()
        sink.append(hist, SCD2_HISTORY_TABLE)       # materializes hist
        if n_late:
            sink.append(late, SCD2_LATE_TABLE)
        report = spark.createDataFrame(
            [(int(batch_id), batch_df.count(), n_late, new_cur.count())],
            "batch_id long, n_batch long, n_late long, n_open long")
        sink.append(report, SCD2_REPORT_TABLE)
        if sink.exists(SCD2_CURRENT_TABLE):
            sink.delete_keys(SCD2_CURRENT_TABLE,
                             new_cur.select(*key_cols), key_cols)
        sink.append(new_cur, SCD2_CURRENT_TABLE)

    return _start_batches(stream_df, process_batch, checkpoint_dir,
                          trigger_available_now)

"""Structured Streaming validation: foreachBatch constraint pass and
watermarked windowed stats (streaming/validate.py)."""

import pytest
from pyspark.sql import functions as F

from data_validation_spark.plans.suite import Constraint, ValidationSuite
from data_validation_spark.sources.sequences import (
    allowed_sources_df,
    synth_sequences,
)
from data_validation_spark.sources.table_provider import TableProvider
from data_validation_spark.streaming import streaming_stats, validate_stream
from data_validation_spark.streaming.validate import (
    STREAM_VERDICTS_TABLE,
    STREAM_VIOLATIONS_TABLE,
)

N = 1000


@pytest.fixture(autouse=True)
def stop_leftover_queries(spark):
    """Stops any streaming query a test leaves running, so it does not
    keep running micro-batches through the rest of the session."""
    yield
    for q in spark.streams.active:
        q.stop()


@pytest.fixture(scope="module")
def stream_input(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_in"))
    synth_sequences(spark, N).write.mode("overwrite").parquet(path)
    schema = spark.read.parquet(path).schema
    return path, schema


def test_validate_stream_matches_batch(spark, stream_input, tmp_path):
    path, schema = stream_input
    suite = ValidationSuite(
        name="stream",
        constraints=[
            Constraint("tokens_not_null", "not_null", {"component": "tokens"}),
            Constraint("unique_doc_id", "unique", {"keys": ["doc_id"]}),
            Constraint("source_allowed", "referential",
                       {"column": "source", "dim": "allowed"}),
        ],
        partition_cols=["source"])
    dims = {"allowed": allowed_sources_df(spark)}

    stream_df = (spark.readStream.schema(schema)
                 .option("maxFilesPerTrigger", "100").parquet(path))
    sink = TableProvider(spark, str(tmp_path / "sink"))
    q = validate_stream(stream_df, suite, sink, dims=dims,
                        checkpoint_dir=str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)

    verdicts = sink.read(STREAM_VERDICTS_TABLE)
    violations = sink.read(STREAM_VIOLATIONS_TABLE)

    # summed across micro-batches == the one-shot batch pass (uniqueness
    # is per-batch by construction; one batch here, so exactly equal)
    exp_null = sum(1 for i in range(N) if i % 211 == 0)
    exp_dup = 2 * sum(1 for i in range(N) if i % 97 == 0 and i > 0)
    got = {r["constraint"]: r["n"] for r in
           (verdicts.groupBy("constraint")
            .agg(F.sum("n_violations").alias("n")).collect())}
    assert got["tokens_not_null"] == exp_null
    assert got["unique_doc_id"] == exp_dup
    assert got["source_allowed"] > 0
    assert violations.count() > 0
    # violation rows carry the original token arrays (per-row invariant)
    assert "tokens" in violations.columns

    # restart with the same checkpoint: no new batches → no new rows
    n_before = verdicts.count()
    stream_df2 = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "100").parquet(path))
    q2 = validate_stream(stream_df2, suite, sink, dims=dims,
                         checkpoint_dir=str(tmp_path / "ckpt"))
    assert q2.awaitTermination(120)
    assert sink.read(STREAM_VERDICTS_TABLE).count() == n_before


def test_validate_stream_metric_kinds(spark, tmp_path):
    """Metric assertions evaluate PER MICRO-BATCH through the same
    evaluate_constraints path: row_count floors each batch, freshness
    judges each batch's max(ts) against the suite's explicit as_of."""
    import datetime as dt
    rows = [("d%d" % i, dt.datetime(2026, 1, 1 + (i % 3)), "web")
            for i in range(40)]
    path = str(tmp_path / "in")
    df = spark.createDataFrame(
        rows, "doc_id string, ts timestamp, source string")
    df.coalesce(2).write.mode("overwrite").parquet(path)
    schema = spark.read.parquet(path).schema

    suite = ValidationSuite(
        name="stream-metric",
        constraints=[
            Constraint("batch_floor", "row_count", {"min": 5}),
            Constraint("fresh", "freshness",
                       {"component": "ts", "max_age_seconds": 86400 * 30,
                        "as_of": "2026-01-10T00:00:00"}),
            Constraint("stale", "freshness",
                       {"component": "ts", "max_age_seconds": 3600,
                        "as_of": "2026-06-01T00:00:00"}),
        ],
        partition_cols=["source"])
    stream_df = (spark.readStream.schema(schema)
                 .option("maxFilesPerTrigger", "1").parquet(path))
    sink = TableProvider(spark, str(tmp_path / "sink"))
    q = validate_stream(stream_df, suite, sink,
                        checkpoint_dir=str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)

    v = sink.read(STREAM_VERDICTS_TABLE).collect()
    by = {}
    for r in v:
        by.setdefault(r["constraint"], []).append(r)
    # each micro-batch (2 files → ≥2 batches) emitted its own verdicts
    assert len({r["batch_id"] for r in v}) >= 2
    assert all(r["passed"] for r in by["batch_floor"])
    assert all(r["passed"] for r in by["fresh"])
    # every batch is months older than the stale as_of → every batch red
    assert all(not r["passed"] for r in by["stale"])


def test_streaming_stats_windowed(spark, tmp_path):
    rows = [(f"d{i}", i % 3, "2026-01-01 00:%02d:30" % (i % 4)) for i in range(120)]
    df = (spark.createDataFrame(rows, "doc_id string, v int, ts_s string")
          .withColumn("ts", F.to_timestamp("ts_s")))
    path = str(tmp_path / "in")
    df.write.parquet(path)

    stream = spark.readStream.schema(
        spark.read.parquet(path).schema).parquet(path)
    stats = streaming_stats(stream, "ts", "v", window_duration="1 minute",
                            watermark="1 minute")
    q = (stats.writeStream.format("memory").queryName("win_stats")
         .outputMode("complete").trigger(availableNow=True).start())
    assert q.awaitTermination(120)

    out = spark.sql("select * from win_stats").collect()
    assert len(out) == 4  # four 1-minute windows
    by_start = {str(r["window_start"]): r for r in out}
    r0 = by_start["2026-01-01 00:00:30"] if "2026-01-01 00:00:30" in by_start \
        else out[0]
    assert all(r["n"] == 30 for r in out)
    assert all(r["n_invalid"] == 0 for r in out)
    assert all(r["min_v"] == 0.0 and r["max_v"] == 2.0 for r in out)


def _drain_duplicates(spark, tmp_path, mode, name, **kw) -> dict:
    """Drain two files through ``streaming_duplicates`` (one file per
    micro-batch) into memory table ``name``; return ``{key: n_dup}``.
    File 1 holds a,b,c,c and file 2 b,d,e: b repeats ACROSS batches,
    c within one."""
    from data_validation_spark.streaming.validate import streaming_duplicates
    path = str(tmp_path / "in")
    spark.createDataFrame([("a",), ("b",), ("c",), ("c",)], "doc_id string") \
        .coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame([("b",), ("d",), ("e",)], "doc_id string") \
        .coalesce(1).write.mode("append").parquet(path)

    stream = (spark.readStream.schema("doc_id string")
              .option("maxFilesPerTrigger", "1").parquet(path))
    dups = streaming_duplicates(stream, "doc_id", n_shards=4,
                                state_mode=mode, **kw)
    q = (dups.writeStream.format("memory").queryName(name)
         .outputMode("update").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    return {r["key"]: r["n_dup"]
            for r in spark.sql(f"select * from {name}").collect()}


@pytest.mark.parametrize("mode", ["bloom", "exact"])
def test_streaming_duplicates_cross_batch(spark, tmp_path, mode):
    """Cross-batch uniqueness via the applyInPandasWithState operator:
    a key that first appears in batch 1 and again in batch 2 is caught
    — exactly the case per-batch foreachBatch uniqueness cannot see.
    Both state modes (fixed-size Bloom / exact key list) must agree on
    this key space (Bloom FPR at 5 keys in 2^23 bits ≈ 0)."""
    got = _drain_duplicates(spark, tmp_path, mode, f"dups_{mode}")
    # c duplicated within its batch; b across batches (file order may
    # swap, but either order yields exactly these two duplicates)
    assert got == {"b": 1, "c": 1}


@pytest.mark.parametrize("mode", ["bloom", "exact"])
def test_streaming_duplicates_state_expires_after_ttl(spark, tmp_path, mode):
    """With a 1 ms TTL, batch 1's shard state is idle past the TTL when
    batch 2 arrives, so it counts as empty: b is a first-time key again,
    while c's duplicate within its own batch is still caught."""
    got = _drain_duplicates(spark, tmp_path, mode, f"dups_ttl_{mode}",
                            state_ttl_ms=1)
    assert got == {"c": 1}


def test_bloom_kernel_bounded_no_false_negatives():
    """The Bloom state kernel: (1) state bytes are CONSTANT as keys
    grow — the scale property the exact list lacks; (2) zero false
    negatives ever; (3) false-positive rate within theory at the
    sized load."""
    import numpy as np

    from data_validation_spark.streaming.validate import (
        _bloom_add,
        _bloom_contains,
        _bloom_positions,
    )

    n_bits, k = 1 << 20, 6            # 128 KiB filter
    bloom = np.zeros(n_bits // 8, dtype=np.uint8)
    size0 = bloom.nbytes
    inserted = [f"key-{i}" for i in range(20_000)]
    for chunk in (inserted[:5_000], inserted[5_000:]):
        _bloom_add(bloom, _bloom_positions(chunk, n_bits, k))
    assert bloom.nbytes == size0      # state never grows
    # no false negatives: every inserted key reports present
    assert _bloom_contains(
        bloom, _bloom_positions(inserted, n_bits, k)).all()
    # FPR at n=20k, m=2^20, k=6: (1-e^(-kn/m))^k ~= 2.6e-6; allow 100x
    fresh = [f"other-{i}" for i in range(50_000)]
    fpr = _bloom_contains(
        bloom, _bloom_positions(fresh, n_bits, k)).mean()
    assert fpr < 3e-4


def test_bloom_positions_deterministic():
    """SipHash with pinned keys: positions are identical across calls
    (and therefore across query restarts reading checkpointed state)."""
    import numpy as np

    from data_validation_spark.streaming.validate import _bloom_positions

    a = _bloom_positions(["x", "y", "z"], 1 << 20, 6)
    b = _bloom_positions(["x", "y", "z"], 1 << 20, 6)
    assert np.array_equal(a, b)
    assert (a < (1 << 20)).all()


def test_streaming_drift_detects_shifted_batch(spark, tmp_path):
    """Always-on drift monitor: a same-distribution batch reports no
    drift, a shifted batch drifts, an undersized batch is recorded as
    skipped (not a fake verdict)."""
    from data_validation_spark.operators.profile import build_profile
    from data_validation_spark.plans.suite import Component
    from data_validation_spark.sources.sequences import synth_sequences
    from data_validation_spark.sources.table_provider import TableProvider
    from data_validation_spark.streaming.validate import (
        STREAM_DRIFT_TABLE,
        streaming_drift,
    )

    comps = [Component("n_tok", "numeric")]
    reference = build_profile(synth_sequences(spark, 12000), comps)

    in_dir = str(tmp_path / "in")
    # batch 1: same distribution; batch 2: shifted; batch 3: tiny
    synth_sequences(spark, 12000).select("doc_id", "n_tok", "tokens",
                                         "source", "bucket") \
        .coalesce(1).write.mode("append").parquet(in_dir)
    synth_sequences(spark, 12000, shift=True) \
        .select("doc_id", "n_tok", "tokens", "source", "bucket") \
        .coalesce(1).write.mode("append").parquet(in_dir)
    synth_sequences(spark, 50).select("doc_id", "n_tok", "tokens",
                                      "source", "bucket") \
        .coalesce(1).write.mode("append").parquet(in_dir)

    schema = spark.read.parquet(in_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(in_dir))
    sink = TableProvider(spark, str(tmp_path / "sink"))
    q = streaming_drift(stream, reference, comps, sink,
                        min_batch_rows=1000,
                        checkpoint_dir=str(tmp_path / "ckpt"))
    assert q.awaitTermination(300)

    rows = sink.read(STREAM_DRIFT_TABLE).collect()
    # the two 12k batches are distinguished by drift outcome
    drifted_rows = [r for r in rows if r["n_rows"] == 12000 and r["drifted"]]
    clean_rows = [r for r in rows if r["n_rows"] == 12000
                  and not r["drifted"]]
    assert drifted_rows and clean_rows  # one batch drifts, one does not
    small = [r for r in rows if r["n_rows"] == 50]
    assert small and all(r["test"] == "skipped_small_batch" for r in small)


def test_streaming_sessionize_cross_batch(spark, tmp_path):
    """A session spanning two micro-batches closes with the combined
    event set when a past-gap event arrives; the open tail session is
    never emitted; a within-batch gap closes immediately."""
    import time as _time

    from data_validation_spark.streaming.validate import streaming_sessionize
    path = str(tmp_path / "ev")

    def write(rows):
        spark.createDataFrame(rows, "user_id string, ts timestamp, "
                                    "value double") \
            .coalesce(1).write.mode("append").parquet(path)
        _time.sleep(1.1)   # distinct mtimes → deterministic batch order

    from datetime import datetime, timezone

    def t(sec):
        return datetime.fromtimestamp(sec, tz=timezone.utc) \
            .replace(tzinfo=None)

    # batch 1: A has two events 10s apart; C has a within-batch gap
    write([("A", t(0), 1.0), ("A", t(10), 2.0),
           ("C", t(0), 5.0), ("C", t(5000), 7.0)])
    # batch 2: A continues (20s), then jumps past the gap → session 1
    # closes with n=3 spanning both batches
    write([("A", t(20), 4.0), ("A", t(5000), 8.0)])

    stream = (spark.readStream
              .schema("user_id string, ts timestamp, value double")
              .option("maxFilesPerTrigger", "1").parquet(path))
    sess = streaming_sessionize(stream, value_col="value",
                                gap_ms=30 * 60 * 1000)
    q = (sess.writeStream.format("memory").queryName("sess_stream")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)

    rows = {(r["user"], r["session_seq"]): r for r in
            spark.sql("select * from sess_stream").collect()}
    # C's first session closed within batch 1
    c1 = rows[("C", 1)]
    assert (c1["start_us"], c1["end_us"], c1["n_events"],
            c1["sum_value"]) == (0, 0, 1, 5.0)
    # A's first session closed in batch 2 with events from BOTH batches
    a1 = rows[("A", 1)]
    assert (a1["start_us"], a1["end_us"], a1["n_events"]) == \
        (0, 20_000_000, 3)
    assert a1["sum_value"] == 7.0
    # open tails (A@5000s, C@5000s) are not emitted
    assert set(rows) == {("C", 1), ("A", 1)}


def test_streaming_ingest_dedup_accumulates_state(spark, tmp_path):
    """Two drains of a file source: batch 2 must dedup against batch
    1's accumulated fingerprint state, and the corpus table must end
    with exactly one row per distinct content."""
    from data_validation_spark.streaming.validate import (
        INGEST_CORPUS_TABLE, INGEST_REPORT_TABLE, INGEST_STATE_TABLE,
        streaming_ingest_dedup)
    from data_validation_spark.sources.table_provider import TableProvider

    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = TableProvider(spark, str(tmp_path / "out"))
    schema = "doc_id long, text string"

    def drain():
        stream = (spark.readStream.schema(schema)
                  .parquet(str(src)))
        q = streaming_ingest_dedup(stream, sink, checkpoint_dir=ckpt)
        assert q.awaitTermination(120)

    spark.createDataFrame(
        [(1, "content X"), (2, "content Y"), (3, "content  X ")],
        schema).coalesce(1).write.mode("append").parquet(str(src))
    drain()
    spark.createDataFrame(
        [(4, "content Y"), (5, "content Z"), (6, "content Z")],
        schema).coalesce(1).write.mode("append").parquet(str(src))
    drain()

    corpus = {(r.doc_id, r.text.strip().split()[-1]) for r in
              sink.read(INGEST_CORPUS_TABLE).collect()}
    assert corpus == {(1, "X"), (2, "Y"), (5, "Z")}
    # state = one fingerprint per distinct surviving content
    assert sink.read(INGEST_STATE_TABLE).distinct().count() == 3
    reports = sorted(
        ((r.n_batch, r.n_distinct, r.n_seen_in_corpus, r.n_survivors)
         for r in sink.read(INGEST_REPORT_TABLE).collect()))
    assert reports == [(3, 2, 0, 2), (3, 2, 1, 1)]


def test_stream_ordering_kind_per_batch(spark, tmp_path):
    """The `ordering` metric kind rides the same per-batch
    evaluate_constraints route: a batch whose arrivals run backwards
    in event time reds the lateness assertion; an in-order batch
    stays green."""
    path = str(tmp_path / "in")
    # file 1: in order; file 2: reversed event time per user
    ok = [(f"a{i}", "u1", i, "2026-01-01 00:%02d:00" % i)
          for i in range(1, 8)]
    bad = [(f"b{i}", "u1", i, "2026-01-01 00:%02d:00" % (10 - i))
           for i in range(1, 8)]
    df_ok = spark.createDataFrame(
        ok, "doc_id string, u string, arr int, ts_s string") \
        .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df_bad = spark.createDataFrame(
        bad, "doc_id string, u string, arr int, ts_s string") \
        .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df_ok.coalesce(1).write.mode("overwrite").parquet(path)
    df_bad.coalesce(1).write.mode("append").parquet(path)
    schema = spark.read.parquet(path).schema

    suite = ValidationSuite(
        name="stream-ordering",
        constraints=[Constraint("in_order", "ordering",
                                {"key": "u", "arrival": "arr",
                                 "component": "ts",
                                 "max_late_ratio": 0.1})],
        partition_cols=[])
    stream_df = (spark.readStream.schema(schema)
                 .option("maxFilesPerTrigger", "1").parquet(path))
    sink = TableProvider(spark, str(tmp_path / "sink"))
    q = validate_stream(stream_df, suite, sink,
                        checkpoint_dir=str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)

    v = sink.read(STREAM_VERDICTS_TABLE).collect()
    assert len({r["batch_id"] for r in v}) == 2
    # one batch green, one red — per-batch verdicts, not a global one
    assert sorted(r["passed"] for r in v) == [False, True]

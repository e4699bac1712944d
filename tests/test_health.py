"""Table-health diagnostics (operators/health.py): anomaly detection
hits exactly the injected gap/spike, robustness of median/MAD vs the
anomaly itself, skew report ordering/ratios/salt math, and plan cost
(one wide shuffle, broadcast tail)."""

import pytest
from pyspark.sql import functions as F

from data_validation_spark.operators.health import (
    key_skew_report, partition_count_anomalies)


@pytest.fixture(scope="module")
def parts(spark):
    # 2 sources x 10 buckets x 100 rows, then bucket 7 of src_a loses
    # 90% and bucket 3 of src_b triples — the known-by-construction
    # anomalies
    df = spark.range(2000).select(
        F.when(F.col("id") < 1000, "src_a").otherwise("src_b")
        .alias("source"),
        F.pmod(F.col("id"), 10).alias("bucket"),
        F.col("id"))
    return df.filter(~((F.col("source") == "src_a") & (F.col("bucket") == 7)
                       & (F.col("id") >= 100))) \
        .unionAll(df.filter((F.col("source") == "src_b")
                            & (F.col("bucket") == 3)).unionAll(
            df.filter((F.col("source") == "src_b") & (F.col("bucket") == 3))))


def test_detects_exactly_the_injected_anomalies(spark, parts):
    out = partition_count_anomalies(parts, ["source", "bucket"]).collect()
    flagged = {(r.source, r.bucket) for r in out if r.is_anomaly}
    assert flagged == {("src_a", 7), ("src_b", 3)}
    by = {(r.source, r.bucket): r for r in out}
    gap = by[("src_a", 7)]
    assert gap.n_rows == 10 and gap.med == 100.0 and gap.dev == 90.0
    spike = by[("src_b", 3)]
    assert spike.n_rows == 300 and spike.med == 100.0
    # the anomaly itself must not drag the baseline (median, not mean)
    assert all(r.med == 100.0 for r in out)
    assert all(r.mad == 0.0 for r in out)


def test_min_dev_suppresses_noise(spark):
    # counts 10/11/9/10 — never anomalous under min_dev=10
    df = spark.range(40).select(
        F.lit("s").alias("source"),
        F.when(F.col("id") < 10, 0).when(F.col("id") < 21, 1)
        .when(F.col("id") < 30, 2).otherwise(3).alias("bucket"))
    out = partition_count_anomalies(df, ["source", "bucket"]).collect()
    assert not any(r.is_anomaly for r in out)


def test_group_cols_validation(spark, parts):
    with pytest.raises(ValueError, match="proper subset"):
        partition_count_anomalies(parts, ["source"], ["source"])


def test_single_partition_col_global_group(spark, parts):
    out = partition_count_anomalies(
        parts.withColumn("p", F.concat("source", F.lit("/"),
                                       F.col("bucket").cast("string"))),
        ["p"]).collect()
    assert len(out) == 20 and sum(r.is_anomaly for r in out) == 2


def test_skew_report_order_ratio_salt(spark):
    # key 0: 60 rows, key 1: 30, keys 2..11: 1 each -> total 100, 12 keys
    rows = [(0,)] * 60 + [(1,)] * 30 + [(k,) for k in range(2, 12)]
    df = spark.createDataFrame(rows, "k long")
    out = key_skew_report(df, ["k"], top_n=3,
                          shuffle_partitions=10).collect()
    assert [(r.k, r.key_rows) for r in out] == [(0, 60), (1, 30), (2, 1)]
    r0 = out[0]
    assert r0.n_keys == 12 and r0.total_rows == 100
    assert r0.skew_ratio == round(60 / (100 / 12), 6)
    # 60 rows * 10 partitions / 100 total = 6 fair shares -> salt 6
    assert r0.suggested_salt == 6
    assert out[1].suggested_salt == 3
    assert out[2].suggested_salt == 1   # floor clamps to >= 1


def test_skew_ties_break_by_key(spark):
    df = spark.createDataFrame([(5,), (3,), (9,)] * 4, "k long")
    out = key_skew_report(df, ["k"], top_n=3).collect()
    assert [r.k for r in out] == [3, 5, 9]


def test_one_wide_shuffle_only(spark, parts):
    """The table-sized data crosses the wire once; the med/mad tail
    joins are broadcasts over partition-count-sized frames."""
    plan = (partition_count_anomalies(parts, ["source", "bucket"])
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("BroadcastExchange") >= 2
    import re
    wide = len(re.findall(r"Exchange hashpartitioning", plan))
    # counts shuffle + (tiny) group aggregations; no join shuffles
    assert "SortMergeJoin" not in plan


def test_completeness_profile(spark):
    from data_validation_spark.operators.health import completeness_profile
    df = spark.createDataFrame(
        [(1, "a", None), (2, None, None), (3, "c", 1.5), (None, "d", None)],
        "k long, s string, v double")
    out = {r.column: (r.n_rows, r.n_nonnull, r.completeness)
           for r in completeness_profile(df).collect()}
    assert out == {"k": (4, 3, 0.75), "s": (4, 3, 0.75),
                   "v": (4, 1, 0.25)}


def test_pattern_conformance(spark):
    from data_validation_spark.operators.health import pattern_conformance
    df = spark.createDataFrame(
        [("a@b.com", "123"), ("nope", "456"), (None, "12x"),
         ("x@y.org", None)],
        "email string, code string")
    out = {(r.column): (r.n_rows, r.n_null, r.n_match, r.n_violations)
           for r in pattern_conformance(
               df, {"email": r"^[^@\s]+@[^@\s]+\.[a-z]+$",
                    "code": r"^[0-9]+$"}).collect()}
    assert out == {"email": (4, 1, 2, 1), "code": (4, 1, 2, 1)}
    import pytest as _pt
    with _pt.raises(ValueError):
        pattern_conformance(df, {}).collect()


def test_schema_diff(spark):
    from data_validation_spark.operators.health import schema_diff
    a = spark.createDataFrame([(1, "x", 1.0)], "k long, s string, v double")
    b = spark.createDataFrame([(1, "x", 2, True)],
                              "k long, s string, v int, extra boolean")
    out = {r.column: (r.status, r.type_a, r.type_b)
           for r in schema_diff(spark, a, b).collect()}
    assert out == {"v": ("retyped", "double", "int"),
                   "extra": ("added", None, "boolean")}
    # identical schemas -> empty
    assert schema_diff(spark, a, a).count() == 0


def test_group_sample_exact_k(spark):
    from data_validation_spark.operators.sampling import group_sample_exact_k
    from pyspark.sql import functions as F
    df = spark.range(1000).select(
        F.col("id"), F.pmod(F.col("id"), 4).alias("g"))
    out = group_sample_exact_k(df, ["g"], ["id"], k=10)
    counts = {r.g: r["count"] for r in out.groupBy("g").count().collect()}
    assert counts == {0: 10, 1: 10, 2: 10, 3: 10}
    # deterministic: same draw twice; different salt -> different draw
    ids1 = sorted(r.id for r in out.collect())
    ids2 = sorted(r.id for r in
                  group_sample_exact_k(df, ["g"], ["id"], 10).collect())
    ids3 = sorted(r.id for r in
                  group_sample_exact_k(df, ["g"], ["id"], 10,
                                       salt="other").collect())
    assert ids1 == ids2 and ids1 != ids3
    # small group: min(k, size)
    tiny = spark.createDataFrame([(1, 1), (2, 1)], "id long, g long")
    assert group_sample_exact_k(tiny, ["g"], ["id"], 10).count() == 2


def test_rolling_count_anomalies(spark):
    """A level spike against a steady trailing baseline is flagged;
    the warmup period emits NULL verdicts; steady hours do not alarm."""
    import datetime as dt
    from data_validation_spark.operators.health import (
        rolling_count_anomalies)
    t0 = dt.datetime(2026, 1, 1)
    rows = []
    # 30 hours of a steady 50/hour feed, hour 20 spikes to 500
    for h in range(30):
        n = 500 if h == 20 else 50
        rows += [("feed", t0 + dt.timedelta(hours=h, seconds=s % 3600))
                 for s in range(n)]
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    out = {r.bucket_ts.hour + 24 * (r.bucket_ts.day - 1): r
           for r in rolling_count_anomalies(
               df, ["g"], window=12, k=3, min_dev=10,
               min_window=8).collect()}
    assert len(out) == 30
    assert out[20].is_anomaly is True
    assert out[20].n_rows == 500 and out[20].win_n == 12
    # warmup: first 8 buckets have no verdict
    assert all(out[h].is_anomaly is None for h in range(8))
    # steady hours never alarm (including right after the spike, where
    # the spike inflates the trailing variance)
    assert all(out[h].is_anomaly is not True
               for h in range(8, 30) if h != 20)


def test_rolling_anomalies_partition_invariant(spark):
    import datetime as dt
    from data_validation_spark.operators.health import (
        rolling_count_anomalies)
    t0 = dt.datetime(2026, 1, 1)
    rows = [("g", t0 + dt.timedelta(hours=h, minutes=m))
            for h in range(20) for m in range(7 + (h * 13) % 11)]
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    a = sorted(map(tuple, rolling_count_anomalies(
        df.repartition(1), ["g"]).collect()))
    b = sorted(map(tuple, rolling_count_anomalies(
        df.repartition(32), ["g"]).collect()))
    assert a == b


def test_independence_cells(spark):
    """Hand-computed chi2 cells, zero cells included with their E
    contribution, terms sum to the textbook statistic."""
    from data_validation_spark.operators.health import independence_cells
    # 2x2 with a missing cell: (x,1):30 (x,2):10 (y,1):0 (y,2):10
    rows = [("x", 1)] * 30 + [("x", 2)] * 10 + [("y", 2)] * 10
    df = spark.createDataFrame(rows, "a string, b long")
    out = {(r.a, r.b): r for r in independence_cells(df, "a", "b").collect()}
    assert len(out) == 4                       # zero cell present
    z = out[("y", 1)]
    assert z.n_ij == 0 and z.n_i == 10 and z.n_j == 30 and z.n == 50
    # (0 - E)^2/E = E = 10*30/50 = 6
    assert z.chi2_term == 6.0
    import math
    stat = math.fsum(r.chi2_term for r in out.values())
    # textbook chi2 for this table: sum over cells (O-E)^2/E
    exp = {("x", 1): 24.0, ("x", 2): 16.0, ("y", 1): 6.0, ("y", 2): 4.0}
    want = math.fsum((({("x", 1): 30, ("x", 2): 10, ("y", 1): 0,
                        ("y", 2): 10}[c] - e) ** 2) / e
                     for c, e in exp.items())
    assert abs(stat - want) < 1e-9


def test_independence_cells_null_is_a_value(spark):
    """NULL is a value of the row column: its observed cells keep their
    counts, so the cells add up to n."""
    from data_validation_spark.operators.health import independence_cells
    rows = ([("x", 1)] * 3 + [(None, 1)] * 2 + [(None, 2)]
            + [("y", 2)] * 4)
    df = spark.createDataFrame(rows, "a string, b long")
    out = {(r.a, r.b): r for r in independence_cells(df, "a", "b").collect()}
    assert out[(None, 1)].n_ij == 2 and out[(None, 2)].n_ij == 1
    assert sum(r.n_ij for r in out.values()) == 10
    for r in out.values():
        assert r.n == 10
        want = (r.n * r.n_ij - r.n_i * r.n_j) ** 2 / (r.n * r.n_i * r.n_j)
        assert r.chi2_term == round(want, 6)


def test_trend_report_exact_slopes(spark):
    import datetime as dt
    from data_validation_spark.operators.health import trend_report
    t0 = dt.datetime(2026, 1, 1)
    rows = []
    # 'grow': 10, 20, 30, 40 rows on 4 days -> slope exactly 10/day
    for d in range(4):
        rows += [("grow", t0 + dt.timedelta(days=d))] * (10 * (d + 1))
    # 'flat': 7/day for 5 days -> slope 0
    for d in range(5):
        rows += [("flat", t0 + dt.timedelta(days=d))] * 7
    # 'solo': one day -> NULL slope
    rows += [("solo", t0)] * 3
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    out = {r.g: (r.n_days, r.total_rows, r.slope_per_day)
           for r in trend_report(df, ["g"]).collect()}
    assert out["grow"] == (4, 100, 10.0)
    assert out["flat"] == (5, 35, 0.0)
    assert out["solo"] == (1, 3, None)


def test_trend_partition_invariant(spark):
    import datetime as dt
    from data_validation_spark.operators.health import trend_report
    t0 = dt.datetime(2026, 1, 1)
    rows = [("g", t0 + dt.timedelta(days=d, minutes=m))
            for d in range(12) for m in range(3 + (d * 7) % 9)]
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    a = trend_report(df.repartition(1), ["g"]).collect()
    b = trend_report(df.repartition(32), ["g"]).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_sorted_neighborhood_pairs(spark):
    from data_validation_spark.operators.ordering import (
        sorted_neighborhood_pairs)
    import pytest as _pt
    df = spark.createDataFrame([(i, f"v{i:03d}") for i in range(10)],
                               "id long, s string")
    out = sorted_neighborhood_pairs(df, [F.col("s")], ["id"], window=3)
    pairs = sorted((r.id_a, r.id_b) for r in out.collect())
    want = sorted((i, j) for i in range(10) for j in range(10)
                  if 0 < j - i <= 2)
    assert pairs == want                       # n(w-1) - (w-1)w/2 = 17
    assert all(r.pos_b - r.pos_a in (1, 2) for r in out.collect())
    with _pt.raises(ValueError):
        sorted_neighborhood_pairs(df, [F.col("s")], ["id"], window=1)


def test_benford_report(spark):
    import math
    from data_validation_spark.operators.health import (
        BENFORD_P, benford_report)
    # constants are the true log10(1+1/d) to 6dp
    for d, p in BENFORD_P.items():
        assert p == round(math.log10(1 + 1 / d), 6)
    # values engineered per digit: 100x digit-d values -> exact counts;
    # zero/negative/NULL excluded
    rows = ([(float(d * 111.11),) for d in range(1, 10) for _ in range(d)]
            + [(0.0,), (-5.0,), (None,)])
    df = spark.createDataFrame(rows, "x double")
    out = {r.digit: (r.n_obs, r.expected_p) for r in
           benford_report(df, "x").collect()}
    assert {d: c for d, (c, _) in out.items()} == {
        d: d for d in range(1, 10)}
    assert out[1][1] == BENFORD_P[1]
    # chi2 terms reproduce the formula
    n = sum(range(1, 10))
    for r in benford_report(df, "x").collect():
        e = n * BENFORD_P[r.digit]
        assert r.chi2_term == round((r.n_obs - e) ** 2 / e, 6)


def test_distinctness_profile(spark):
    from data_validation_spark.operators.health import distinctness_profile
    rows = [(1, "a", None), (2, "a", None), (3, "b", "x"), (4, "c", "y")]
    df = spark.createDataFrame(rows, "k long, cat string, s string")
    out = {r.column: (r.n_rows, r.n_distinct, r.n_unique,
                      r.distinctness, r.uniqueness)
           for r in distinctness_profile(df, ["k", "cat", "s"]).collect()}
    assert out["k"] == (4, 4, 4, 1.0, 1.0)         # a true key
    assert out["cat"] == (4, 3, 2, 0.75, 0.5)       # 'a' repeats
    # NULL counts as a value: 2 nulls -> distinct {NULL, x, y}
    assert out["s"] == (4, 3, 2, 0.75, 0.5)
    import pytest as _pt
    with _pt.raises(ValueError):
        distinctness_profile(df, [])


def test_distinctness_single_scan_no_cache(spark, tmp_path):
    """All N columns ride ONE grouping-sets scan — not one per column."""
    from data_validation_spark.operators.health import distinctness_profile
    p = str(tmp_path / "t")
    spark.range(100).select(
        F.col("id").alias("a"), (F.col("id") % 10).alias("b"),
        (F.col("id") % 5).alias("c")).write.parquet(p)
    df = spark.read.parquet(p)
    plan = distinctness_profile(df, ["a", "b", "c"])._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "InMemoryTableScan" not in plan


def test_value_shapes(spark):
    from data_validation_spark.operators.health import value_shapes
    rows = [("AB-12",), ("XY-99",), ("cd_3",), (None,), ("AB-13",)]
    df = spark.createDataFrame(rows, "v string")
    out = {r.shape: (r.n_values, r.rank) for r in
           value_shapes(df, "v").collect()}
    assert out == {"A-9": (3, 1), "<null>": (1, 2), "a_9": (1, 3)}


def test_inclusion_check(spark):
    from data_validation_spark.operators.health import inclusion_check
    left = spark.createDataFrame([(1,), (2,), (3,), (3,), (None,)],
                                 "k long")
    right = spark.createDataFrame([(1,), (2,), (9,)], "k long")
    r = inclusion_check(left, "k", right, "k").collect()[0]
    # distinct non-null left values {1,2,3}; {1,2} contained
    assert (r.n_values, r.n_matched) == (3, 2)
    assert r.containment == round(2 / 3, 6)


def test_emd_report_hand_computed(spark):
    from data_validation_spark.operators.health import emd_report
    # group "a": all mass at 0; group "b": all mass at 9; 2 bins over
    # span [0,9].  Global CDF after bin0 = 4/8; a's = 1, b's = 0, so
    # both |CDF diffs| at bin0 are 1/2 and bin1 terms are 0 →
    # emd_norm = (1/2) / 2 bins = 0.25 for each group, symmetric.
    rows = [("a", 0)] * 4 + [("b", 9)] * 4
    df = spark.createDataFrame(rows, "g string, x long")
    out = {r.g: r for r in emd_report(df, "g", "x", n_bins=2).collect()}
    assert out["a"].emd_norm == 0.25 and out["b"].emd_norm == 0.25
    assert out["a"].n_g == 4 and out["a"].n_all == 8


def test_emd_zero_for_identical_distribution(spark):
    from data_validation_spark.operators.health import emd_report
    # both groups carry the SAME values → per-group CDF == global CDF
    rows = [(g, v) for g in ("a", "b") for v in range(100)]
    df = spark.createDataFrame(rows, "g string, x long")
    for r in emd_report(df, "g", "x", n_bins=16).collect():
        assert r.emd_norm == 0.0


def test_emd_orders_shift_distance_and_skips_nulls(spark):
    from data_validation_spark.operators.health import emd_report
    # base uniform [0,100); "near" shifted +10, "far" shifted +50.
    # The global mix centers at 69.5, so distance-to-global ranks
    # far (99.5) > base (49.5) > near (59.5) > 0; a NULL row must not
    # change any count.
    rows = ([("base", v) for v in range(0, 100)]
            + [("near", v + 10) for v in range(0, 100)]
            + [("far", v + 50) for v in range(0, 100)]
            + [("base", None)])
    df = spark.createDataFrame(rows, "g string, x long")
    out = {r.g: r for r in emd_report(df, "g", "x", n_bins=30).collect()}
    assert out["base"].n_g == 100          # NULL excluded
    assert out["far"].emd_norm > out["base"].emd_norm > 0.0
    assert out["base"].emd_norm > out["near"].emd_norm > 0.0


def test_emd_constant_column_and_bad_bins(spark):
    from data_validation_spark.operators.health import emd_report
    import pytest as _pt
    # degenerate span (all values equal): every row lands in bin 0,
    # every group matches the global → 0 distance, no div-by-zero
    df = spark.createDataFrame([("a", 5), ("b", 5), ("b", 5)],
                               "g string, x long")
    for r in emd_report(df, "g", "x", n_bins=8).collect():
        assert r.emd_norm == 0.0
    with _pt.raises(ValueError):
        emd_report(df, "g", "x", n_bins=1)


# -- iqr_outlier_report ------------------------------------------------

def test_iqr_textbook(spark):
    """Hand-computed quartiles + fences: 11 values, 2 below, 1 above."""
    from data_validation_spark.operators.health import iqr_outlier_report
    vals = [-100, -100, 1, 2, 3, 4, 5, 6, 7, 8, 1000]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    r = iqr_outlier_report(df, ["x"]).collect()[0]
    # n=11: q1 = 3rd smallest (ceil(11/4)=3) = 1; q3 = 9th = 7
    assert (r.n_rows, r.q1, r.q3) == (11, 1, 7)
    # k=3/2: below iff 2v < 5*1-3*7 = -16; above iff 2v > 5*7-3*1 = 32
    assert (r.n_below, r.n_above) == (2, 1)
    assert r.outlier_ratio == round(3 / 11, 6)
    assert r.n_null == 0


def test_iqr_nulls_and_constant(spark):
    from data_validation_spark.operators.health import iqr_outlier_report
    rows = [(v, 5) for v in [-100, -100, 1, 2, 3, 4, 5, 6, 7, 8, 1000]]
    rows += [(None, 5), (None, None)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = {r.column: r for r in iqr_outlier_report(df, ["x", "y"])
           .collect()}
    assert out["x"].n_null == 2 and out["x"].n_rows == 11
    assert (out["x"].q1, out["x"].q3) == (1, 7)   # NULLs don't shift
    y = out["y"]                                   # constant: iqr = 0
    assert (y.q1, y.q3) == (5, 5)
    assert (y.n_below, y.n_above) == (0, 0)
    assert y.n_null == 1 and y.n_rows == 12


def test_iqr_matches_numpy_definition(spark):
    """Random ints vs the same discrete order-statistic definition."""
    import numpy as np
    from data_validation_spark.operators.health import iqr_outlier_report
    rng = np.random.RandomState(7)
    vals = rng.randint(-500, 500, size=999).tolist()
    df = spark.createDataFrame([(int(v),) for v in vals], "x long")
    r = iqr_outlier_report(df, ["x"], k_num=3, k_den=2).collect()[0]
    s = sorted(vals)
    n = len(s)
    q1, q3 = s[-(-n // 4) - 1], s[-(-3 * n // 4) - 1]
    assert (r.q1, r.q3) == (q1, q3)
    below = sum(1 for v in s if 2 * v < 5 * q1 - 3 * q3)
    above = sum(1 for v in s if 2 * v > 5 * q3 - 3 * q1)
    assert (r.n_below, r.n_above) == (below, above)


def test_iqr_single_scan(spark):
    """The melt reads the input once, and its (column, value) collapse
    is consumed once: no persist, no join back onto it."""
    from data_validation_spark.operators.health import iqr_outlier_report
    df = spark.range(100).select(F.col("id").alias("a"),
                                 (F.col("id") * 2).alias("b"))
    plan = iqr_outlier_report(df, ["a", "b"])._jdf.queryExecution() \
        .executedPlan().toString()
    # quartiles, fence counts and null counts all come from one pass
    # over the collapse, never re-derived from the input
    assert plan.count("Range (") == 1
    assert "InMemoryTableScan" not in plan and "Join" not in plan


# -- join_explosion_report ---------------------------------------------------

def test_join_explosion_full_accounting(spark):
    from data_validation_spark.operators.health import join_explosion_report
    fact = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("b",), ("b",), ("c",)], "k string")
    dim = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1), ("d", 9), ("d", 8), ("d", 7)],
        "k string, v int")
    rows = join_explosion_report(fact, dim, on=["k"]).collect()
    # matched keys a (3x2=6) and b (2x1=2); c fact-only; d dim-only
    assert [(r.k, r.fact_rows, r.dim_rows, int(r.out_rows))
            for r in rows] == [("a", 3, 2, 6), ("b", 2, 1, 2)]
    s = rows[0]
    assert (s.n_fact_rows, s.n_dim_rows) == (6, 6)
    assert (s.n_matched_keys, s.n_fact_only_keys, s.n_dim_only_keys) \
        == (2, 1, 1)
    assert (s.fact_rows_orphaned, s.dim_rows_orphaned) == (1, 3)
    assert int(s.est_out_rows) == 8
    # 8 * 1e6 div 6 = 1_333_333 (truncating div, never decimal round)
    assert int(s.amplification_micro) == 1_333_333


def test_join_explosion_dim_key_rename_and_topn(spark):
    from data_validation_spark.operators.health import join_explosion_report
    fact = spark.createDataFrame(
        [(k, i) for k in range(20) for i in range(k + 1)],
        "k int, i int")
    dim = spark.createDataFrame([(k,) for k in range(20)], "dk int")
    rows = join_explosion_report(fact, dim, on=["k"], dim_on=["dk"],
                                 top_n=3).collect()
    # every dim key unique -> out_rows == fact_rows; top-3 = 19,18,17
    assert [r.k for r in rows] == [19, 18, 17]
    assert rows[0].dim_rows == 1 and int(rows[0].out_rows) == 20
    assert int(rows[0].est_out_rows) == sum(k + 1 for k in range(20))
    # exact join size == fact rows here -> amplification exactly 1e6
    assert int(rows[0].amplification_micro) == 1_000_000


def test_join_explosion_disjoint_keys_keeps_summary(spark):
    """Fully disjoint key sets = the WORST join-health case: zero
    matched keys must still emit the summary row (NULL key, orphan
    counts, est_out_rows=0), not an empty report."""
    from data_validation_spark.operators.health import join_explosion_report
    fact = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    dim = spark.createDataFrame([("x", 1), ("y", 2)], "k string, v int")
    rows = join_explosion_report(fact, dim, on=["k"]).collect()
    assert len(rows) == 1
    s = rows[0]
    assert s.k is None and s.fact_rows is None and s.out_rows is None
    assert (s.n_fact_rows, s.n_dim_rows) == (3, 2)
    assert (s.n_matched_keys, s.n_fact_only_keys, s.n_dim_only_keys) \
        == (0, 2, 2)
    assert (s.fact_rows_orphaned, s.dim_rows_orphaned) == (3, 2)
    assert int(s.est_out_rows) == 0 and int(s.amplification_micro) == 0


def test_join_explosion_est_matches_real_join(spark):
    """est_out_rows is the EXACT inner-join row count, not a guess."""
    from data_validation_spark.operators.health import join_explosion_report
    fact = spark.range(200).select((F.col("id") % 13).alias("k"))
    dim = spark.range(50).select((F.col("id") % 7).alias("k"))
    rep = join_explosion_report(fact, dim, on=["k"]).collect()[0]
    assert int(rep.est_out_rows) == fact.join(dim, "k").count()


# -- missingness_report ------------------------------------------------------

def test_missingness_phi_known_values(spark):
    from data_validation_spark.operators.health import missingness_report
    # a,b nulls perfectly together; c independent-ish; d never null
    rows = []
    for i in range(8):
        a = None if i < 4 else i
        b = None if i < 4 else i * 2
        c = None if i % 2 == 0 else i
        rows.append((a, b, c, i))
    df = spark.createDataFrame(rows, "a int, b int, c int, d int")
    out = {(r.col_a, r.col_b): r
           for r in missingness_report(df, ["a", "b", "c", "d"]).collect()}
    ab = out[("a", "b")]
    assert (ab.null_a, ab.null_b, ab.both_null) == (4, 4, 4)
    assert ab.phi == 1.0                      # always together
    assert ab.expected_both_micro == 2_000_000  # 4*4*1e6 div 8
    # d never null -> phi undefined, never a guess
    assert out[("a", "d")].phi is None
    ac = out[("a", "c")]
    assert ac.both_null == 2 and abs(ac.phi) < 1e-9  # independent


def test_missingness_perfect_negative(spark):
    from data_validation_spark.operators.health import missingness_report
    rows = [(None, 1), (None, 2), (3, None), (4, None)]
    df = spark.createDataFrame(rows, "a int, b int")
    r = missingness_report(df, ["a", "b"]).collect()[0]
    assert r.both_null == 0 and r.phi == -1.0


def test_missingness_single_pass(spark):
    from data_validation_spark.operators.health import missingness_report
    df = spark.range(50).select(
        F.when(F.col("id") % 3 == 0, F.col("id")).alias("a"),
        F.when(F.col("id") % 5 == 0, F.col("id")).alias("b"),
        F.when(F.col("id") % 7 == 0, F.col("id")).alias("c"))
    plan = missingness_report(df, ["a", "b", "c"])._jdf \
        .queryExecution().executedPlan().toString()
    assert "Join" not in plan          # pairs unfold from ONE agg row
    assert plan.count("Scan") <= 1


# -- event_order_report ------------------------------------------------------

def test_event_order_known_lateness(spark):
    from data_validation_spark.operators.health import event_order_report
    # arrival order per key; ts in seconds -> lateness vs running max
    rows = [
        ("u1", 1, 100), ("u1", 2, 200), ("u1", 3, 150),  # late 50s
        ("u1", 4, 300), ("u1", 5, 299),                  # late 1s
        ("u2", 1, 10), ("u2", 2, 20),                    # in order
    ]
    df = spark.createDataFrame(rows, "k string, arr int, sec long") \
        .select("k", "arr",
                F.timestamp_seconds(F.col("sec")).alias("ts"))
    r = event_order_report(df, "k", "ts", "arr").collect()[0]
    assert (r.n_events, r.n_late) == (7, 2)
    assert r.max_lateness_us == 50_000_000
    # lateness ms values {1000, 50000}: p50 -> 1000, p99 -> 50000
    assert r.p50_lateness_ms == 1_000
    assert r.p99_lateness_ms == 50_000
    assert r.suggested_watermark_ms == 50_000
    assert r.late_ratio == round(2 / 7, 6)


def test_event_order_in_order_feed(spark):
    from data_validation_spark.operators.health import event_order_report
    rows = [("u", i, i * 10) for i in range(20)]
    df = spark.createDataFrame(rows, "k string, arr int, sec long") \
        .select("k", "arr",
                F.timestamp_seconds(F.col("sec")).alias("ts"))
    r = event_order_report(df, "k", "ts", "arr").collect()[0]
    assert (r.n_late, r.suggested_watermark_ms) == (0, 0)
    assert r.p99_lateness_ms is None
    assert r.max_lateness_us == 0


def test_event_order_ceiling_bucket_covers_micros(spark):
    from data_validation_spark.operators.health import event_order_report
    # 1500us late -> bucket ceil(1500/1000)=2 -> p99 = 2ms (covers it)
    rows = [("u", 1, 10_000_000), ("u", 2, 9_998_500)]
    df = spark.createDataFrame(rows, "k string, arr int, us long") \
        .select("k", "arr",
                F.timestamp_micros(F.col("us")).alias("ts"))
    r = event_order_report(df, "k", "ts", "arr").collect()[0]
    assert r.max_lateness_us == 1500
    assert r.p99_lateness_ms == 2


# -- suggest_types ------------------------------------------------------------

def test_suggest_types_ladder(spark):
    from data_validation_spark.operators.health import suggest_types
    rows = [("1", "1.5", "true", "2024-01-02", "2024-01-02 03:04:05",
             "abc", "7"),
            ("-42", "2e3", "FALSE", "2024-02-03", "2024-02-03T04:05:06.7",
             "8", None)]
    df = spark.createDataFrame(
        rows, "i string, d string, b string, dt string, ts string, "
              "s string, m string")
    out = {r.column: r for r in suggest_types(df).collect()}
    assert out["i"].suggested_type == "bigint"
    assert out["d"].suggested_type == "double"
    assert out["b"].suggested_type == "boolean"
    assert out["dt"].suggested_type == "date"
    assert out["ts"].suggested_type == "timestamp"
    assert out["s"].suggested_type == "string"      # mixed 'abc'/'8'
    # nulls don't demote: the single non-null '7' is bigint
    assert out["m"].suggested_type == "bigint"
    assert out["m"].n_null == 1
    # ints also match the double shape — ladder must pick bigint
    assert out["i"].n_double == 2 and out["i"].n_bigint == 2


def test_suggest_types_single_stray_demotes(spark):
    from data_validation_spark.operators.health import suggest_types
    vals = [(str(i),) for i in range(99)] + [("N/A",)]
    df = spark.createDataFrame(vals, "x string")
    r = suggest_types(df).collect()[0]
    assert r.suggested_type == "string"
    assert r.n_bigint == 99 and r.n_rows == 100


def test_suggest_types_all_null_is_string(spark):
    from data_validation_spark.operators.health import suggest_types
    df = spark.createDataFrame([(None,), (None,)], "x string")
    r = suggest_types(df).collect()[0]
    assert r.suggested_type == "string" and r.n_null == 2


# -- cast_landing -------------------------------------------------------------

def test_cast_landing_types_and_quarantine(spark):
    from data_validation_spark.operators.health import cast_landing
    rows = [("1", "1.5", "2024-01-02", "ok"),
            ("2", "oops", "2024-02-03", "ok"),      # double fails
            ("x", "2.5", "bad-date", "ok"),         # two failures
            (None, None, None, "ok")]               # nulls pass through
    df = spark.createDataFrame(rows, "i string, d string, dt string, "
                                     "s string")
    typed, quar = cast_landing(df, {"i": "bigint", "d": "double",
                                    "dt": "date"})
    t = typed.collect()
    assert [str(f.dataType) for f in typed.schema.fields] \
        == ["LongType()", "DoubleType()", "DateType()", "StringType()"]
    assert len(t) == 2                 # clean row + all-null row
    q = {tuple(r["errors"]): r for r in quar.collect()}
    assert ("d",) in q and ("i", "dt") in q
    # quarantined rows keep the RAW landing values
    assert q[("d",)].d == "oops"


def test_cast_landing_infers_when_unpinned(spark):
    from data_validation_spark.operators.health import cast_landing
    df = spark.createDataFrame([("1",), ("2",), ("3",)], "x string")
    typed, quar = cast_landing(df)
    assert str(typed.schema["x"].dataType) == "LongType()"
    assert quar.count() == 0


# -- fd_discovery_report -----------------------------------------------------

def test_fd_discovery_known_dependencies(spark):
    from data_validation_spark.operators.health import fd_discovery_report
    # zip -> city holds; city -> zip violated (one city, two zips);
    # id unique -> id determines everything, nothing determines id
    rows = [(1, "10001", "nyc"), (2, "10002", "nyc"),
            (3, "10001", "nyc"), (4, "94110", "sf")]
    df = spark.createDataFrame(rows, "id int, zip string, city string")
    out = {(r.determinant, r.dependent): r for r in
           fd_discovery_report(df, ["id", "zip", "city"]).collect()}
    assert len(out) == 6
    assert out[("zip", "city")].holds
    assert out[("zip", "city")].n_det_keys == 3
    assert not out[("city", "zip")].holds
    assert out[("city", "zip")].n_violating_keys == 1       # nyc
    assert out[("city", "zip")].n_violating_rows == 3       # 3 nyc rows
    # 1 violating key of 2 -> exactly 500000 micro
    assert out[("city", "zip")].violation_micro == 500_000
    assert out[("id", "zip")].holds and out[("id", "city")].holds
    assert not out[("zip", "id")].holds and not out[("city", "id")].holds


def test_fd_discovery_null_is_a_value(spark):
    from data_validation_spark.operators.health import fd_discovery_report
    # det key 'a' maps to {x, NULL} -> inconsistent (2 observed
    # states); NULL det key maps consistently to 'z' -> holds; and the
    # string 'null' must not collide with real NULL
    rows = [("a", "x"), ("a", None), (None, "z"), (None, "z"),
            ("null", "y")]
    df = spark.createDataFrame(rows, "k string, v string")
    out = {(r.determinant, r.dependent): r for r in
           fd_discovery_report(df, ["k", "v"]).collect()}
    r = out[("k", "v")]
    assert r.n_det_keys == 3                  # 'a', NULL, 'null'
    assert r.n_violating_keys == 1 and r.n_violating_rows == 2
    assert not r.holds


def test_fd_discovery_near_fd_tolerance(spark):
    from data_validation_spark.operators.health import fd_discovery_report
    # 1 violating key of 100 -> 10000 micro: near-FD at 1% tolerance
    rows = [(i, i % 100, i % 100) for i in range(1000)] + [(9999, 0, 1)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    strict = {(r.determinant, r.dependent): r for r in
              fd_discovery_report(df, ["a", "b"]).collect()}
    assert not strict[("a", "b")].holds
    loose = {(r.determinant, r.dependent): r for r in
             fd_discovery_report(df, ["a", "b"],
                                 max_violation_micro=10_000).collect()}
    assert loose[("a", "b")].holds
    assert loose[("a", "b")].violation_micro == 10_000


def test_fd_discovery_guards(spark):
    import pytest
    from data_validation_spark.operators.health import fd_discovery_report
    df = spark.createDataFrame([(1, [1])], "a int, b array<int>")
    with pytest.raises(ValueError, match="non-atomic"):
        fd_discovery_report(df, ["a", "b"])
    with pytest.raises(ValueError, match=">= 2"):
        fd_discovery_report(df, ["a"])
    with pytest.raises(ValueError, match="missing"):
        fd_discovery_report(df, ["a", "nope"])
    wide = spark.range(1).select(
        *[F.col("id").alias(f"c{i}") for i in range(13)])
    with pytest.raises(ValueError, match="pre-select"):
        fd_discovery_report(wide, [f"c{i}" for i in range(13)])


def test_fd_discovery_single_scan_no_cache(spark, tmp_path):
    """All pair collapses ride ONE grouping-sets scan; both FD
    directions explode from it — no persist, no second scan."""
    from data_validation_spark.operators.health import fd_discovery_report
    p = str(tmp_path / "t")
    spark.range(100).select(
        F.col("id").alias("a"), (F.col("id") % 10).alias("b"),
        (F.col("id") % 5).alias("c")).write.parquet(p)
    df = spark.read.parquet(p)
    plan = fd_discovery_report(df, ["a", "b", "c"])._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "InMemoryTableScan" not in plan and "Join" not in plan


# -- candidate_key_report ----------------------------------------------------

def test_candidate_key_known_structure(spark):
    from data_validation_spark.operators.health import candidate_key_report
    # id unique+null-free = key; (a,b) unique; a,b alone not; a has a
    # NULL so even a unique a would be is_unique but never is_key
    rows = [(1, "x", 10), (2, "x", 20), (3, "y", 10), (4, None, 30)]
    df = spark.createDataFrame(rows, "id int, a string, b int")
    out = {r.key_cols: r for r in
           candidate_key_report(df, ["id", "a", "b"]).collect()}
    assert len(out) == 6                     # 3 singles + 3 pairs
    assert out["id"].is_key and out["id"].is_unique
    assert out["id"].n_distinct == 4 and out["id"].n_rows == 4
    assert not out["a"].is_unique            # 'x' twice
    assert out["a"].n_distinct == 3          # 'x','y',NULL — a value
    assert out["a"].n_null_key_rows == 1
    assert not out["b"].is_unique            # 10 twice
    assert out["a,b"].is_unique              # all combos distinct
    assert not out["a,b"].is_key             # NULL member row
    # (id,a) is unique but its NULL-member row disqualifies it as a
    # declarable key; (id,b) is NULL-free and unique -> key
    assert out["id,a"].is_unique and not out["id,a"].is_key
    assert out["id,b"].is_key
    assert out["b"].uniqueness_micro == 750_000    # 3 of 4


def test_candidate_key_single_scan_no_cache(spark, tmp_path):
    from data_validation_spark.operators.health import candidate_key_report
    p = str(tmp_path / "t")
    spark.range(100).select(
        F.col("id").alias("a"), (F.col("id") % 10).alias("b")).write \
        .parquet(p)
    df = spark.read.parquet(p)
    plan = candidate_key_report(df, ["a", "b"])._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "InMemoryTableScan" not in plan and "Join" not in plan


def test_candidate_key_guards(spark):
    import pytest
    from data_validation_spark.operators.health import candidate_key_report
    df = spark.createDataFrame([(1, [1])], "a int, b array<int>")
    with pytest.raises(ValueError, match="non-atomic"):
        candidate_key_report(df, ["a", "b"])
    with pytest.raises(ValueError, match=">= 1"):
        candidate_key_report(df, [])

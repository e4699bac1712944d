"""Metric-assertion constraint kinds (deequ hasSize / hasMean /
hasDistinctness / hasPattern / freshness family): pattern is row-level
and rides the fused pass; stat_bounds / row_count / freshness /
distinctness are verdict-only set-level assertions — no violation rows,
a breach is one failed verdict, missing evidence fails CLOSED."""

import pytest

from data_validation_spark.operators.constraints import (
    as_of_micros,
    evaluate_constraints,
    metric_breach,
)
from data_validation_spark.plans.runner import (
    VIOLATIONS_TABLE,
    run_validation,
)
from data_validation_spark.plans.suite import (
    Component,
    Constraint,
    ValidationSuite,
)
from data_validation_spark.sources.table_provider import TableProvider


@pytest.fixture(scope="module")
def mdf(spark):
    rows = [("d1", [1, 2, 3], 3, "web", "2026-01-05"),
            ("d2", [4, 5], 2, "web", "2026-01-06"),
            ("d2", [9], 1, "api", "2025-06-01"),
            ("D3!", [7, 8], 2, "api", "2025-06-02"),
            (None, [1], 1, "api", "2025-06-03")]
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, "
              "source string, day string").cache()


def _suite(constraints, components=None, pcols=("source",)):
    return ValidationSuite(
        name="metric-suite",
        components=components if components is not None else
        [Component("n_tok", "numeric"),
         Component("len_tokens", "numeric", extractor="size(tokens)"),
         Component("source", "categoric")],
        constraints=constraints,
        partition_cols=list(pcols))


def _verdict(res, partition, name):
    return next(v for v in res.verdicts
                if v["partition"] == partition and v["constraint"] == name)


# -- pattern (row-level) ----------------------------------------------------

def test_pattern_rides_fused_pass_and_materializes_rows(spark, mdf,
                                                        tmp_path):
    suite = _suite([Constraint("id_shape", "pattern",
                               {"component": "doc_id",
                                "pattern": "^[a-z][0-9]+$"})])
    res = run_validation(spark, mdf, suite)
    assert _verdict(res, "source=api", "id_shape")["n_violations"] == 1
    assert _verdict(res, "source=web", "id_shape")["passed"]

    # NULL is not a pattern violation (not_null's job), "D3!" is
    sink = TableProvider(spark, str(tmp_path / "sink"))
    res2 = run_validation(spark, mdf, suite, sink=sink, resume=False)
    rows = sink.read(VIOLATIONS_TABLE).collect()
    assert res2.n_violation_rows == 1
    assert [r["doc_id"] for r in rows] == ["D3!"]


def test_pattern_casts_non_string_values(spark, mdf):
    suite = _suite([Constraint("ntok_digit", "pattern",
                               {"component": "n_tok", "pattern": "^[12]$"})])
    res = run_validation(spark, mdf, suite)
    # web: n_tok 3 fails, 2 passes; api: 1,2,1 all pass
    assert _verdict(res, "source=web", "ntok_digit")["n_violations"] == 1
    assert _verdict(res, "source=api", "ntok_digit")["passed"]


def test_pattern_over_derived_component_uses_extractor(spark, mdf):
    suite = _suite([Constraint("len_shape", "pattern",
                               {"component": "len_tokens",
                                "pattern": "^[123]$"})])
    # len_tokens extractor = size(tokens): lengths 3,2 / 1,2,1 — all match
    res = run_validation(spark, mdf, suite)
    assert all(v["passed"] for v in res.verdicts)


# -- stat_bounds --------------------------------------------------------------

def test_stat_bounds_per_partition_from_profile(spark, mdf):
    suite = _suite([
        Constraint("mean_ntok", "stat_bounds",
                   {"component": "n_tok", "stat": "mean",
                    "min": 1.0, "max": 2.0}),
        Constraint("max_len", "stat_bounds",
                   {"component": "len_tokens", "stat": "max", "max": 10}),
    ])
    res = run_validation(spark, mdf, suite)
    # web mean 2.5 breaches [1,2]; api mean 4/3 passes
    assert not _verdict(res, "source=web", "mean_ntok")["passed"]
    assert _verdict(res, "source=api", "mean_ntok")["passed"]
    assert _verdict(res, "source=web", "max_len")["passed"]
    # metric breaches count as ONE verdict violation, never rows
    assert _verdict(res, "source=web", "mean_ntok")["n_violations"] == 1


def test_stat_bounds_missing_stat_fails_closed(spark):
    # a single-row partition has no sample std — the assertion cannot be
    # proven, so it fails (fail-closed), never silently passes
    df = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 5.0)],
                               "grp string, x double")
    suite = ValidationSuite(
        name="s", components=[Component("x", "numeric")],
        constraints=[Constraint("x_std", "stat_bounds",
                                {"component": "x", "stat": "std",
                                 "max": 100.0})],
        partition_cols=["grp"])
    res = run_validation(spark, df, suite)
    assert _verdict(res, "grp=a", "x_std")["passed"]
    assert not _verdict(res, "grp=b", "x_std")["passed"]


def test_stat_bounds_pinv_and_n(spark):
    df = spark.createDataFrame(
        [(1.0,), (None,), (2.0,), (float("nan"),)], "x double")
    suite = ValidationSuite(
        name="s", components=[Component("x", "numeric")],
        constraints=[
            Constraint("x_pinv", "stat_bounds",
                       {"component": "x", "stat": "pinv", "max": 0.4}),
            Constraint("x_n", "stat_bounds",
                       {"component": "x", "stat": "n", "min": 4, "max": 4}),
        ])
    res = run_validation(spark, df, suite)
    # pinv = 2/4 (NULL + NaN both invalid) > 0.4 → breach; n = 4 exact
    assert not _verdict(res, "<global>", "x_pinv")["passed"]
    assert _verdict(res, "<global>", "x_n")["passed"]


def test_stat_bounds_nan_and_pinv_agree_on_every_path(spark):
    """stat_bounds follows the profile's value rules on every path:
    min/max/mean/std skip NULL and NaN, pinv counts NULL or NaN for a
    numeric component and NULL only for a categoric one.  Unscoped and
    scoped run_validation and evaluate_constraints give one answer."""
    df = spark.createDataFrame(
        [("a", 1.0, "u"), ("a", float("nan"), None), ("a", 3.0, "NaN"),
         ("b", 1.0, "v"), ("b", 1.5, "w")],
        "grp string, x double, c string")
    checks = [("x_mean", {"component": "x", "stat": "mean", "max": 1.5}),
              ("x_max", {"component": "x", "stat": "max", "max": 3.0}),
              ("x_pinv", {"component": "x", "stat": "pinv", "max": 0.2}),
              ("c_pinv", {"component": "c", "stat": "pinv", "max": 0.5})]
    # a: mean over (1, 3) = 2.0 breaches; max 3.0 holds; pinv(x) = 1/3
    # breaches; pinv(c) = 1/3 holds ("NaN" is a category, not a NULL)
    want = {("grp=a", "x_mean"): False, ("grp=a", "x_max"): True,
            ("grp=a", "x_pinv"): False, ("grp=a", "c_pinv"): True,
            ("grp=b", "x_mean"): True, ("grp=b", "x_max"): True,
            ("grp=b", "x_pinv"): True, ("grp=b", "c_pinv"): True}
    comps = [Component("x", "numeric"), Component("c", "categoric")]
    for where in (None, "true"):
        suite = ValidationSuite(
            name="s", components=comps, partition_cols=["grp"],
            constraints=[Constraint(n, "stat_bounds",
                                    {**p, **({"where": where} if where
                                             else {})})
                         for n, p in checks])
        res = run_validation(spark, df, suite)
        got = {(v["partition"], v["constraint"]): v["passed"]
               for v in res.verdicts}
        assert got == want, where
        ev = {(r["partition"], r["constraint"]): r["passed"]
              for r in evaluate_constraints(df, suite).verdicts.collect()}
        assert ev == want, where


# -- row_count / freshness ----------------------------------------------------

def test_row_count_bounds(spark, mdf):
    suite = _suite([Constraint("big_enough", "row_count", {"min": 3}),
                    Constraint("not_huge", "row_count", {"max": 2})])
    res = run_validation(spark, mdf, suite)
    assert not _verdict(res, "source=web", "big_enough")["passed"]  # 2 < 3
    assert _verdict(res, "source=api", "big_enough")["passed"]      # 3
    assert _verdict(res, "source=web", "not_huge")["passed"]
    assert not _verdict(res, "source=api", "not_huge")["passed"]


def test_freshness_verdicts_and_as_of_forms(spark, mdf):
    iso = Constraint("fresh", "freshness",
                     {"component": "day", "max_age_seconds": 86400 * 40,
                      "as_of": "2026-02-01T00:00:00"})
    res = run_validation(spark, mdf, _suite([iso]))
    assert _verdict(res, "source=web", "fresh")["passed"]   # 2026-01-06
    assert not _verdict(res, "source=api", "fresh")["passed"]  # 2025-06-03

    # epoch-seconds as_of must agree with the ISO form (naive ISO = UTC)
    assert as_of_micros({"as_of": "2026-02-01T00:00:00"}) == \
        as_of_micros({"as_of": 1769904000})


def test_metric_breach_fail_closed_on_none():
    c = Constraint("f", "freshness", {"max_age_seconds": 1, "as_of": 0,
                                      "component": "ts"})
    assert metric_breach(c, None)
    c2 = Constraint("b", "stat_bounds", {"component": "x", "stat": "mean",
                                         "min": 0})
    assert metric_breach(c2, None)
    # a NaN stat (std over ±inf) proves no bound either
    assert metric_breach(c2, float("nan")) and not metric_breach(c2, 1.0)


# -- distinctness -------------------------------------------------------------

def test_distinctness_metrics_and_null_as_value(spark):
    df = spark.createDataFrame(
        [("k1",), ("k1",), ("k2",), (None,), (None,)], "k string")
    base = {"columns": ["k"]}
    suite = ValidationSuite(name="s", components=[], constraints=[
        Constraint("dr", "distinctness",
                   {**base, "metric": "distinct_ratio", "min": 0.7}),
        Constraint("ur", "distinctness",
                   {**base, "metric": "unique_ratio", "min": 0.3}),
    ])
    res = run_validation(spark, df, suite)
    # values: k1×2, k2×1, NULL×2 → distinct 3/5 = 0.6 < 0.7 breach;
    # exactly-once 1/5 = 0.2 < 0.3 breach — NULLs must NOT read unique
    assert not _verdict(res, "<global>", "dr")["passed"]
    assert not _verdict(res, "<global>", "ur")["passed"]

    ok = ValidationSuite(name="s", components=[], constraints=[
        Constraint("dr2", "distinctness",
                   {**base, "metric": "distinct_ratio", "min": 0.5}),
    ])
    res2 = run_validation(spark, df, ok)
    assert _verdict(res2, "<global>", "dr2")["passed"]


# -- parity + concurrency ----------------------------------------------------

def _full_suite():
    return _suite([
        Constraint("id_shape", "pattern",
                   {"component": "doc_id", "pattern": "^[a-z][0-9]+$"}),
        Constraint("mean_ntok", "stat_bounds",
                   {"component": "n_tok", "stat": "mean",
                    "min": 1.0, "max": 2.0}),
        Constraint("big_enough", "row_count", {"min": 3}),
        Constraint("fresh", "freshness",
                   {"component": "day", "max_age_seconds": 86400 * 40,
                    "as_of": "2026-02-01T00:00:00"}),
        Constraint("key_uniq", "distinctness",
                   {"columns": ["doc_id"], "metric": "unique_ratio",
                    "min": 1.0}),
    ])


def test_runner_and_evaluate_constraints_agree(spark, mdf):
    suite = _full_suite()
    res = run_validation(spark, mdf, suite)
    run = evaluate_constraints(mdf, suite)
    ev = sorted(((r["partition"], r["constraint"], int(r["n_violations"]),
                  r["passed"]) for r in run.verdicts.collect()))
    rv = sorted((v["partition"], v["constraint"], int(v["n_violations"]),
                 v["passed"]) for v in res.verdicts)
    assert ev == rv


def test_concurrent_jobs_identical_verdicts(spark, mdf, monkeypatch):
    from data_validation_spark.operators import profile
    suite = _full_suite()
    key = lambda v: (v["partition"], v["constraint"])  # noqa: E731
    monkeypatch.setattr(profile, "CONCURRENT_ACTIONS", 1)
    serial = sorted(run_validation(spark, mdf, suite).verdicts, key=key)
    monkeypatch.setattr(profile, "CONCURRENT_ACTIONS", 4)
    pooled = sorted(run_validation(spark, mdf, suite).verdicts, key=key)
    assert serial == pooled


def test_expr_only_constraints_no_component_key(spark, mdf):
    # regression: expr-without-component used to crash with KeyError
    # (dict.get's default evaluated p["component"] eagerly)
    suite = _suite([
        Constraint("len_pat", "pattern",
                   {"expr": "size(tokens)", "pattern": "^[123]$"}),
        Constraint("fresh_expr", "freshness",
                   {"expr": "cast(day as timestamp)",
                    "max_age_seconds": 86400 * 40,
                    "as_of": "2026-02-01T00:00:00"}),
    ])
    res = run_validation(spark, mdf, suite)
    assert _verdict(res, "source=web", "len_pat")["passed"]
    assert not _verdict(res, "source=api", "fresh_expr")["passed"]


# -- schema pre-flight --------------------------------------------------------

def test_preflight_rejects_bad_metric_params(spark, mdf):
    cases = [
        (Constraint("p", "pattern", {"component": "doc_id"}),
         "needs 'pattern'"),
        (Constraint("s", "stat_bounds",
                    {"component": "nope", "stat": "mean", "min": 0}),
         "must name a suite component"),
        (Constraint("s2", "stat_bounds",
                    {"component": "n_tok", "stat": "median", "min": 0}),
         "'stat' must be one of"),
        (Constraint("s3", "stat_bounds",
                    {"component": "source", "stat": "mean", "min": 0}),
         "needs a numeric component"),
        (Constraint("s4", "stat_bounds",
                    {"component": "n_tok", "stat": "mean"}),
         "needs 'min' or 'max'"),
        (Constraint("rc", "row_count", {}), "needs 'min' or 'max'"),
        (Constraint("f", "freshness",
                    {"component": "day", "max_age_seconds": 1,
                     "as_of": "not-a-date"}), "not an ISO-8601"),
        (Constraint("f2", "freshness", {"component": "day"}),
         "needs 'max_age_seconds'"),
        (Constraint("d", "distinctness", {"metric": "distinct_ratio",
                                          "min": 0}), "needs 'columns'"),
        (Constraint("d2", "distinctness",
                    {"columns": ["doc_id"], "metric": "entropy",
                     "min": 0}), "'metric' must be one of"),
        (Constraint("d3", "distinctness",
                    {"columns": ["ghost"], "min": 0}), "missing"),
    ]
    for con, frag in cases:
        errs = _suite([con]).schema_errors(mdf)
        assert errs and any(frag in e for e in errs), (con.name, errs)


def test_preflight_accepts_good_metric_suite(spark, mdf):
    assert _full_suite().schema_errors(mdf) == []


# -- ordering (out-of-order arrival assertion) --------------------------------

def _odf(spark):
    rows = [
        # partition p1: u1 arrives 100,200,150 -> 1 late of 3 (50s max)
        ("p1", "u1", 1, 100), ("p1", "u1", 2, 200), ("p1", "u1", 3, 150),
        # partition p2: in order
        ("p2", "u2", 1, 10), ("p2", "u2", 2, 20),
    ]
    df = spark.createDataFrame(rows, "part string, u string, arr int, "
                                     "sec long")
    from pyspark.sql import functions as F
    return df.select("part", "u", "arr",
                     F.timestamp_seconds(F.col("sec")).alias("ts"))


def test_ordering_kind_per_partition_verdicts(spark):
    df = _odf(spark)
    suite = ValidationSuite(
        name="ord", components=[], partition_cols=["part"],
        constraints=[
            Constraint("mostly_ordered", "ordering",
                       {"key": "u", "arrival": "arr", "component": "ts",
                        "max_late_ratio": 0.25}),
            Constraint("late_ok", "ordering",
                       {"key": "u", "arrival": "arr", "component": "ts",
                        "max_late_ratio": 0.5}),
            Constraint("lateness_cap", "ordering",
                       {"key": "u", "arrival": "arr", "component": "ts",
                        "max_lateness_seconds": 40}),
        ])
    res = run_validation(spark, df, suite)
    # p1: late_micro = 333333 (1/3) > 0.25 -> fail; <= 0.5 -> pass;
    # max 50s > 40s cap -> fail.  p2: everything passes.
    assert not _verdict(res, "part=p1", "mostly_ordered")["passed"]
    assert _verdict(res, "part=p1", "late_ok")["passed"]
    assert not _verdict(res, "part=p1", "lateness_cap")["passed"]
    for name in ("mostly_ordered", "late_ok", "lateness_cap"):
        assert _verdict(res, "part=p2", name)["passed"]

    run = evaluate_constraints(df, suite)
    ev = sorted(((r["partition"], r["constraint"], r["passed"])
                 for r in run.verdicts.collect()))
    rv = sorted((v["partition"], v["constraint"], v["passed"])
                for v in res.verdicts)
    assert ev == rv


def test_ordering_kind_where_scope_and_preflight(spark):
    df = _odf(spark)
    # scope away the late row -> passes
    suite = ValidationSuite(
        name="ord", components=[], partition_cols=["part"],
        constraints=[Constraint("scoped", "ordering",
                                {"key": "u", "arrival": "arr",
                                 "component": "ts",
                                 "max_late_ratio": 0.0,
                                 "where": "arr <= 2"})])
    res = run_validation(spark, df, suite)
    assert all(v["passed"] for v in res.verdicts)

    bad = ValidationSuite(
        name="ord", components=[], partition_cols=[],
        constraints=[Constraint("b", "ordering",
                                {"key": "nope", "arrival": "arr",
                                 "component": "ts"})])
    errs = bad.schema_errors(df)
    assert any("key column" in e for e in errs)
    assert any("max_late_ratio" in e for e in errs)

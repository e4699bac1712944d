"""`where`-scoped constraints (deequ's analyzer scope option): every
kind but drift accepts ``params["where"]`` — a boolean SQL expression
restricting the check to rows where it is TRUE.  Row-level scopes
conjoin inside the fused pass, scoped metric stats ride the shared
metric scan as conditional aggregates, set-level scopes filter before
the operator (predicate pushdown).  A scope never adds a table pass."""

import pytest

from data_validation_spark.operators.constraints import (
    evaluate_constraints,
    split_valid_invalid,
)
from data_validation_spark.plans.runner import run_validation
from data_validation_spark.plans.suite import (
    Component,
    Constraint,
    ValidationSuite,
)

# grp='a' is the usual scope; r3/r4 carry breaches OUTSIDE it that a
# scope-blind evaluator would flag.
ROWS = [
    # doc_id grp  val   key   src     day
    ("a1", "a", 5,    "k1", "web",  "2026-01-05"),
    ("a2", "a", 50,   "k2", "web",  "2026-01-06"),   # bounds breach, in scope
    ("b1", "b", 500,  "k3", "api",  "2020-01-01"),   # breach, OUT of scope
    ("b2", "b", 7,    "k4", "BAD",  "2020-01-02"),   # bad src, OUT of scope
    ("a3", "a", None, "k4", "web",  "2026-01-07"),   # null val in scope
    ("a4", "a", 6,    "k5", "BADX", "2026-01-08"),   # bad src, in scope
    ("a5", "a", 8,    "k5", "web",  "2026-01-09"),   # k5 dup within scope
]
SCHEMA = ("doc_id string, grp string, val int, key string, "
          "src string, day string")


@pytest.fixture(scope="module")
def wdf(spark):
    df = spark.createDataFrame(ROWS, SCHEMA).cache()
    df.count()
    return df


def _suite(constraints):
    return ValidationSuite(
        name="where-suite",
        components=[Component("val", "numeric")],
        constraints=constraints,
        partition_cols=[])


def _verdict(res, name):
    return next(v for v in res.verdicts if v["constraint"] == name)


def test_row_level_scope_ignores_out_of_scope_breaches(spark, wdf):
    suite = _suite([Constraint("val_hi", "bounds",
                               {"component": "val", "max": 10,
                                "where": "grp = 'a'"})])
    res = run_validation(spark, wdf, suite)
    # only a2 (50) — b1's 500 is out of scope
    assert _verdict(res, "val_hi")["n_violations"] == 1

    run = evaluate_constraints(wdf, suite)
    assert [r["doc_id"] for r in run.violations.collect()] == ["a2"]


def test_unique_scope_counts_dups_within_scope_only(spark, wdf):
    suite = _suite([Constraint("key_uniq", "unique",
                               {"keys": ["key"], "where": "grp = 'a'"})])
    res = run_validation(spark, wdf, suite)
    # k4 appears once in scope (its other row is grp='b'); k5 twice in
    # scope -> exactly the two k5 rows
    assert _verdict(res, "key_uniq")["n_violations"] == 2
    run = evaluate_constraints(wdf, suite)
    assert sorted(r["doc_id"] for r in run.violations.collect()) \
        == ["a4", "a5"]


def test_referential_scope_inline_and_antijoin_paths(spark, wdf):
    con = Constraint("src_ok", "referential",
                     {"column": "src", "values": ["web", "api"],
                      "where": "grp = 'a'"})
    # run_validation inlines the dim as an isin condition;
    # evaluate_constraints keeps the anti-join — both must honor the
    # scope (only a4's BADX; b2's BAD is out of scope)
    res = run_validation(spark, wdf, _suite([con]))
    assert _verdict(res, "src_ok")["n_violations"] == 1
    run = evaluate_constraints(wdf, _suite([con]))
    assert [r["doc_id"] for r in run.violations.collect()] == ["a4"]


def test_completeness_ratio_over_scope(spark, wdf):
    # in-scope completeness of val = 4/5 = 0.8; global = 6/7 ≈ 0.857.
    # min_ratio 0.85 trips ONLY under the scope — and flags only the
    # in-scope null row.
    suite = _suite([Constraint("val_complete", "completeness",
                               {"component": "val", "min_ratio": 0.85,
                                "where": "grp = 'a'"})])
    run = evaluate_constraints(wdf, suite)
    assert [r["doc_id"] for r in run.violations.collect()] == ["a3"]

    unscoped = _suite([Constraint("val_complete", "completeness",
                                  {"component": "val",
                                   "min_ratio": 0.85})])
    assert evaluate_constraints(wdf, unscoped).violations.count() == 0


def test_row_count_floor_on_slice(spark, wdf):
    suite = _suite([
        Constraint("b_floor3", "row_count", {"min": 3,
                                             "where": "grp = 'b'"}),
        Constraint("b_floor2", "row_count", {"min": 2,
                                             "where": "grp = 'b'"}),
        Constraint("c_floor", "row_count", {"min": 1,
                                            "where": "grp = 'c'"}),
    ])
    res = run_validation(spark, wdf, suite)
    assert not _verdict(res, "b_floor3")["passed"]   # 2 < 3
    assert _verdict(res, "b_floor2")["passed"]
    # empty slice measures 0 (a real measurement, not missing evidence)
    assert not _verdict(res, "c_floor")["passed"]


def test_stat_bounds_scoped_mean_uses_metric_scan(spark, wdf):
    # scoped mean over grp='a' = (5+50+6+8)/4 = 17.25; global ≈ 96.
    # The runner may NOT read the (unscoped) fused profile for this.
    suite = _suite([Constraint("a_mean", "stat_bounds",
                               {"component": "val", "stat": "mean",
                                "min": 10, "max": 20,
                                "where": "grp = 'a'"})])
    res = run_validation(spark, wdf, suite)
    assert _verdict(res, "a_mean")["passed"]


def test_freshness_judged_over_scope(spark, wdf):
    p = {"expr": "cast(day as timestamp)", "max_age_seconds": 86400 * 40,
         "as_of": "2026-02-01T00:00:00"}
    suite = _suite([
        Constraint("a_fresh", "freshness", {**p, "where": "grp = 'a'"}),
        Constraint("b_fresh", "freshness", {**p, "where": "grp = 'b'"}),
    ])
    res = run_validation(spark, wdf, suite)
    assert _verdict(res, "a_fresh")["passed"]        # max 2026-01-09
    assert not _verdict(res, "b_fresh")["passed"]    # max 2020-01-02


def test_distinctness_over_scope(spark, wdf):
    # in-scope keys k1,k2,k4,k5,k5 -> 4/5 = 0.8; global 5/7 ≈ 0.714
    suite = _suite([Constraint("key_distinct", "distinctness",
                               {"columns": ["key"], "min": 0.75,
                                "where": "grp = 'a'"})])
    res = run_validation(spark, wdf, suite)
    assert _verdict(res, "key_distinct")["passed"]
    unscoped = _suite([Constraint("key_distinct", "distinctness",
                                  {"columns": ["key"], "min": 0.75})])
    res2 = run_validation(spark, wdf, unscoped)
    assert not _verdict(res2, "key_distinct")["passed"]


def test_split_valid_invalid_honors_scope(spark, wdf):
    suite = _suite([Constraint("val_hi", "bounds",
                               {"component": "val", "max": 10,
                                "where": "grp = 'a'"})])
    clean, quarantined = split_valid_invalid(wdf, suite)
    assert sorted(r["doc_id"] for r in quarantined.collect()) == ["a2"]
    assert "b1" in {r["doc_id"] for r in clean.collect()}


def test_preflight_rejects_bad_scopes(spark, wdf):
    non_bool = _suite([Constraint("v", "bounds",
                                  {"component": "val", "max": 10,
                                   "where": "val"})])
    errs = non_bool.schema_errors(wdf)
    assert any("not boolean" in e for e in errs)

    on_drift = _suite([Constraint("d", "drift",
                                  {"component": "val",
                                   "where": "grp = 'a'"})])
    errs = on_drift.schema_errors(wdf)
    assert any("not supported on drift" in e for e in errs)

    unresolvable = _suite([Constraint("v", "bounds",
                                      {"component": "val", "max": 10,
                                       "where": "no_such_col = 1"})])
    assert any("does not resolve" in e
               for e in unresolvable.schema_errors(wdf))


def test_runner_and_evaluate_agree_on_scoped_suite(spark, wdf):
    suite = _suite([
        Constraint("val_hi", "bounds", {"component": "val", "max": 10,
                                        "where": "grp = 'a'"}),
        Constraint("key_uniq", "unique", {"keys": ["key"],
                                          "where": "grp = 'a'"}),
        Constraint("src_ok", "referential",
                   {"column": "src", "values": ["web", "api"],
                    "where": "grp = 'a'"}),
        Constraint("val_complete", "completeness",
                   {"component": "val", "min_ratio": 0.85,
                    "where": "grp = 'a'"}),
        Constraint("a_mean", "stat_bounds",
                   {"component": "val", "stat": "mean", "min": 10,
                    "max": 20, "where": "grp = 'a'"}),
        Constraint("b_floor", "row_count", {"min": 3,
                                            "where": "grp = 'b'"}),
        Constraint("b_fresh", "freshness",
                   {"expr": "cast(day as timestamp)",
                    "max_age_seconds": 86400 * 40,
                    "as_of": "2026-02-01T00:00:00",
                    "where": "grp = 'b'"}),
        Constraint("key_distinct", "distinctness",
                   {"columns": ["key"], "min": 0.75,
                    "where": "grp = 'a'"}),
    ])
    res = run_validation(spark, wdf, suite)
    run = evaluate_constraints(wdf, suite)
    ev = sorted(((r["partition"], r["constraint"], int(r["n_violations"]),
                  r["passed"]) for r in run.verdicts.collect()))
    rv = sorted((v["partition"], v["constraint"], int(v["n_violations"]),
                 v["passed"]) for v in res.verdicts)
    assert ev == rv


def test_conditional_fd_via_where_scope(spark):
    """fd + where = a conditional functional dependency (CFD): the
    dependency only has to hold on the scoped slice."""
    rows = [
        # inside scope (US): zip -> city holds except 99999
        ("US", "10001", "NYC"), ("US", "10001", "NYC"),
        ("US", "99999", "A"), ("US", "99999", "B"),
        # outside scope: zip 10001 maps elsewhere — must NOT count
        ("DE", "10001", "Berlin"),
    ]
    df = spark.createDataFrame(rows, "country string, zip string, "
                                     "city string")
    suite = ValidationSuite(
        name="cfd-suite", components=[],
        constraints=[Constraint("zip_city_cfd", "fd",
                                {"determinant": ["zip"],
                                 "dependent": "city",
                                 "where": "country = 'US'"})],
        partition_cols=[])
    run = evaluate_constraints(df, suite)
    viol = run.violations.collect()
    # only the two in-scope 99999 rows violate; DE's 10001 neither
    # violates nor poisons US 10001
    assert sorted((r.zip, r.city) for r in viol) \
        == [("99999", "A"), ("99999", "B")]
    res = run_validation(spark, df, suite)
    assert _verdict(res, "zip_city_cfd")["n_violations"] == 2

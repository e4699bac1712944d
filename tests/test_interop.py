"""Great Expectations suite import (plans/interop.py): faithful
mapping or loud failure — never a silently dropped check."""

import pytest

from data_validation_spark.plans.interop import from_great_expectations
from data_validation_spark.plans.runner import run_validation

GE = {
    "expectation_suite_name": "orders_suite",
    "expectations": [
        {"expectation_type": "expect_column_values_to_not_be_null",
         "kwargs": {"column": "doc_id"}},
        {"expectation_type": "expect_column_values_to_be_between",
         "kwargs": {"column": "val", "min_value": 0, "max_value": 100}},
        {"expectation_type": "expect_column_values_to_be_in_set",
         "kwargs": {"column": "src", "value_set": ["web", "api"]}},
        {"expectation_type": "expect_column_values_to_match_regex",
         "kwargs": {"column": "doc_id", "regex": "^[a-z][0-9]+$"}},
        {"expectation_type": "expect_column_values_to_be_unique",
         "kwargs": {"column": "doc_id"}},
        {"expectation_type": "expect_table_row_count_to_be_between",
         "kwargs": {"min_value": 2}},
        {"expectation_type": "expect_column_mean_to_be_between",
         "kwargs": {"column": "val", "min_value": 1}},
        {"expectation_type":
         "expect_column_pair_values_A_to_be_greater_than_B",
         "kwargs": {"column_A": "val", "column_B": "lo",
                    "or_equal": True}},
    ],
}


def test_ge_import_maps_every_type_and_runs(spark):
    suite = from_great_expectations(GE)
    assert suite.name == "orders_suite"
    kinds = sorted(c.kind for c in suite.constraints)
    assert kinds == ["bounds", "expression", "in_domain", "not_null",
                     "pattern", "row_count", "stat_bounds", "unique"]

    df = spark.createDataFrame(
        [("a1", 5, "web", 1), ("a2", 200, "ftp", 1), ("a2", 7, "web", 9)],
        "doc_id string, val int, src string, lo int")
    res = run_validation(spark, df, suite, concurrent_jobs=1)
    by = {v["constraint"]: v for v in res.verdicts}
    assert by["expect_column_values_to_be_between_val"]["n_violations"] == 1
    assert by["expect_column_values_to_be_in_set_src"]["n_violations"] == 1
    assert by["expect_column_values_to_be_unique_doc_id"]["n_violations"] == 2
    assert by["expect_table_row_count_to_be_between_5"]["passed"]
    # A>=B fails for the (7, 9) row
    assert by["expect_column_pair_values_A_to_be_greater_than_B_7"][
        "n_violations"] == 1


def test_ge_mostly_maps_or_fails_loud(spark):
    ok = from_great_expectations({"expectations": [
        {"expectation_type": "expect_column_values_to_not_be_null",
         "kwargs": {"column": "x", "mostly": 0.9}}]})
    c = ok.constraints[0]
    assert c.kind == "completeness" and c.params["min_ratio"] == 0.9

    with pytest.raises(ValueError, match="mostly"):
        from_great_expectations({"expectations": [
            {"expectation_type": "expect_column_values_to_be_between",
             "kwargs": {"column": "x", "min_value": 0, "mostly": 0.9}}]})


def test_ge_unmapped_type_fails_loud(spark):
    with pytest.raises(ValueError, match="unmapped"):
        from_great_expectations({"expectations": [
            {"expectation_type": "expect_column_kl_divergence_less_than",
             "kwargs": {"column": "x"}}]})


def test_ge_row_condition_becomes_where(spark):
    suite = from_great_expectations({"expectations": [
        {"expectation_type": "expect_column_values_to_be_between",
         "kwargs": {"column": "val", "max_value": 10,
                    "row_condition": "src = 'web'",
                    "condition_parser": "spark"}}]})
    assert suite.constraints[0].params["where"] == "src = 'web'"
    df = spark.createDataFrame(
        [("web", 5), ("web", 50), ("ftp", 500)], "src string, val int")
    res = run_validation(spark, df, suite, concurrent_jobs=1)
    assert res.verdicts[0]["n_violations"] == 1   # only the web 50

    with pytest.raises(ValueError, match="parser"):
        from_great_expectations({"expectations": [
            {"expectation_type": "expect_column_values_to_be_between",
             "kwargs": {"column": "val", "max_value": 10,
                        "row_condition": 'col("src")=="web"',
                        "condition_parser": "pandas"}}]})


def test_ge_strict_bounds_map_exclusively(spark):
    """strict_min/strict_max must import as EXCLUSIVE comparisons —
    the r4 importer dropped them silently, so boundary values passed a
    migrated check GE would fail."""
    suite = from_great_expectations({"expectations": [
        {"expectation_type": "expect_column_values_to_be_between",
         "kwargs": {"column": "val", "min_value": 0, "max_value": 10,
                    "strict_min": True, "strict_max": True}}]})
    c = suite.constraints[0]
    assert c.kind == "expression"
    df = spark.createDataFrame([(0,), (1,), (10,), (None,)], "val int")
    res = run_validation(spark, df, suite, concurrent_jobs=1)
    # 0 and 10 are now violations (exclusive); NULL passes (GE between
    # never counts NULL unexpected — same as the bounds kind)
    assert res.verdicts[0]["n_violations"] == 2

    # stat-level strict bounds cannot map inclusively -> loud
    with pytest.raises(ValueError, match="strict_min"):
        from_great_expectations({"expectations": [
            {"expectation_type": "expect_column_mean_to_be_between",
             "kwargs": {"column": "val", "min_value": 0,
                        "strict_min": True}}]})


@pytest.mark.parametrize("bound", [float("inf"), float("-inf"),
                                   float("nan")])
def test_ge_nonfinite_strict_bound_fails_loud(bound):
    """A non-finite bound would render as a bare ``inf``/``nan`` that
    Spark SQL cannot parse; the importer must reject it up front."""
    with pytest.raises(ValueError, match="not finite"):
        from_great_expectations({"expectations": [
            {"expectation_type": "expect_column_values_to_be_between",
             "kwargs": {"column": "val", "min_value": bound,
                        "strict_min": True}}]})


def test_ge_unknown_kwarg_and_nonrow_mostly_fail_loud(spark):
    with pytest.raises(ValueError, match="unsupported kwargs"):
        from_great_expectations({"expectations": [
            {"expectation_type": "expect_column_values_to_be_in_set",
             "kwargs": {"column": "x", "value_set": [1],
                        "parse_strings_as_datetimes": True}}]})
    # mostly on a set-level type was silently ignored in r4: a
    # tolerance the migrated suite never honors
    with pytest.raises(ValueError, match="mostly"):
        from_great_expectations({"expectations": [
            {"expectation_type": "expect_column_values_to_be_unique",
             "kwargs": {"column": "x", "mostly": 0.95}}]})


def test_ge_pair_where_null_scope_means_out_of_scope(spark):
    """row_condition on a pair expectation rides params['where'] (the
    engine-wide scope semantics), not a baked 'NOT (w) OR ...': a row
    whose scope evaluates NULL is out of scope — never judged, never a
    fail-closed violation."""
    suite = from_great_expectations({"expectations": [
        {"expectation_type":
         "expect_column_pair_values_A_to_be_greater_than_B",
         "kwargs": {"column_A": "a", "column_B": "b",
                    "row_condition": "flag = 'y'",
                    "condition_parser": "spark"}}]})
    c = suite.constraints[0]
    assert c.params.get("where") == "flag = 'y'"
    df = spark.createDataFrame(
        [("y", 1, 5),      # in scope, a<b -> violation
         ("y", 5, 1),      # in scope, ok
         (None, 1, 5)],    # NULL scope -> out of scope, NOT a violation
        "flag string, a int, b int")
    res = run_validation(spark, df, suite, concurrent_jobs=1)
    assert res.verdicts[0]["n_violations"] == 1


def test_ge_pair_ignore_row_if_policies(spark):
    df_rows = [(1, None), (None, None), (5, 1), (1, 5)]
    counts = {}
    for pol in ("both_values_are_missing", "either_value_is_missing",
                "neither"):
        suite = from_great_expectations({"expectations": [
            {"expectation_type":
             "expect_column_pair_values_A_to_be_greater_than_B",
             "kwargs": {"column_A": "a", "column_B": "b",
                        "ignore_row_if": pol}}]})
        df = spark.createDataFrame(df_rows, "a int, b int")
        res = run_validation(spark, df, suite, concurrent_jobs=1)
        counts[pol] = res.verdicts[0]["n_violations"]
    # (1,5) always fails; (1,None) fails unless either-missing ignores
    # it; (None,None) fails only under "neither"
    assert counts == {"both_values_are_missing": 2,
                      "either_value_is_missing": 1,
                      "neither": 3}

"""One partition label: every per-partition result of run_validation,
evaluate_constraints, resume and incremental revalidation is keyed by
``constraints.partition_label_col`` — booleans ``true``/``false``, a
NULL value ``c=__HIVE_DEFAULT_PARTITION__`` — so each partition appears
under exactly one label whatever its column type."""

import datetime as dt

import pytest

from data_validation_spark.operators.constraints import evaluate_constraints
from data_validation_spark.plans.runner import (
    VIOLATIONS_TABLE,
    run_validation,
    validate_incremental,
)
from data_validation_spark.plans.suite import (
    Component,
    Constraint,
    ValidationSuite,
)
from data_validation_spark.sources.table_provider import TableProvider

D1, D2 = dt.date(2024, 1, 31), dt.date(2024, 2, 1)


@pytest.fixture(scope="module")
def ldf(spark):
    # a NULL x, and ids 3 and 5 twice each, so every constraint has a
    # verdict to give under every partitioning
    rows = [(1, True, "a", 1, D1, 1.0, [1]),
            (2, True, "a", 1, D1, None, [2]),
            (3, False, None, 2, D2, 2.0, [3]),
            (3, False, None, 2, D2, 3.0, [4]),
            (5, True, None, 2, D1, 4.0, [5]),
            (5, False, "a", 1, D2, 5.0, [6])]
    return spark.createDataFrame(
        rows, "id int, flag boolean, s string, n int, day date, x double, "
              "tokens array<int>").cache()


def _suite(pcols):
    return ValidationSuite(
        name="labels", components=[Component("x", "numeric")],
        constraints=[Constraint("x_not_null", "not_null", {"component": "x"}),
                     Constraint("id_unique", "unique", {"keys": ["id"]}),
                     Constraint("rows", "row_count", {"min": 1, "max": 3})],
        partition_cols=pcols)


NULL = "__HIVE_DEFAULT_PARTITION__"
CASES = [
    (["flag"], ["flag=false", "flag=true"]),
    (["s"], [f"s={NULL}", "s=a"]),
    (["n"], ["n=1", "n=2"]),
    (["day"], ["day=2024-01-31", "day=2024-02-01"]),
    (["flag", "s"], [f"flag=false/s={NULL}", "flag=false/s=a",
                     "flag=true/s=a", f"flag=true/s={NULL}"]),
]


def test_each_partition_has_one_label_on_every_path(spark, ldf):
    for pcols, labels in CASES:
        suite = _suite(pcols)
        res = run_validation(spark, ldf, suite)
        got = sorted((v["partition"], v["constraint"], v["n_violations"],
                      v["passed"]) for v in res.verdicts)
        assert sorted({g[0] for g in got}) == sorted(labels), pcols
        assert len(got) == 3 * len(labels), pcols
        assert sorted(res.profile.partitions) == sorted(labels), pcols
        run = evaluate_constraints(ldf, suite)
        ev = sorted((r["partition"], r["constraint"], r["n_violations"],
                     r["passed"]) for r in run.verdicts.collect())
        assert ev == got, pcols
        # every partition has 1 to 3 rows: a row_count verdict that
        # found no measurement under its label would fail closed
        assert all(g[3] for g in got if g[1] == "rows"), pcols
        assert {r["partition"] for r in
                run.violations.select("partition").collect()} <= set(labels)


def test_resume_on_boolean_partition_writes_no_duplicate(spark, ldf,
                                                         tmp_path):
    sink = TableProvider(spark, str(tmp_path))
    suite = _suite(["flag"])
    first = run_validation(spark, ldf.where("flag"), suite, sink=sink)
    assert first.partitions == ["flag=true"]
    second = run_validation(spark, ldf, suite, sink=sink)
    assert second.skipped_partitions == ["flag=true"]
    assert second.partitions == ["flag=false"]
    # run 1: id 2's NULL x; run 2, over flag=false only: the two id-3 rows
    assert (first.n_violation_rows, second.n_violation_rows) == (1, 2)
    assert sink.read(VIOLATIONS_TABLE).count() == 3


def test_incremental_rerun_skips_null_partition(spark, ldf):
    suite = _suite(["s"])
    first = validate_incremental(spark, ldf, suite, None)
    assert first.changed_partitions == [f"s={NULL}", "s=a"]
    again = validate_incremental(spark, ldf, suite, first.checksums)
    assert again.changed_partitions == []


def test_values_holding_slash_equals_or_percent_keep_their_own_label(spark):
    """``/``, ``=`` and ``%`` inside a value are escaped (``%`` first),
    as in Spark's partition directory names, so rows of different
    partitions never share one label."""
    df = spark.createDataFrame(
        [(1, "x", "y/b=z", 1.0), (2, "x/b=y", "z", 2.0),
         (3, "x%2Fb%3Dy", "z", 3.0)],
        "id int, a string, b string, x double")
    suite = _suite(["a", "b"])
    suite.constraints[2] = Constraint("rows", "row_count", {"max": 1})
    res = run_validation(spark, df, suite)
    got = sorted((v["partition"], v["constraint"], v["n_violations"],
                  v["passed"]) for v in res.verdicts)
    assert sorted({g[0] for g in got}) == sorted(
        ["a=x/b=y%2Fb%3Dz", "a=x%2Fb%3Dy/b=z", "a=x%252Fb%253Dy/b=z"])
    assert len(got) == 9 and all(g[3] for g in got)
    run = evaluate_constraints(df, suite)
    assert sorted((r["partition"], r["constraint"], r["n_violations"],
                   r["passed"]) for r in run.verdicts.collect()) == got


def test_uniqueness_counts_label_groups_not_rows(spark, monkeypatch):
    """The counts-only uniqueness plan labels each partition group after
    aggregating: no string concat runs per input row."""
    from pyspark.sql import functions as F

    from data_validation_spark.operators.constraints import (
        uniqueness_violation_counts)
    df = spark.range(300).select(
        (F.col("id") % 250).alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("source"),
        (F.col("id") % 3).alias("bucket"))
    plans, frame_type = [], type(df)
    collect = frame_type.collect

    def spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return collect(self)
    monkeypatch.setattr(frame_type, "collect", spy)
    counts = uniqueness_violation_counts(df, ["doc_id"],
                                         ["source", "bucket"])
    assert sum(counts.values()) == 100
    assert set(counts) <= {f"source={s}/bucket={b}"
                           for s in "ab" for b in range(3)}
    lines = plans[0].splitlines()
    first_agg = max(i for i, ln in enumerate(lines) if "HashAggregate" in ln)
    assert not any("concat" in ln for ln in lines[first_agg:])

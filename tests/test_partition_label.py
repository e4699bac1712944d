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

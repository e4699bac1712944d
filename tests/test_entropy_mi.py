"""Entropy / mutual-information analyzers (deequ hasEntropy / MI):
textbook values pinned exactly, NULL-as-symbol policy, and the
observed-cells-only MI contract."""

import math

from pyspark.sql import functions as F

from data_validation_spark.operators.health import (
    candidate_key_report,
    distinctness_profile,
    entropy_report,
    mutual_information,
)


def test_entropy_textbook_values(spark):
    df = spark.createDataFrame(
        [("a", "x", "k"), ("a", None, "k"), ("b", None, "k"),
         ("b", "x", "k")], "u string, v string, w string")
    rows = {r["column"]: r for r in
            entropy_report(df, ["u", "v", "w"]).collect()}
    # u: 2×a, 2×b → ln 2; norm = 1.0
    assert rows["u"]["entropy_nats"] == round(math.log(2), 6)
    assert rows["u"]["entropy_norm"] == 1.0
    # v: NULL is its own symbol → 2×NULL, 2×x → ln 2 again
    assert rows["v"]["entropy_nats"] == round(math.log(2), 6)
    assert rows["v"]["n_distinct"] == 2
    # w: constant → entropy 0, normalized NULL (never a guess)
    assert rows["w"]["entropy_nats"] == 0.0
    assert rows["w"]["entropy_norm"] is None
    assert all(r["n_rows"] == 4 for r in rows.values())


def test_entropy_skewed_column(spark):
    # 3×a, 1×b: H = ln4 − (3·ln3)/4
    df = spark.createDataFrame([("a",), ("a",), ("a",), ("b",)],
                               "u string")
    r = entropy_report(df, ["u"]).collect()[0]
    expect = round(math.log(4) - 3 * math.log(3) / 4, 6)
    assert r["entropy_nats"] == expect
    assert 0 < r["entropy_norm"] < 1


def test_mutual_information_independent_is_zero(spark):
    # perfectly proportional 2×2 → every cell term ln(1) = 0
    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")],
        "u string, v string")
    cells = mutual_information(df, "u", "v").collect()
    assert len(cells) == 4
    assert all(c["mi_term"] == 0.0 for c in cells)


def test_mutual_information_dependent_sums_to_ln2(spark):
    # v == u over two equiprobable symbols → MI = ln 2
    df = spark.createDataFrame(
        [("a", "a"), ("a", "a"), ("b", "b"), ("b", "b")],
        "u string, v string")
    cells = mutual_information(df, "u", "v").collect()
    # observed cells ONLY: the (a,b)/(b,a) zero cells never appear
    assert len(cells) == 2
    # cells are rounded to 6 dp BEFORE summing: allow 1 ulp per cell
    assert abs(sum(c["mi_term"] for c in cells) - math.log(2)) < 2e-6
    for c in cells:
        assert c["n_ij"] == 2 and c["n_i"] == 2 and c["n_j"] == 2 \
            and c["n"] == 4


def test_mutual_information_null_as_value(spark):
    df = spark.createDataFrame(
        [("a", None), ("a", None), ("b", "x"), ("b", "x")],
        "u string, v string")
    cells = {(c["u"], c["v"]): c for c in
             mutual_information(df, "u", "v").collect()}
    assert ("a", None) in cells
    # deterministic relation again → ln 2 total (± per-cell rounding)
    assert abs(sum(c["mi_term"] for c in cells.values())
               - math.log(2)) < 2e-6


def test_entropy_null_is_not_the_string_null(spark):
    # NULL and the literal '__null__' are two symbols, and every
    # single-column analyzer agrees on the count
    df = spark.createDataFrame([(None,), ("__null__",), ("a",)], "u string")
    ent = entropy_report(df, ["u"]).collect()[0]
    dist = distinctness_profile(df, ["u"]).collect()[0]
    key = candidate_key_report(df, ["u"]).collect()[0]
    assert ent["n_distinct"] == dist["n_distinct"] == key["n_distinct"] == 3
    assert ent["entropy_nats"] == round(math.log(3), 6)


def test_mutual_information_null_is_not_the_string_null(spark):
    # u = NULL and u = '__null__' are two symbols, each determining v
    df = spark.createDataFrame([(None, "p"), ("__null__", "q")],
                               "u string, v string")
    cells = {c["u"]: c for c in mutual_information(df, "u", "v").collect()}
    assert set(cells) == {None, "__null__"}
    assert all(c["n_i"] == 1 and c["n_ij"] == 1 for c in cells.values())
    assert abs(sum(c["mi_term"] for c in cells.values())
               - math.log(2)) < 2e-6


def test_mutual_information_of_a_column_with_itself_is_its_entropy(spark):
    # I(u; u) = H(u), NULL included as a symbol; the repeated column
    # must not count any row twice
    df = spark.createDataFrame([("a",), ("a",), (None,), ("b",)], "u string")
    cells = mutual_information(df, "u", "u").collect()
    assert sum(c["n_ij"] for c in cells) == 4
    h = entropy_report(df, ["u"]).collect()[0]["entropy_nats"]
    assert abs(sum(c["mi_term"] for c in cells) - h) < 3e-6


def test_entropy_one_scan_many_columns(spark):
    # the melt must not multiply scans: one explode over a 3-col select
    df = spark.createDataFrame([("a", "x", 1)], "u string, v string, n int")
    plan = entropy_report(df, ["u", "v"])._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert plan.lower().count("logicalrdd") <= 1

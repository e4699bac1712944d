"""Snapshot diff: identical snapshots are empty-diff; a single changed
row, a deleted row, and a new partition are each pinpointed."""

import pytest
from pyspark.sql import functions as F

from data_validation_spark.operators.parity import (
    snapshot_checksums,
    snapshot_diff,
)


@pytest.fixture(scope="module")
def snap(spark):
    rows = [(i, ["a", "b"][i % 2], list(range(i % 5 + 1)))
            for i in range(100)]
    return spark.createDataFrame(
        rows, "doc_id long, source string, tokens array<int>").cache()


def test_identical_snapshots_empty_diff(snap):
    assert snapshot_diff(snap, snap, "tokens", ["source"]).count() == 0


def test_changed_row_flags_only_its_partition(spark, snap):
    changed = snap.withColumn(
        "tokens", F.when(F.col("doc_id") == 4,
                         F.array(F.lit(99))).otherwise(F.col("tokens")))
    d = snapshot_diff(snap, changed, "tokens", ["source"]).collect()
    assert [r["source"] for r in d] == ["a"]        # doc 4 is source 'a'
    assert d[0]["match"] is False


def test_row_count_and_new_partition(spark, snap):
    dropped = snap.filter(F.col("doc_id") != 7)
    extra = spark.createDataFrame([(999, "c", [1, 2])],
                                  "doc_id long, source string, tokens array<int>")
    d = {r["source"]: r for r in
         snapshot_diff(snap, dropped.unionAll(extra), "tokens",
                       ["source"]).collect()}
    assert set(d) == {"b", "c"}                     # doc 7 was source 'b'
    assert d["b"]["n_rows_with_tokens_a"] == d["b"]["n_rows_with_tokens_b"] + 1
    assert d["c"]["checksum_sum_a"] is None         # only in snapshot b


def test_order_insensitive(spark, snap):
    shuffled = snap.orderBy(F.rand(seed=1)).repartition(7)
    assert snapshot_diff(snap, shuffled, "tokens", ["source"]).count() == 0


def test_row_diff_statuses_and_columns(spark):
    from data_validation_spark.operators.parity import row_diff
    a = spark.createDataFrame(
        [(1, "en", 10), (2, "de", 20), (3, "fr", 30), (4, None, 40)],
        "k long, lang string, n long")
    b = spark.createDataFrame(
        [(1, "en", 10),            # unchanged -> absent
         (2, "xx", 25),            # changed: lang + n
         (4, "it", 40),            # changed: NULL -> value counts
         (5, "es", 50)],           # added
        "k long, lang string, n long")
    out = {r.k: (r.status, list(r.changed_cols))
           for r in row_diff(a, b, ["k"]).collect()}
    assert out == {
        2: ("changed", ["lang", "n"]),
        3: ("removed", []),
        4: ("changed", ["lang"]),
        5: ("added", []),
    }


def test_row_diff_explicit_compare_cols(spark):
    from data_validation_spark.operators.parity import row_diff
    a = spark.createDataFrame([(1, "en", 10)], "k long, lang string, n long")
    b = spark.createDataFrame([(1, "de", 10)], "k long, lang string, n long")
    # diffing only n -> the lang change is invisible, row is unchanged
    assert row_diff(a, b, ["k"], compare_cols=["n"]).count() == 0


def test_self_diff_with_null_partition_is_empty(spark):
    """The partition keys join NULL-safely: a NULL partition diffed
    against itself is one matching partition, not two changed ones."""
    from data_validation_spark.operators.parity import checksum_diff
    df = spark.createDataFrame(
        [(1, "a", [1, 2]), (2, None, [3]), (3, None, [4, 5])],
        "doc_id long, source string, tokens array<int>")
    cs = snapshot_checksums(df, "tokens", ["source"])
    assert checksum_diff(cs, cs, ["source"]).count() == 0
    both = checksum_diff(cs, cs, ["source"], include_matching=True)
    assert both.columns == [
        "source", "checksum_sum_a", "n_rows_with_tokens_a", "n_tokens_a",
        "checksum_sum_b", "n_rows_with_tokens_b", "n_tokens_b", "match"]
    assert sorted((r["source"] or "", r["n_tokens_a"], r["match"])
                  for r in both.collect()) == [("", 3, True),
                                               ("a", 2, True)]

"""Unit tests for the driver-side stat/drift math (no Spark needed)."""

import math

import numpy as np
import pytest

from data_validation_spark.functions.drift import (
    chi2_drift,
    chi2_sf,
    gammainc_upper,
    ks_drift,
    psi_drift,
)
from data_validation_spark.functions.stats import (
    merge_numeric_partials,
    merge_quantile_vectors,
    pooled_mean_std,
    topk_by_count,
)
from data_validation_spark.plans.suite import QUANTILE_PROBS


def test_pooled_mean_std_matches_numpy():
    rng = np.random.default_rng(0)
    groups = [rng.normal(i, 1 + i, size=50 + 10 * i) for i in range(5)]
    ns = np.array([len(g) for g in groups], dtype=float)
    means = np.array([g.mean() for g in groups])
    stds = np.array([g.std(ddof=1) for g in groups])
    mean, std = pooled_mean_std(ns, means, stds)
    allv = np.concatenate(groups)
    assert mean == pytest.approx(allv.mean(), rel=1e-12)
    assert std == pytest.approx(allv.std(ddof=1), rel=1e-12)


def test_merge_quantile_vectors_mixture():
    rng = np.random.default_rng(1)
    a = np.sort(rng.normal(0, 1, 4000))
    b = np.sort(rng.normal(5, 2, 8000))
    qa = np.percentile(a, range(101)).tolist()
    qb = np.percentile(b, range(101)).tolist()
    merged = merge_quantile_vectors([len(a), len(b)], [qa, qb])
    exact = np.percentile(np.concatenate([a, b]), range(101))
    err = np.abs(np.array(merged) - exact)
    assert merged[0] == min(a.min(), b.min())
    assert merged[-1] == max(a.max(), b.max())
    assert err[1:-1].max() < (exact.max() - exact.min()) * 0.01


def test_merge_numeric_partials_with_empty_partition():
    rows = [
        {"n": 10, "n_invalid": 2, "min": 1.0, "max": 5.0, "mean": 3.0,
         "std": 1.0, "quantiles": np.linspace(1, 5, 101).tolist()},
        {"n": 3, "n_invalid": 3, "min": None, "max": None, "mean": None,
         "std": None, "quantiles": None},
    ]
    m = merge_numeric_partials(rows)
    assert m["n"] == 13 and m["n_invalid"] == 5
    assert m["min"] == 1.0 and m["max"] == 5.0
    assert m["mean"] == pytest.approx(3.0)


# --- incomplete gamma / chi-squared, checked against published values ---

@pytest.mark.parametrize("x,dof,expected", [
    (3.841, 1, 0.05), (5.991, 2, 0.05), (7.815, 3, 0.05),
    (9.488, 4, 0.05), (6.635, 1, 0.01), (13.277, 4, 0.01),
    (2.706, 1, 0.10), (18.307, 10, 0.05),
])
def test_chi2_sf_table_values(x, dof, expected):
    assert chi2_sf(x, dof) == pytest.approx(expected, abs=5e-4)


def test_gammainc_upper_bounds():
    assert gammainc_upper(2.5, 0.0) == 1.0
    assert gammainc_upper(2.5, 1e6) == pytest.approx(0.0, abs=1e-12)


def test_chi2_drift_detects_reweighted_histogram():
    ref = {"web": 0.7, "books": 0.15, "code": 0.1, "wiki": 0.05}
    same = {k: int(v * 10000) for k, v in ref.items()}
    moved = {"web": 5500, "books": 1500, "code": 2500, "wiki": 500}
    assert not chi2_drift(same, ref).drifted
    assert chi2_drift(moved, ref).drifted
    # a category absent from the reference is a strong signal
    assert chi2_drift({**same, "BADSRC": 100}, ref).drifted


def test_ks_drift_from_quantile_vectors():
    a = np.percentile(np.random.default_rng(2).normal(0, 1, 20000),
                      range(101)).tolist()
    b = np.percentile(np.random.default_rng(3).normal(0.5, 1, 20000),
                      range(101)).tolist()
    r_same = ks_drift(a, a)
    assert r_same.statistic == 0.0 and not r_same.drifted
    r = ks_drift(a, b)
    # true KS distance for N(0,1) vs N(0.5,1) is ~0.197
    assert r.statistic == pytest.approx(0.197, abs=0.03)
    assert r.drifted


def test_psi_drift():
    a = np.percentile(np.random.default_rng(4).normal(0, 1, 20000),
                      range(101)).tolist()
    b = np.percentile(np.random.default_rng(5).normal(1.0, 1, 20000),
                      range(101)).tolist()
    assert not psi_drift(a, a).drifted
    assert psi_drift(b, a).drifted


def test_topk_deterministic_on_ties():
    freq = {"b": 5, "a": 5, "c": 9, "d": 1}
    assert topk_by_count(freq, 3) == [("c", 9), ("a", 5), ("b", 5)]


# ------------------------------------------------- pearson_corr_matrix

def test_corr_matrix_exact_and_numpy_parity(spark):
    import numpy as np
    from data_validation_spark.functions.stats import pearson_corr_matrix
    rng = np.random.default_rng(11)
    x = rng.integers(0, 1000, 500)
    y = 3 * x + 7                      # corr exactly 1
    z = rng.integers(0, 1000, 500)     # ~independent
    c = np.full(500, 42)               # zero variance
    df = spark.createDataFrame(
        [(int(a), int(b), int(e), int(f)) for a, b, e, f in
         zip(x, y, z, c)], "x long, y long, z long, c long")
    out = {(r.col_a, r.col_b): r.corr for r in
           pearson_corr_matrix(df, ["x", "y", "z", "c"]).collect()}
    assert out[("x", "y")] == 1.0
    assert out[("x", "c")] is None and out[("y", "c")] is None
    want = round(float(np.corrcoef(x, z)[0, 1]), 6)
    assert abs(out[("x", "z")] - want) < 2e-6


def test_corr_matrix_partition_invariant(spark):
    """Decimal moments are summation-order-proof: any partitioning
    gives the BIT-identical result."""
    import numpy as np
    from data_validation_spark.functions.stats import pearson_corr_matrix
    rng = np.random.default_rng(5)
    rows = [(int(a), int(b)) for a, b in
            rng.integers(0, 10**6, size=(2000, 2))]
    a = spark.createDataFrame(rows, "x long, y long").repartition(1)
    b = spark.createDataFrame(rows, "x long, y long").repartition(32)
    ra = pearson_corr_matrix(a, ["x", "y"]).collect()[0].corr
    rb = pearson_corr_matrix(b, ["x", "y"]).collect()[0].corr
    assert ra == rb


def test_weighted_quantiles_exact(spark):
    from data_validation_spark.functions.stats import weighted_quantiles
    # value 1 w=1, value 2 w=1, value 10 w=8 -> W=10:
    # p25 -> ceil(2.5)=3rd unit -> 10; p50 -> 10; p10 -> 1
    df = spark.createDataFrame([(1, 1), (2, 1), (10, 8)],
                               "v int, w int")
    r = weighted_quantiles(df, "v", "w", quantiles=(10, 20, 25, 50)) \
        .collect()[0]
    assert (r.total_weight, r.n_values) == (10, 3)
    assert (r.p10, r.p20, r.p25, r.p50) == (1, 2, 10, 10)


def test_weighted_quantiles_uniform_weight_matches_unweighted(spark):
    from data_validation_spark.functions.stats import weighted_quantiles
    vals = list(range(1, 101))
    df = spark.createDataFrame([(v, 1) for v in vals], "v int, w int")
    r = weighted_quantiles(df, "v", "w").collect()[0]
    # discrete lower-quantile convention: p50 of 1..100 = 50
    assert (r.p25, r.p50, r.p75, r.p99) == (25, 50, 75, 99)


def test_weighted_quantiles_rejects_nonpositive(spark):
    import pytest
    from data_validation_spark.functions.stats import weighted_quantiles
    df = spark.createDataFrame([(1, 0)], "v int, w int")
    with pytest.raises(ValueError, match="non-positive"):
        weighted_quantiles(df, "v", "w")


def test_weighted_quantiles_rejects_null_and_fractional_weights(spark):
    """A NULL weight would silently vanish from sum() (NULL<=0 is NULL,
    so the old guard missed it) and a fractional weight would silently
    floor under cast('long') — 1.7 contributing 1 while the docstring
    claims 'exact'.  Both must fail loud with the pre-scale hint."""
    import pytest
    from data_validation_spark.functions.stats import weighted_quantiles
    null_w = spark.createDataFrame([(1, 2), (2, None)],
                                   "v int, w int")
    with pytest.raises(ValueError, match="NULL"):
        weighted_quantiles(null_w, "v", "w")
    frac_w = spark.createDataFrame([(1, 1.7)], "v int, w double")
    with pytest.raises(ValueError, match="cast\\(w \\* 1e6"):
        weighted_quantiles(frac_w, "v", "w")
    # 0.5 floors to 0: must be reported as bad input, not crash later
    half_w = spark.createDataFrame([(1, 0.5)], "v int, w double")
    with pytest.raises(ValueError, match="non-integral"):
        weighted_quantiles(half_w, "v", "w")
    # integral-VALUED doubles are fine (2.0 == 2 exactly)
    ok = spark.createDataFrame([(1, 1.0), (10, 9.0)], "v int, w double")
    r = weighted_quantiles(ok, "v", "w", quantiles=(50,)).collect()[0]
    assert (r.total_weight, r.p50) == (10, 10)


def test_weighted_quantiles_rejects_uncastable_weight(spark):
    """Without ANSI, a weight that casts to NULL ('abc' as long) makes
    every guard predicate NULL; the post-cast NULL check must still
    reject it instead of letting the row vanish from sum()."""
    import pytest
    from data_validation_spark.functions.stats import weighted_quantiles
    df = spark.createDataFrame([(1, "2"), (2, "abc")], "v int, w string")
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(ValueError, match="'abc'.*NULL"):
            weighted_quantiles(df, "v", "w")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_weighted_quantiles_cardinality_guard(spark):
    """The cumsum window's reducer holds one (group's) distinct-value
    set; a continuous double column must raise loudly (bucketize.py
    house pattern), never silently become a one-task sort."""
    import pytest
    from data_validation_spark.functions.stats import weighted_quantiles
    df = spark.createDataFrame([(i / 7.0, 1) for i in range(100)],
                               "v double, w int")
    with pytest.raises(Exception, match="quantize the metric"):
        weighted_quantiles(df, "v", "w", max_distinct=10).collect()
    # grouped path guards PER-GROUP distinct cardinality: 2 groups x
    # 50 distinct values each passes a cap of 50 (global would be 100)
    rows = [("a", i, 1) for i in range(50)] + [("b", i, 1)
                                              for i in range(50)]
    gdf = spark.createDataFrame(rows, "g string, v int, w int")
    out = weighted_quantiles(gdf, "v", "w", quantiles=(50,),
                             group_cols=["g"], max_distinct=50).collect()
    assert len(out) == 2
    with pytest.raises(Exception, match="within a group"):
        weighted_quantiles(gdf, "v", "w", group_cols=["g"],
                           max_distinct=49).collect()


def test_weighted_quantiles_per_group(spark):
    from data_validation_spark.functions.stats import weighted_quantiles
    rows = [("a", v, 1) for v in range(1, 11)] \
        + [("b", 5, 9), ("b", 100, 1)]
    df = spark.createDataFrame(rows, "g string, v int, w int")
    out = {r.g: r for r in
           weighted_quantiles(df, "v", "w", quantiles=(50, 99),
                              group_cols=["g"]).collect()}
    assert out["a"].p50 == 5 and out["a"].total_weight == 10
    # group b: weight 9 on value 5 -> p50=5; p99 crosses into 100
    assert out["b"].p50 == 5 and out["b"].p99 == 100
    assert out["b"].n_values == 2

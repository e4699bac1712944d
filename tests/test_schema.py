"""Profile build / validate / contrast / serialize — mirrors the
reference's test_schema.py scope (SURVEY.md §5, BASELINE.json:6)."""

import math

import numpy as np
import pytest

from data_validation_spark.operators.contrast import contrast
from data_validation_spark.operators.profile import build_profile
from data_validation_spark.plans.suite import (
    CategoricStats,
    NotBuiltError,
    NumericStats,
    Profile,
    ValidationSuite,
    Component,
    Constraint,
)
from data_validation_spark.sources.sequences import (
    VOCAB_SIZE,
    synth_sequences,
)

PCOLS = ["source", "bucket"]


@pytest.fixture(scope="module")
def profile(sequences, components):
    return build_profile(sequences, components, PCOLS)


def _expected_numeric(sequences, name):
    """(values, n, pinv) computed in numpy: ``n_tok`` itself, or the
    lengths of the non-null ``tokens`` arrays (NULL arrays are invalid)."""
    if name == "n_tok":
        vals = np.array([r["n_tok"] for r in sequences.select("n_tok")
                         .collect()], dtype=float)
        return vals, len(vals), 0.0
    arrs = [r["tokens"] for r in sequences.select("tokens").collect()]
    vals = np.array([len(a) for a in arrs if a is not None], dtype=float)
    return vals, len(arrs), (len(arrs) - len(vals)) / len(arrs)


@pytest.mark.parametrize("name", ["n_tok", "tokens"])
def test_numeric_stats_exact(profile, sequences, name):
    vals, n, pinv = _expected_numeric(sequences, name)
    st = profile.components[name].stats
    assert isinstance(st, NumericStats)
    assert st.n == n
    assert st.min == vals.min()
    assert st.max == vals.max()
    assert st.mean == pytest.approx(vals.mean(), rel=1e-9)
    assert st.std == pytest.approx(vals.std(ddof=1), rel=1e-9)
    assert st.pinv == pytest.approx(pinv, abs=1e-12)
    # merged quantiles (exact histogram for n_tok, mixture-ECDF of the
    # per-partition sketches for tokens) track exact percentiles closely
    # — assert in rank space (the sketch's accuracy contract): the true
    # ECDF evaluated at the reported quantile must be within 2% of p
    got = np.array(st.quantiles)
    assert got[0] == vals.min() and got[-1] == vals.max()
    ranks = np.searchsorted(np.sort(vals), got, side="right") / len(vals)
    assert np.abs(ranks - np.arange(101) / 100).max() <= 0.02
    assert (np.diff(got) >= 0).all()  # monotone


def test_categoric_stats(profile, sequences):
    st = profile.components["source"].stats
    assert isinstance(st, CategoricStats)
    truth = {r["source"]: r["count"]
             for r in sequences.groupBy("source").count().collect()}
    assert st.counts == truth
    assert sum(st.frequencies.values()) == pytest.approx(1.0)
    assert st.pinv == 0.0
    # skew is real: web is the hot source
    assert max(st.frequencies, key=st.frequencies.get) == "web"


def test_tokens_profile(profile, expected_ids):
    st = profile.components["tokens"].stats
    assert st.pinv == pytest.approx(len(expected_ids["null_tokens"]) / st.n)
    assert st.elem_min == 0
    # injected out-of-vocab tokens are visible in the element range
    assert st.elem_max >= VOCAB_SIZE


def test_per_partition_profiles(profile, sequences):
    assert len(profile.partitions) == sequences.select(*PCOLS).distinct().count()
    # per-partition n sums to global n
    total = sum(comps["n_tok"].stats.n
                for comps in profile.partitions.values())
    assert total == profile.components["n_tok"].stats.n
    # every label has the source=... / bucket=... shape
    assert all("/bucket=" in p and p.startswith("source=")
               for p in profile.partitions)


def test_profile_json_roundtrip(profile):
    j = profile.to_json()
    back = Profile.from_json(j)
    assert back.to_json() == j
    assert back.components["source"].stats.counts == \
        profile.components["source"].stats.counts


def test_suite_json_roundtrip(components, profile):
    suite = ValidationSuite(
        name="s", components=components, partition_cols=PCOLS,
        constraints=[Constraint("b", "bounds",
                                {"component": "n_tok", "min": 1, "max": 10})],
        reference=profile)
    back = ValidationSuite.from_json(suite.to_json())
    assert back.to_json() == suite.to_json()


def test_contrast_same_data_no_drift(profile):
    rep = contrast(profile, profile)
    assert not rep.drifted
    for cd in rep.components.values():
        for r in cd.results:
            assert r.statistic == pytest.approx(0.0, abs=1e-9)


def test_contrast_shifted_drifts(spark, components, profile):
    shifted = build_profile(synth_sequences(spark, 2000, shift=True),
                            components)
    rep = contrast(shifted, profile)
    assert rep.drifted
    by = rep.components
    assert any(r.test == "ks" and r.drifted for r in by["n_tok"].results)
    assert any(r.test == "psi" and r.drifted for r in by["n_tok"].results)
    assert any(r.test == "chi2" and r.drifted for r in by["source"].results)


def test_contrast_unbuilt_raises(profile):
    with pytest.raises(NotBuiltError):
        contrast(Profile(name="x"), profile)


def test_extractor_expression_component(sequences):
    """Derived components via SQL extractors (rdv derived Extractor)."""
    comp = Component("log_len", "numeric", extractor="log(n_tok)")
    p = build_profile(sequences, [comp])
    vals = np.log([r["n_tok"] for r in sequences.select("n_tok").collect()])
    assert p.components["log_len"].stats.mean == pytest.approx(vals.mean(), rel=1e-9)
    assert p.components["log_len"].stats.max == pytest.approx(vals.max(), rel=1e-9)


def test_schema_errors_catches_everything(spark):
    """Pre-flight schema check: every mismatch between suite and input
    is listed in plain English; a good suite returns []."""
    from data_validation_spark.plans.suite import (
        Component, Constraint, ValidationSuite)
    df = spark.createDataFrame(
        [(1, "a", 2.0)], "doc_id long, text string, score double")

    good = ValidationSuite(
        name="g",
        components=[Component("score", "numeric"),
                    Component("text", "categoric")],
        constraints=[
            Constraint("b", "bounds", {"component": "score", "min": 0}),
            Constraint("u", "unique", {"keys": ["doc_id"]}),
            Constraint("e", "expression", {"sql": "score >= 0"})],
        partition_cols=[])
    assert good.schema_errors(df) == []

    bad = ValidationSuite(
        name="b",
        components=[Component("text", "numeric"),          # wrong category
                    Component("toks", "tokens",
                              extractor="nope_col"),       # unresolvable
                    ],
        constraints=[
            Constraint("u", "unique", {"keys": ["missing_key"]}),
            Constraint("r", "referential", {"column": "ghost",
                                            "dim": "d"}),
            Constraint("e", "expression", {"sql": "score + 1"}),  # not bool
            Constraint("nn", "not_null", {})],                    # no target
        partition_cols=["no_such_part"])
    errs = bad.schema_errors(df)
    joined = "\n".join(errs)
    assert "partition column 'no_such_part'" in joined
    assert "is numeric but" in joined
    assert "does not resolve" in joined
    assert "key column 'missing_key' missing" in joined
    assert "column 'ghost' missing" in joined
    assert "not boolean" in joined
    assert "needs 'component' or 'expr'" in joined
    assert len(errs) == 7


def test_run_validation_fails_fast_on_schema_mismatch(spark):
    from data_validation_spark.plans.runner import run_validation
    from data_validation_spark.plans.suite import (
        Component, Constraint, ValidationSuite)
    df = spark.createDataFrame([(1,)], "doc_id long")
    suite = ValidationSuite(
        name="s", components=[Component("nope", "numeric")],
        constraints=[Constraint("u", "unique", {"keys": ["doc_id"]})])
    with pytest.raises(ValueError, match="does not match the input schema"):
        run_validation(spark, df, suite, resume=False)


def test_suggest_suite_roundtrip(spark):
    """Suite suggested from a profile of clean data PASSES on that
    data, FLAGS corrupted data, and never guesses a truncated domain."""
    from data_validation_spark.operators.constraints import (
        evaluate_constraints)
    from data_validation_spark.operators.profile import build_profile
    from data_validation_spark.plans.suite import Component, suggest_suite
    from data_validation_spark.sources.sequences import synth_sequences
    from pyspark.sql import functions as F

    df = synth_sequences(spark, 2000).filter(F.col("tokens").isNotNull())
    comps = [Component("n_tok", "numeric"), Component("source", "categoric"),
             Component("tokens", "tokens")]
    prof = build_profile(df, comps)
    suite = suggest_suite(prof, partition_cols=["source"])
    kinds = {c.name: c.kind for c in suite.constraints}
    assert kinds["n_tok_bounds"] == "bounds"
    assert kinds["source_in_domain"] == "in_domain"
    assert kinds["tokens_vocab_bounds"] == "expression"
    assert "n_tok_not_null" in kinds

    # clean data passes every suggested constraint
    run = evaluate_constraints(df, suite)
    assert run.violations.count() == 0

    # corrupted data is flagged by the suggested rules
    bad = df.withColumn(
        "n_tok", F.when(F.pmod(F.crc32("doc_id"), 501) == 0, F.lit(10 ** 9))
        .otherwise(F.col("n_tok"))).withColumn(
        "source", F.when(F.pmod(F.crc32("doc_id"), 503) == 0, F.lit("EVIL"))
        .otherwise(F.col("source")))
    bad_run = evaluate_constraints(bad, suite)
    errs = {e for r in bad_run.violations.select("errors").collect()
            for e in r.errors}
    assert "n_tok_bounds" in errs and "source_in_domain" in errs


def test_suggest_suite_metric_kinds(spark):
    """Opt-in metric suggestions: row_count min sized from the SMALLEST
    observed partition (every profiled partition passes), stat_bounds
    mean envelope flags a level shift the bounds check cannot see."""
    from data_validation_spark.operators.profile import build_profile
    from data_validation_spark.plans.runner import run_validation
    from data_validation_spark.plans.suite import Component, suggest_suite
    from data_validation_spark.sources.sequences import synth_sequences
    from pyspark.sql import functions as F

    df = synth_sequences(spark, 2000).filter(F.col("tokens").isNotNull())
    comps = [Component("n_tok", "numeric")]
    prof = build_profile(df, comps, ["source"])
    suite = suggest_suite(prof, partition_cols=["source"],
                          row_count_margin=0.1, mean_margin=0.05)
    kinds = {c.name: c.kind for c in suite.constraints}
    assert kinds["row_count_min"] == "row_count"
    assert kinds["n_tok_mean"] == "stat_bounds"

    clean = run_validation(spark, df, suite, concurrent_jobs=1)
    assert clean.passed

    # a level shift: +400 on a [29, 2010] envelope — most rows stay in
    # bounds, but every partition's mean leaves the ±0.05·range pad
    # (clean per-source deviation from the global mean is ≤ 50.1 on
    # this seeded data; the pad is 99, the shifted deviation ≥ 350)
    shifted = df.withColumn("n_tok", F.col("n_tok") + F.lit(400))
    res = run_validation(spark, shifted, suite, concurrent_jobs=1)
    mean_vs = [v for v in res.verdicts if v["constraint"] == "n_tok_mean"]
    assert mean_vs and all(not v["passed"] for v in mean_vs)

    # a truncated feed (web dropped to ~1 row, below the 16-row floor)
    trunc = df.filter((F.col("source") != "web")
                      | (F.xxhash64("doc_id") % 1000 == 0))
    res2 = run_validation(spark, trunc, suite, concurrent_jobs=1)
    rc = {v["partition"]: v["passed"] for v in res2.verdicts
          if v["constraint"] == "row_count_min"}
    assert not rc["source=web"]
    assert any(rc[p] for p in rc if p != "source=web")

    # default: no metric suggestions without an explicit margin
    plain = suggest_suite(prof, partition_cols=["source"])
    assert all(c.kind not in ("row_count", "stat_bounds")
               for c in plain.constraints)


def test_suggest_suite_refuses_truncated_domain(spark):
    from data_validation_spark.plans.suite import (
        CategoricStats, Component, Profile, suggest_suite)
    comp = Component("c", "categoric")
    comp.stats = CategoricStats(
        frequencies={"a": 0.5, "__other__": 0.5},
        counts={"a": 5, "__other__": 5}, pinv=0.0, n=10)
    prof = Profile(components={"c": comp})
    suite = suggest_suite(prof)
    assert not any(c.kind == "in_domain" for c in suite.constraints)
    assert any(c.kind == "not_null" for c in suite.constraints)

"""Round-2 hardening: in_domain default, NULL-safe inline referential,
cardinality guards on the profile path, single-materialization sink runs."""

import pytest
from pyspark.sql import functions as F

from data_validation_spark.operators.profile import (
    CATEGORIC_TOP_K,
    build_profile,
)
from data_validation_spark.plans.runner import run_validation
from data_validation_spark.plans.suite import (
    OTHER_KEY,
    CategoricStats,
    Component,
    Constraint,
    Profile,
    ValidationSuite,
)


# ---------------------------------------------------------------------------
# in_domain default ← reference profile's categoric domain
# ---------------------------------------------------------------------------

def _ref_with_domain(values):
    ref = Profile(name="ref")
    ref.components["source"] = Component(
        "source", "categoric",
        stats=CategoricStats(frequencies={v: 1 / len(values) for v in values},
                             counts={v: 1 for v in values}, pinv=0.0, n=10))
    return ref


def test_in_domain_defaults_to_reference_domain(spark, sequences):
    good = ["web", "books", "code", "wiki", "forums"]
    suite = ValidationSuite(
        name="s", components=[Component("source", "categoric")],
        constraints=[Constraint("src_domain", "in_domain",
                                {"component": "source"})],
        reference=_ref_with_domain(good))
    res = run_validation(spark, sequences, suite)
    n_bad = sequences.filter(~F.col("source").isin(good)).count()
    got = sum(v["n_violations"] for v in res.verdicts
              if v["constraint"] == "src_domain")
    assert got == n_bad > 0


def test_in_domain_without_values_or_reference_raises(spark, sequences):
    suite = ValidationSuite(
        name="s", components=[Component("source", "categoric")],
        constraints=[Constraint("src_domain", "in_domain",
                                {"component": "source"})])
    with pytest.raises(ValueError, match="src_domain"):
        run_validation(spark, sequences, suite)


def test_in_domain_default_rejects_truncated_domain(spark):
    """A top-k-truncated reference (OTHER_KEY mass present) must not be
    silently used as an in_domain default — legitimate tail values
    would all be flagged.  Explicit 'values' still work."""
    ref = _ref_with_domain(["a", "b"])
    ref.components["source"].stats.frequencies[OTHER_KEY] = 0.5
    suite = ValidationSuite(
        name="s", components=[],
        constraints=[Constraint("d", "in_domain", {"component": "source"})],
        reference=ref)
    with pytest.raises(ValueError, match="top-k truncated"):
        suite.resolved_constraints()
    explicit = ValidationSuite(
        name="s", components=[],
        constraints=[Constraint("d", "in_domain",
                                {"component": "source",
                                 "values": ["a", "b"]})],
        reference=ref)
    assert explicit.resolved_constraints()[0].params["values"] == ["a", "b"]


# ---------------------------------------------------------------------------
# NULL key in a referential dimension must not mask violations (SQL
# three-valued IN semantics) — inline isin path vs anti-join path agree
# ---------------------------------------------------------------------------

def test_inline_referential_with_null_dim_key(spark, sequences):
    dim = spark.createDataFrame(
        [("web",), ("books",), ("code",), ("wiki",), ("forums",), (None,)],
        "source string")
    suite = ValidationSuite(
        name="s", components=[Component("n_tok", "numeric")],
        constraints=[Constraint("src_ref", "referential",
                                {"column": "source", "dim": "d"})])
    res = run_validation(spark, sequences, suite, dims={"d": dim})
    expect = sequences.filter(
        F.col("source").isNull()
        | ~F.col("source").isin("web", "books", "code", "wiki", "forums")
    ).count()
    got = sum(v["n_violations"] for v in res.verdicts
              if v["constraint"] == "src_ref")
    assert got == expect > 0


# ---------------------------------------------------------------------------
# cardinality guards: unbounded ints never histogram-collect; huge
# categoric domains profile as top-k + __other__ with bounded output
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def wide(spark):
    """60k rows with a near-unique long column and a ~30k-distinct
    categoric column (plus a skewed head so top-k is meaningful)."""
    df = (spark.range(60_000)
          .withColumn("big_id", F.col("id") * 7919 + 13)
          .withColumn("cat", F.when(F.col("id") % 3 == 0,
                                    F.concat(F.lit("head_"),
                                             (F.col("id") % 7).cast("string")))
                      .otherwise(F.concat(F.lit("tail_"),
                                          F.col("id").cast("string"))))
          .withColumn("grp", (F.col("id") % 4).cast("string")))
    df = df.cache()
    df.count()
    return df


def test_unbounded_int_falls_back_to_sketch(wide):
    import data_validation_spark.operators.profile as prof
    orig = prof.HIST_MAX_GROUPS
    prof.HIST_MAX_GROUPS = 1000  # force the guard at test scale
    try:
        p = build_profile(wide, [Component("big_id", "numeric")])
    finally:
        prof.HIST_MAX_GROUPS = orig
    st = p.components["big_id"].stats
    # sketch quantiles present and sane — no driver-side histogram
    assert st.quantiles is not None and st.n == 60_000
    assert st.min == 13 and st.max == 13 + 59_999 * 7919
    assert abs(st.quantiles[50] - st.mean) / st.mean < 0.02


def test_forced_hist_override_bypasses_guard(wide):
    import data_validation_spark.operators.profile as prof
    orig = prof.HIST_MAX_GROUPS
    prof.HIST_MAX_GROUPS = 10
    try:
        p = build_profile(wide, [Component("small", "numeric",
                                           extractor="id % 37",
                                           quantile_strategy="hist")])
    finally:
        prof.HIST_MAX_GROUPS = orig
    q = p.components["small"].stats.quantiles
    assert q[0] == 0 and q[100] == 36  # exact histogram quantiles


def test_high_cardinality_categoric_topk(wide):
    p = build_profile(wide, [Component("cat", "categoric")])
    st = p.components["cat"].stats
    assert OTHER_KEY in st.counts
    # bounded: at most top-k + other survive to the driver
    assert len(st.counts) <= CATEGORIC_TOP_K + 1
    # the 7 head values dominate and must all be in the top-k
    heads = {f"head_{i}" for i in range(7)}
    assert heads <= set(st.counts)
    # mass conservation: counts (incl. remainder) sum to non-null rows
    assert sum(st.counts.values()) == 60_000
    # domain excludes the pseudo-category
    assert OTHER_KEY not in st.domain


def test_topk_partitioned_remainder(wide):
    p = build_profile(wide, [Component("cat", "categoric")],
                      partition_cols=["grp"])
    for part, comps in p.partitions.items():
        st = comps["cat"].stats
        assert len(st.counts) <= CATEGORIC_TOP_K + 1
        assert sum(st.counts.values()) == 15_000
    assert sum(p.components["cat"].stats.counts.values()) == 60_000


def test_low_cardinality_categoric_stays_exact(sequences):
    p = build_profile(sequences, [Component("source", "categoric")])
    st = p.components["source"].stats
    assert OTHER_KEY not in st.counts  # exact path: full value map


def test_array_derived_component_skips_hist_job(sequences):
    """size(tokens) must NOT take the separate histogram job (it would
    decode tokens a second time); its sketch quantiles still come out."""
    from data_validation_spark.operators.profile import _array_referencing
    comps = [Component("tokens_len", "numeric", extractor="size(tokens)"),
             Component("n_tok", "numeric")]
    assert _array_referencing(comps, sequences) == {"tokens_len"}
    p = build_profile(sequences, comps)
    st = p.components["tokens_len"].stats
    assert st.quantiles is not None
    # cross-check the sketch against the exact histogram of n_tok (the
    # generator keeps size(tokens) == n_tok except for corrupted rows)
    exact = p.components["n_tok"].stats.quantiles
    assert abs(st.quantiles[50] - exact[50]) <= max(2.0, 0.02 * exact[50])


# ---------------------------------------------------------------------------
# sink path: one materialization, consistent n_violations definition
# ---------------------------------------------------------------------------

def test_sink_run_verdicts_match_no_sink_run(spark, sequences, tmp_path):
    from data_validation_spark.sources.table_provider import TableProvider
    suite = ValidationSuite(
        name="s", components=[Component("n_tok", "numeric")],
        partition_cols=["source"],
        constraints=[
            Constraint("u", "unique", {"keys": ["doc_id"]}),
            Constraint("b", "bounds", {"component": "n_tok", "max": 4000}),
            Constraint("r", "referential",
                       {"column": "source",
                        "values": ["web", "books", "code", "wiki", "forums"]}),
        ])
    plain = run_validation(spark, sequences, suite, resume=False)
    sink = TableProvider(spark, root=str(tmp_path / "sink"))
    sunk = run_validation(spark, sequences, suite, sink=sink, resume=False)

    def vmap(res):
        return {(v["partition"], v["constraint"]): v["n_violations"]
                for v in res.verdicts}

    assert vmap(plain) == vmap(sunk)
    # n_violations = verdict-count sum in BOTH paths now
    assert plain.n_violations == sunk.n_violations
    assert plain.n_violation_rows is None
    assert sunk.n_violation_rows is not None


def test_sink_run_job_count_reduced(spark, sequences, tmp_path):
    """The sink path derives set-level counts from the materialized
    violations frame instead of separate counts jobs: with a sink it
    must not launch more jobs than without, plus a bounded constant for
    the sink writes themselves."""
    from data_validation_spark.sources.table_provider import TableProvider
    suite = ValidationSuite(
        name="s", components=[Component("n_tok", "numeric")],
        partition_cols=["source"],
        constraints=[Constraint("u", "unique", {"keys": ["doc_id"]}),
                     Constraint("b", "bounds",
                                {"component": "n_tok", "max": 4000})])
    sc = spark.sparkContext

    def count_jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    plain = count_jobs("g_plain", lambda: run_validation(
        spark, sequences, suite, resume=False))
    sink = TableProvider(spark, root=str(tmp_path / "sink2"))
    with_sink = count_jobs("g_sink", lambda: run_validation(
        spark, sequences, suite, sink=sink, resume=False))
    # writes: metrics append, violations append, manifest append, plus
    # the violations count + set-counts derivation on the cached frame
    # (each an AQE-counted job).  The no-sink path got cheaper in r3
    # (worklist + guard probes folded), so the allowed sink constant is
    # 6 — still a CONSTANT, which is the property under test.
    assert with_sink <= plain + 6


def test_global_topk_plan_and_rank(spark):
    """global_topk must compile to TakeOrderedAndProject (per-partition
    heaps), never an unbounded-window full sort, and must rank with a
    deterministic tie-break."""
    from data_validation_spark.operators.profile import global_topk
    from pyspark.sql import functions as F

    df = spark.range(0, 10_000).select(
        (F.col("id") % 97).alias("word"),
        # ties: two words per count bucket
        (F.col("id") % 7).alias("cnt"))
    counts = df.groupBy("word").agg(F.sum("cnt").alias("cnt"))
    out = global_topk(counts, 5, [F.desc("cnt"), F.asc("word")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = out.collect()
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    # matches the naive full-sort answer
    naive = (counts.orderBy(F.desc("cnt"), F.asc("word")).limit(5)
             .collect())
    assert [(r["word"], r["cnt"]) for r in rows] == \
        [(r["word"], r["cnt"]) for r in naive]


# ---------------------------------------------------------------------------
# referential key-set cap: the raw keys are probed first, the distinct
# probe runs only past the cap, and a dimension with more distinct keys
# than the cap takes the anti-join — every path counts like the anti-join
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("cap, keys, n_probes, antijoin", [
    (10, ["web", "books", "code", "wiki"], 1, False),
    (4, ["web", "web", "books", "code", "code", "wiki", None], 2, False),
    (3, ["web", "books", "code", "wiki"], 2, True),
], ids=["raw-under-cap", "distinct-under-cap", "distinct-over-cap"])
def test_referential_dim_cap_paths(spark, sequences, monkeypatch,
                                   cap, keys, n_probes, antijoin):
    import data_validation_spark.plans.runner as runner
    from data_validation_spark.operators.constraints import (
        referential_violation_counts)

    calls = {"probe": 0, "antijoin": 0}

    def spy(name, fn):
        def wrapped(*a, **k):
            calls[name] += 1
            return fn(*a, **k)
        return wrapped

    monkeypatch.setattr(runner, "_REF_INLINE_MAX", cap)
    monkeypatch.setattr(runner, "single_job_limit_collect",
                        spy("probe", runner.single_job_limit_collect))
    monkeypatch.setattr(runner, "referential_violation_counts",
                        spy("antijoin", referential_violation_counts))
    dim = spark.createDataFrame([(k,) for k in keys], "source string")
    suite = ValidationSuite(
        name="s", components=[Component("n_tok", "numeric")],
        partition_cols=["bucket"],
        constraints=[Constraint("src_ref", "referential",
                                {"column": "source", "dim": "d"})])
    res = run_validation(spark, sequences, suite, dims={"d": dim},
                         resume=False)
    got = {v["partition"]: v["n_violations"] for v in res.verdicts
           if v["constraint"] == "src_ref" and v["n_violations"]}
    assert got == referential_violation_counts(sequences, "source", dim,
                                               ["bucket"])
    assert sum(got.values()) > 0
    assert calls == {"probe": n_probes, "antijoin": int(antijoin)}


# ---------------------------------------------------------------------------
# the fused pass's concurrent actions: an overflowing histogram candidate
# beside an in-cap one, a categoric component and a row condition
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("concurrent_jobs", [1, 4])
def test_fused_pass_with_overflowing_hist_candidate(wide, concurrent_jobs,
                                                    monkeypatch):
    import numpy as np

    import data_validation_spark.operators.profile as prof
    from data_validation_spark.operators.constraints import count_when
    from data_validation_spark.plans.suite import QUANTILE_PROBS

    comps = [Component("big_id", "numeric"),
             Component("small", "numeric", extractor="id % 37"),
             Component("mod7", "categoric",
                       extractor="cast(id % 7 as string)")]
    monkeypatch.setattr(prof, "CONCURRENT_ACTIONS", concurrent_jobs)
    orig = prof.HIST_MAX_GROUPS
    prof.HIST_MAX_GROUPS = 1000  # big_id overflows, small (4 × 37) fits
    try:
        p, counts = prof.build_profile_and_counts(
            wide, comps, ["grp"],
            aggs={"even": count_when(F.col("id") % 2 == 0)})
        sketch = build_profile(
            wide, [Component("big_id", "numeric", quantile_strategy="sketch")],
            ["grp"])
    finally:
        prof.HIST_MAX_GROUPS = orig

    ids = np.arange(60_000)
    for g in range(4):
        part = f"grp={g}"
        mine = ids[ids % 4 == g]
        n = len(mine)
        small = p.partitions[part]["small"].stats
        assert small.hist is not None
        assert small.quantiles == pytest.approx(
            np.percentile(mine % 37, np.asarray(QUANTILE_PROBS) * 100),
            abs=1e-9)
        big = p.partitions[part]["big_id"].stats
        assert big.hist is None and big.n == n
        ref = sketch.partitions[part]["big_id"].stats.quantiles
        vals = np.sort(mine * 7919 + 13)
        for a, b in zip(big.quantiles, ref):
            ranks = np.searchsorted(vals, [a, b], side="right")
            assert abs(ranks[0] - ranks[1]) <= n / prof.DEFAULT_ACCURACY + 1
        cat = p.partitions[part]["mod7"].stats
        assert cat.counts == {str(v): int(c) for v, c in
                              zip(*np.unique(mine % 7, return_counts=True))}
        assert counts[part] == {"even": int((mine % 2 == 0).sum())}
    assert p.components["small"].stats.hist is not None
    assert p.components["big_id"].stats.n == 60_000

"""Per-run Spark job count — driver-serial scheduling time is a fixed
cost a 10^12-row job pays per ACTION, so the flagship no-sink run must
stay at its budget.  Measured on this suite shape (local[8], AQE on —
AQE materializes each shuffle stage as its own job id, so multi-shuffle
queries count >1): r2 shape = 12 jobs; current = 7 (dropped: the
partition-worklist distinct+collect, one incremental-limit round each
for the inline-dim / histogram / categoric probes via
``single_job_limit_collect``, and a separate cardinality-guard job
each for the histogram and categoric paths).  Since the dimension
probe reads the raw keys before any distinct, the run takes 5 jobs at
local[4]; every one must carry the caller's job group, including those
submitted from the runner's and the fused pass's thread pools."""

import itertools

from pyspark.sql import functions as F

from data_validation_spark.plans.runner import run_validation
from data_validation_spark.plans.suite import (
    Component,
    Constraint,
    ValidationSuite,
)
from data_validation_spark.sources.sequences import (
    allowed_sources_df,
    synth_sequences,
)

GROUP = "jobcount-probe"
_calls = itertools.count()


def _jobs_for(spark, fn) -> int:
    """Jobs ``fn`` started, asserting every one of them carries the
    caller's job group — also those submitted from pool threads."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"{GROUP}-{next(_calls)}"
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "job-count probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    grouped = set(tracker.getJobIdsForGroup(group))
    ungrouped = set(tracker.getJobIdsForGroup(None)) - ungrouped_before
    # job ids are consecutive and nothing else runs during the call
    ids = grouped | ungrouped
    started = set(range(min(ids), max(ids) + 1)) if ids else set()
    assert grouped == started, (
        f"jobs {sorted(started - grouped)} lost the caller's job group")
    return len(grouped)


def _flagship_suite() -> ValidationSuite:
    return ValidationSuite(
        name="jobcount",
        components=[Component("n_tok", "numeric"),
                    Component("tokens_len", "numeric",
                              extractor="size(tokens)"),
                    Component("source", "categoric")],
        constraints=[
            Constraint("len_consistency", "expression",
                       {"sql": "tokens is null or size(tokens) = n_tok"}),
            Constraint("tokens_not_null", "not_null",
                       {"component": "tokens"}),
            Constraint("unique_doc_id", "unique", {"keys": ["doc_id"]}),
            Constraint("source_allowed", "referential",
                       {"column": "source", "dim": "allowed_sources"}),
        ],
        partition_cols=["source", "bucket"],
    )


def test_flagship_no_sink_run_job_budget(spark):
    df = synth_sequences(spark, 2000).persist()
    df.count()  # materialize outside the probe
    suite = _flagship_suite()
    dims = {"allowed_sources": allowed_sources_df(spark)}
    n = _jobs_for(spark, lambda: run_validation(
        spark, df, suite, dims=dims, resume=False))
    assert n <= 7, f"no-sink validation run scheduled {n} jobs (budget 7)"
    df.unpersist()


def test_fused_metrics_take_no_job_of_their_own(spark):
    """row_count and stat_bounds, scoped or not, are aggregates of the
    fused pass: adding them to the flagship suite adds no job."""
    df = synth_sequences(spark, 2000).persist()
    df.count()
    dims = {"allowed_sources": allowed_sources_df(spark)}
    flagship = _flagship_suite()
    metric = _flagship_suite()
    metric.constraints += [
        Constraint("rows", "row_count", {"min": 1}),
        Constraint("ntok_mean", "stat_bounds",
                   {"component": "n_tok", "stat": "mean", "min": 1}),
        Constraint("web_len_max", "stat_bounds",
                   {"component": "tokens_len", "stat": "max", "max": 10**6,
                    "where": "source = 'web'"}),
    ]
    base = _jobs_for(spark, lambda: run_validation(
        spark, df, flagship, dims=dims, resume=False))
    res = None

    def run():
        nonlocal res
        res = run_validation(spark, df, metric, dims=dims, resume=False)
    n = _jobs_for(spark, run)
    df.unpersist()
    assert n == base, f"metric suite took {n} jobs, flagship {base}"
    assert all(v["passed"] for v in res.verdicts
               if v["constraint"] in ("rows", "ntok_mean"))


def test_no_sink_run_matches_resume_path_verdicts(spark, tmp_path):
    """The worklist-free path must produce the same verdicts as the
    resume-capable path on the same input."""
    from data_validation_spark.sources.table_provider import TableProvider
    df = synth_sequences(spark, 2000)
    suite = _flagship_suite()
    dims = {"allowed_sources": allowed_sources_df(spark)}
    a = run_validation(spark, df, suite, dims=dims, resume=False)
    b = run_validation(spark, df, suite, dims=dims,
                       sink=TableProvider(spark, str(tmp_path)))
    key = lambda v: (v["partition"], v["constraint"])  # noqa: E731
    assert sorted(a.verdicts, key=key) == sorted(b.verdicts, key=key)
    assert sorted(a.partitions) == sorted(b.partitions)


def test_flagship_serial_and_concurrent_runs_agree(spark, monkeypatch):
    """``CONCURRENT_ACTIONS = 1`` runs every action one after another;
    the default overlaps them.  Both give the same verdicts and
    profile."""
    from data_validation_spark.operators import profile
    df = synth_sequences(spark, 2000).persist()
    df.count()
    suite = _flagship_suite()
    dims = {"allowed_sources": allowed_sources_df(spark)}
    with monkeypatch.context() as m:
        m.setattr(profile, "CONCURRENT_ACTIONS", 1)
        serial = run_validation(spark, df, suite, dims=dims, resume=False)
    default = run_validation(spark, df, suite, dims=dims, resume=False)
    df.unpersist()
    assert serial.verdicts == default.verdicts
    assert serial.n_violations == default.n_violations > 0
    assert serial.profile.to_json() == default.profile.to_json()


def test_concurrent_single_job_probes(spark):
    """Probes running at the same time share one hold on the session's
    limit setting: each still takes one job, and the session's own value
    is back once the last one ends."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    from data_validation_spark.operators.profile import (
        single_job_limit_collect)

    key = "spark.sql.limit.initialNumPartitions"
    before = spark.conf.get(key)
    # 5 rows per partition: a limit above 5 needs more than the first
    # partition, so without the setting it takes several jobs
    df = spark.range(0, 400, numPartitions=8).where(F.col("id") % 50 >= 45)
    sizes = list(range(6, 30))
    got = []

    def probes():
        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            with ThreadPoolExecutor(max_workers=12) as pool:
                futures = [pool.submit(inheritable_thread_target(spark)(
                    lambda n=n: len(single_job_limit_collect(df, n))))
                    for n in sizes]
                got.extend(f.result(timeout=300) for f in futures)
        finally:
            sys.setswitchinterval(old)

    n_jobs = _jobs_for(spark, probes)
    assert got == sizes
    assert n_jobs == len(sizes)
    assert spark.conf.get(key) == before

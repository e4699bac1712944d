"""Run lifecycle (SURVEY.md §3.2): plan → resume-filter → one stats +
constraints pass → drift → verdicts → sinks.

Entry point ``run_validation`` is the engine's E2 analogue: instead of
rdv's one-row-at-a-time ``Schema.validate`` loop, the whole table is
validated in one Spark job set, emitting per-partition pass/fail
verdicts, violation rows (with exact original token arrays —
BASELINE.json:15 invariant), metrics rows with lineage, and manifest
checkpoint rows for resume.
"""

from __future__ import annotations

import json
import uuid
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark import StorageLevel

from data_validation_spark.operators.constraints import (
    LABEL,
    METRIC_KINDS,
    ROW_LEVEL_KINDS,
    SUPPORTED_KINDS,
    _row_violation_cond,
    _scope_cond,
    _scoped_df,
    completeness_violation_frames,
    count_when,
    metric_aggs,
    metric_value_thunks,
    metric_verdict_rows,
    partition_label_col,
    referential_violation_counts,
    resolve_dim,
    set_violation_frame,
    uniqueness_violation_counts,
    violation_counts,
    violation_frame,
    with_label,
)
from data_validation_spark.operators.contrast import DriftReport, contrast
from data_validation_spark.operators.profile import (
    build_profile_and_counts,
    run_concurrently,
    single_job_limit_collect,
)
from data_validation_spark.plans.manifest import (
    completed_partitions,
    write_manifest,
)
from data_validation_spark.plans.suite import Profile, ValidationSuite
from data_validation_spark.sources.table_provider import TableProvider

METRICS_TABLE = "metrics"
VIOLATIONS_TABLE = "violations"

_SCALAR_STATS = ("min", "max", "mean", "std", "pinv")

#: max distinct non-NULL keys of a referential key set folded into the
#: fused pass as an isin condition; larger key sets take the anti-join
_REF_INLINE_MAX = 10_000


@dataclass
class RunResult:
    run_id: str
    profile: Profile
    drift: DriftReport | None
    verdicts: list[dict] = field(default_factory=list)
    n_rows: int = 0
    # sum of per-constraint verdict counts — a row failing two
    # constraints counts twice; identical definition with/without sink
    n_violations: int = 0
    # distinct violating rows written to the sink (None without a sink);
    # <= n_violations because one row may fail several constraints
    n_violation_rows: int | None = None
    partitions: list[str] = field(default_factory=list)
    skipped_partitions: list[str] = field(default_factory=list)

    @property
    def passed(self) -> bool:
        return (all(v["passed"] for v in self.verdicts)
                and not (self.drift and self.drift.drifted))


def _metrics_rows(run_id: str, profile: Profile, verdicts: list[dict],
                  drift: DriftReport | None, lineage: dict) -> list[tuple]:
    """Flatten profile stats + constraint verdicts + drift results into
    the FIXTURES.md §4 metrics shape (run_id, partition, component,
    metric, value, passed, lineage)."""
    lineage_s = json.dumps(lineage, sort_keys=True)
    rows: list[tuple] = []

    def profile_rows(part: str, comps: dict) -> None:
        for name, comp in comps.items():
            st = comp.stats
            if st is None:
                continue
            for m in _SCALAR_STATS:
                v = getattr(st, m, None)
                if v is not None:
                    rows.append((run_id, part, name, m, float(v), True,
                                 lineage_s))
            if getattr(st, "n", None) is not None:
                rows.append((run_id, part, name, "n", float(st.n), True,
                             lineage_s))

    profile_rows("<global>", profile.components)
    for part, comps in profile.partitions.items():
        profile_rows(part, comps)

    for v in verdicts:
        rows.append((run_id, v["partition"], "", f"violations[{v['constraint']}]",
                     float(v["n_violations"]), bool(v["passed"]), lineage_s))

    if drift is not None:
        for name, cd in drift.components.items():
            for r in cd.results:
                rows.append((run_id, "<global>", name, f"drift[{r.test}]",
                             float(r.statistic), not r.drifted, lineage_s))
    return rows


def run_validation(spark: SparkSession, df: DataFrame, suite: ValidationSuite,
                   sink: TableProvider | None = None,
                   dims: dict[str, DataFrame] | None = None,
                   run_id: str | None = None,
                   resume: bool = True,
                   lineage: dict | None = None) -> RunResult:
    """Validate ``df`` against ``suite``; optionally write metrics /
    violations / manifest through ``sink`` (IO5-IO7).

    Independent Spark actions (the fused stats pass, each set-level
    constraint count, and inside the fused pass its main aggregate,
    histogram and categoric-frequency probes) are submitted from
    thread pools of ``profile.CONCURRENT_ACTIONS`` threads so their
    stages overlap — a reduce tail on a few tasks no longer serializes
    the whole run while the cluster idles.  Results are identical at
    any pool size: actions share no mutable state and the scheduler
    interleaves stages fairly."""
    run_id = run_id or uuid.uuid4().hex[:12]
    # fill documented defaults (e.g. in_domain ← reference domain) up
    # front so a bad suite fails here with a clear message, not mid-job
    suite = replace(suite, constraints=suite.resolved_constraints())
    # fail LOUD on a kind this runner does not evaluate — a suite
    # constraint that silently produces no verdicts is worse than an
    # error (ADVICE r3: fd/completeness/join_rule used to fall through)
    unsupported = sorted({c.kind for c in suite.constraints
                          if c.kind not in SUPPORTED_KINDS})
    if unsupported:
        raise ValueError(
            f"run_validation does not support constraint kind(s) "
            f"{unsupported}; supported: {sorted(SUPPORTED_KINDS)}")
    schema_errs = suite.schema_errors(df)
    if schema_errs:
        raise ValueError(
            "suite does not match the input schema:\n  - "
            + "\n  - ".join(schema_errs))
    pcols = suite.partition_cols
    lineage = dict(lineage or {})

    # -- plan: partition worklist, minus completed (resume, J3) ----------
    # The up-front distinct+collect worklist job only exists to serve
    # resume (filter completed partitions, detect nothing-to-do).  A
    # run that cannot resume (no sink to hold a manifest, or
    # resume=False) skips it entirely — ``todo`` is derived from the
    # partitions the fused stats pass OBSERVED, saving one full-scan
    # action per run (job count is driver-serial time at scale).
    skipped: list[str] = []
    todo: list[str] | None = None     # None = derive after the fused pass
    if pcols and sink is not None and resume:
        all_parts = [r[LABEL] for r in
                     with_label(df.select(*pcols).distinct(), pcols)
                     .select(LABEL).collect()]
        done = completed_partitions(sink, suite.name)
        skipped = sorted(set(all_parts) & done)
        if skipped:
            # partition-label anti-filter; with directory-partitioned
            # input this folds into a partition-pruning predicate. For
            # partition counts too large to inline, swap for a left_anti
            # join against the manifest (same result, one extra shuffle).
            df = df.filter(~partition_label_col(pcols).isin(skipped))
        todo = sorted(set(all_parts) - done)
        if not todo:
            return RunResult(run_id=run_id, profile=Profile(name=suite.name),
                             drift=None, skipped_partitions=skipped)
    elif not pcols:
        todo = ["<global>"]

    # -- the single vectorized pass: stats + per-partition aggregates ---
    # (BASELINE.json:6 — one grouped agg over one scan computes every
    # component stat, every row-level constraint's per-partition
    # violation count and every stat_bounds / row_count / freshness
    # measurement; no second decode of the tokens column)
    row_cs = [c for c in suite.constraints if c.kind in ROW_LEVEL_KINDS]
    aggs = {c.name: count_when(_row_violation_cond(c)) for c in row_cs}
    metric_cs = [c for c in suite.constraints if c.kind in METRIC_KINDS]
    fused_metrics = metric_aggs(metric_cs, suite.components)
    aggs.update(fused_metrics)

    # referential constraints against a broadcast-sized key set fold
    # into the fused pass as an isin condition (the keys would have been
    # collected for a broadcast join anyway); larger key sets keep the
    # anti-join counting path.  An inline value list is sized here; a
    # no-sink run sizes a dimension inside the fused thunk below, so its
    # probe runs beside the set-level actions instead of before them.
    # With a sink, a dimension's violations are counted from the
    # violations frame, which holds its anti-join rows anyway.
    inline_ref: set[str] = set()
    dim_refs = []
    for c in suite.constraints:
        if c.kind != "referential":
            continue
        if "values" in c.params:
            vals = [v for v in c.params["values"] if v is not None]
            if len(vals) <= _REF_INLINE_MAX:
                aggs[c.name] = count_when(_not_in_keys(c, vals))
                inline_ref.add(c.name)
        elif sink is None:
            dim_refs.append((c, resolve_dim(spark, c, dims)))

    # The fused stats pass and every set-level count below are
    # INDEPENDENT Spark actions — assembled as thunks and submitted
    # together by ``run_concurrently``, because serial driver actions
    # leave the cluster idle between stages (a reduce tail runs on a
    # handful of tasks while thousands of cores wait for the next job's
    # scan).  The fused thunk first sizes each referential dimension:
    # one under the cap joins the pass as an isin condition, one over
    # it is counted by the anti-join in the same thunk.  The pass then
    # runs its own independent actions concurrently too.
    def _fused():
        conds = dict(aggs)
        over_cap: dict[str, dict[str, int]] = {}
        for c, dim in dim_refs:
            p = c.params
            keys = _dim_keys(dim, p.get("dim_column") or p["column"])
            if keys is None:
                over_cap[c.name] = referential_violation_counts(
                    _scoped_df(df, c), p["column"], dim, pcols,
                    p.get("dim_column"))
            else:
                conds[c.name] = count_when(_not_in_keys(c, keys))
        profile, values = build_profile_and_counts(
            df, suite.components, pcols, aggs=conds, name=suite.name)
        return profile, values, over_cap

    # action keys: "__fused__", ("metric", i) and ("set", name)
    actions: dict[object, object] = {"__fused__": _fused}

    # -- metric assertions (deequ hasSize/hasMean/freshness family) ------
    # stat_bounds / row_count / freshness ride the fused pass above;
    # distinctness and ordering need their own group keys, so each is
    # one more action.  All are verdict-only.
    for i, measure in enumerate(metric_value_thunks(
            df, [c for c in metric_cs if c.name not in fused_metrics],
            pcols)):
        actions[("metric", i)] = measure

    # -- set-level constraints -------------------------------------------
    # Without a sink: counts-only, column-pruned scans per constraint
    # (S8 salted uniqueness, J1 broadcast referential) — violation ROWS
    # are never materialized.  WITH a sink the rows must be materialized
    # anyway, so the counts jobs would run the same joins twice; instead
    # the violations frame is built + persisted here and set-level counts
    # are derived from it in one action (row-level counts still ride the
    # fused stats pass for free either way).
    set_names = [c.name for c in suite.constraints
                 if c.kind in ("unique", "fd", "completeness", "join_rule")
                 or (c.kind == "referential" and c.name not in inline_ref)]
    violations: DataFrame | None = None
    if sink is not None:
        violations = violation_frame(df, suite.constraints, pcols, dims)
        violations.persist(StorageLevel.MEMORY_AND_DISK)
        if set_names:
            counted = (violation_counts(violations)
                       .where(F.col("constraint").isin(set_names)))

            def _counted():
                out: dict[str, dict[str, int]] = {n: {} for n in set_names}
                for r in counted.collect():
                    out[r["constraint"]][r["partition"]] = r["n_violations"]
                return out

            actions["__viol_counts__"] = _counted
    else:
        def _frame_counts(frame: DataFrame) -> dict[str, int]:
            # counts-only path: project the partition label before the
            # count agg so Catalyst prunes the payload columns
            return {r["partition"]: r["n"] for r in
                    frame.groupBy("partition")
                         .agg(F.count(F.lit(1)).alias("n")).collect()}

        comp_cs = [c for c in suite.constraints if c.kind == "completeness"]
        for name, frame in completeness_violation_frames(df, comp_cs, pcols):
            actions[("set", name)] = lambda fr=frame: _frame_counts(fr)
        for c in suite.constraints:
            if c.kind == "unique":
                actions[("set", c.name)] = (
                    lambda c=c, keys=list(c.params["keys"]):
                    uniqueness_violation_counts(
                        _scoped_df(df, c), keys, pcols))
            elif (c.kind == "referential" and c.name not in inline_ref
                  and "values" in c.params):
                p = c.params
                dim = resolve_dim(spark, c, dims)
                actions[("set", c.name)] = (
                    lambda c=c, p=p, dim=dim: referential_violation_counts(
                        _scoped_df(df, c), p["column"], dim, pcols,
                        p.get("dim_column")))
            elif c.kind in ("fd", "join_rule"):
                frame = set_violation_frame(df, c, pcols, dims)
                actions[("set", c.name)] = (
                    lambda fr=frame: _frame_counts(fr))

    results = run_concurrently(spark, actions)
    profile, values_by_part, over_cap = results.pop("__fused__")
    inline_ref |= {c.name for c, _ in dim_refs} - over_cap.keys()
    set_counts: dict[str, dict[str, int]] = dict(over_cap)
    set_counts.update(results.pop("__viol_counts__", {}))
    metric_values: dict[str, dict] = {
        n: {part: vals[n] for part, vals in values_by_part.items()}
        for n in fused_metrics}
    for (kind, name), got in results.items():
        if kind == "metric":
            metric_values.update(got)
        else:
            set_counts[name] = got

    # -- verdict assembly (driver-side; universe = every observed
    #    partition × every constraint, explicit passed=true rows) --------
    all_parts = sorted((set(values_by_part)
                        | set(profile.partitions)
                        | {p for d in set_counts.values() for p in d}
                        | {p for d in metric_values.values() for p in d})
                       - ({"<global>"} if pcols else set())) \
        or ["<global>"]
    if todo is None:                  # non-resume run: observed = worked
        todo = all_parts
    verdicts = []
    fused_names = [c.name for c in row_cs] + sorted(inline_ref)
    for part in all_parts:
        for name in fused_names:
            n = int((values_by_part.get(part) or {}).get(name) or 0)
            verdicts.append({"partition": part, "constraint": name,
                             "n_violations": n, "passed": n == 0})
        for cname, per_part in set_counts.items():
            n = int(per_part.get(part, 0))
            verdicts.append({"partition": part, "constraint": cname,
                             "n_violations": n, "passed": n == 0})
    verdicts += metric_verdict_rows(metric_values, metric_cs, all_parts)

    # -- drift (D1-D3) vs the frozen reference profile -------------------
    drift = None
    drift_cs = [c for c in suite.constraints if c.kind == "drift"]
    if drift_cs and suite.reference is not None:
        thresholds = {}
        for c in drift_cs:
            thresholds.update(c.params.get("thresholds", {}))
        drift = contrast(profile, suite.reference, thresholds)

    n_rows = next((c.stats.n for c in profile.components.values()
                   if c.stats and c.stats.n is not None), 0)
    n_viol = sum(v["n_violations"] for v in verdicts)
    n_viol_rows: int | None = None

    # -- sinks (violations frame already materialized + cached above) ----
    metrics = _metrics_rows(run_id, profile, verdicts, drift, lineage)
    if sink is not None:
        try:
            n_viol_rows = violations.count()
            mdf = spark.createDataFrame(
                metrics, "run_id string, partition string, component string, "
                         "metric string, value double, passed boolean, "
                         "lineage string"
            ).withColumn("ts", F.current_timestamp())
            sink.append(mdf, METRICS_TABLE)
            sink.append(
                violations
                    .withColumn("run_id", F.lit(run_id))
                    .withColumn("errors", F.to_json("errors")),
                VIOLATIONS_TABLE)
            per_part_metrics: dict[str, int] = {}
            for m in metrics:
                per_part_metrics[m[1]] = per_part_metrics.get(m[1], 0) + 1
            write_manifest(sink, spark, suite.name, run_id,
                           [(p, per_part_metrics.get(p, 0)) for p in todo])
        finally:
            violations.unpersist()

    return RunResult(run_id=run_id, profile=profile, drift=drift,
                     verdicts=verdicts, n_rows=n_rows or 0,
                     n_violations=n_viol, n_violation_rows=n_viol_rows,
                     partitions=todo,
                     skipped_partitions=skipped)


def _dim_keys(dim: DataFrame, dim_col: str) -> list | None:
    """The dimension's distinct non-NULL keys, or None when there are
    more than ``_REF_INLINE_MAX``.  The raw keys are probed first and
    deduplicated on the driver; the distinct probe (a shuffle) runs only
    when the raw rows exceed the cap.

    NULLs are dropped BEFORE isin: a None inside the IN-list makes the
    predicate NULL (never true) for every non-matching row under SQL
    three-valued logic, silently zeroing the violation count.  A NULL
    dim key also can't legitimise a NULL fact value — the anti-join
    path agrees."""
    keys = dim.select(dim_col).where(F.col(dim_col).isNotNull())
    rows = single_job_limit_collect(keys, _REF_INLINE_MAX + 1)
    if len(rows) > _REF_INLINE_MAX:
        rows = single_job_limit_collect(keys.distinct(), _REF_INLINE_MAX + 1)
        if len(rows) > _REF_INLINE_MAX:
            return None
    return list(dict.fromkeys(r[0] for r in rows))


def _not_in_keys(c, keys: list) -> F.Column:
    """Row-level violation predicate of referential constraint ``c``
    against an inline key list (NULL fact values violate)."""
    col = F.col(c.params["column"])
    cond = col.isNull() | ~col.isin(keys)
    scope = _scope_cond(c)
    return cond if scope is None else scope & cond


@dataclass
class IncrementalResult:
    """``validate_incremental`` outcome: the inner run (over changed
    partitions only), which partitions were revalidated, and the new
    checksum frame the caller persists for the next cycle."""
    run: RunResult
    changed_partitions: list[str]
    checksums: DataFrame


def validate_incremental(spark: SparkSession, df: DataFrame,
                         suite: ValidationSuite,
                         baseline_checksums: DataFrame | None,
                         tokens_col: str = "tokens",
                         sink: TableProvider | None = None,
                         dims: dict[str, DataFrame] | None = None,
                         run_id: str | None = None,
                         lineage: dict | None = None) -> IncrementalResult:
    """Daily-revalidation shape for a 100 TB table: revalidate ONLY the
    partitions whose CONTENT changed since the last run, detected by
    the order-insensitive per-partition Rabin checksum — one pruned
    aggregate scan over the current snapshot, a KB-sized full-outer
    join against the persisted baseline frame, then a normal
    ``run_validation`` over the changed slice (with directory-
    partitioned input the label filter folds into partition pruning, so
    unchanged partitions are never read again by the validation pass).

    ``baseline_checksums`` is the frame a previous cycle returned
    (persist it anywhere — it is numPartitions rows); ``None`` means
    first run: everything is "changed".  New partitions diff as changed
    (NULL baseline side); deleted partitions appear in
    ``changed_partitions`` but contribute no rows.

    Unlike manifest ``resume`` (which skips partitions a crashed run
    already COMPLETED), this skips partitions whose bytes did not
    change — the two compose: resume within a cycle, checksums across
    cycles.
    """
    from data_validation_spark.operators.parity import (
        checksum_diff, snapshot_checksums)
    pcols = suite.partition_cols
    if not pcols:
        raise ValueError("validate_incremental needs suite.partition_cols")
    cur = snapshot_checksums(df, tokens_col, pcols).localCheckpoint(
        eager=True)  # one scan; reused for diff and returned to caller
    changed_parts = cur if baseline_checksums is None \
        else checksum_diff(baseline_checksums, cur, pcols)
    changed = sorted(r[0] for r in changed_parts.select(
        partition_label_col(pcols)).collect())
    if not changed:
        empty = RunResult(run_id=run_id or "incremental-noop",
                          profile=Profile(name=suite.name), drift=None)
        return IncrementalResult(run=empty, changed_partitions=[],
                                 checksums=cur)
    sub = df.filter(partition_label_col(pcols).isin(changed))
    res = run_validation(spark, sub, suite, sink=sink, dims=dims,
                         run_id=run_id, resume=False,
                         lineage={**(lineage or {}),
                                  "incremental": True,
                                  "n_changed_partitions": len(changed)})
    return IncrementalResult(run=res, changed_partitions=changed,
                             checksums=cur)

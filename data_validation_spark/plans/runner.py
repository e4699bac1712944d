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
    METRIC_KINDS,
    ROW_LEVEL_KINDS,
    SUPPORTED_KINDS,
    _row_violation_cond,
    _scope_cond,
    _scoped_df,
    completeness_violation_frames,
    distinctness_values,
    fd_violation_frame,
    join_rule_violation_frame,
    metric_fused_values,
    metric_verdict_rows,
    ordering_values,
    partition_label_col,
    referential_violation_counts,
    referential_violations,
    row_level_violations,
    stat_value_from_profile,
    uniqueness_violation_counts,
    uniqueness_violations,
)
from data_validation_spark.operators.contrast import DriftReport, contrast
from data_validation_spark.operators.profile import (
    build_profile_and_counts,
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
                   lineage: dict | None = None,
                   concurrent_jobs: int = 4) -> RunResult:
    """Validate ``df`` against ``suite``; optionally write metrics /
    violations / manifest through ``sink`` (IO5-IO7).

    ``concurrent_jobs``: independent Spark actions (the fused stats
    pass, each set-level constraint count) are submitted from a thread
    pool of this size so their stages overlap — a reduce tail on a few
    tasks no longer serializes the whole run while the cluster idles.
    ``1`` = strictly serial (identical results either way; actions
    share no mutable state and the scheduler interleaves stages
    fairly)."""
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
        all_parts = [partition_lbl(r, pcols) for r in
                     df.select(*pcols).distinct().collect()]
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

    # -- the single vectorized pass: stats + row-level verdict counts ----
    # (BASELINE.json:6 — one grouped agg over one scan computes every
    # component stat AND every row-level constraint's per-partition
    # violation count; no second decode of the tokens column)
    row_cs = [c for c in suite.constraints if c.kind in ROW_LEVEL_KINDS]
    row_conds = {c.name: _row_violation_cond(c) for c in row_cs}

    # referential constraints against a broadcast-sized dimension fold
    # into the fused pass as an isin condition (the dim would have been
    # collected for a broadcast join anyway); larger dims keep the
    # anti-join counting path below
    _REF_INLINE_MAX = 10_000
    inline_ref: set[str] = set()
    for c in suite.constraints:
        if c.kind != "referential":
            continue
        p = c.params
        dim_col = p.get("dim_column") or p["column"]
        # NULLs in the dim are dropped BEFORE isin: a None inside the
        # IN-list makes the predicate NULL (never true) for every
        # non-matching row under SQL three-valued logic, silently
        # zeroing the violation count.  A NULL dim key also can't
        # legitimise a NULL fact value — the anti-join path agrees.
        vals = (list(p["values"]) if "values" in p else
                [r[0] for r in single_job_limit_collect(
                    _resolve_dim(spark, p, dims)
                    .select(dim_col).where(F.col(dim_col).isNotNull())
                    .distinct(), _REF_INLINE_MAX + 1)])
        vals = [v for v in vals if v is not None]
        if len(vals) <= _REF_INLINE_MAX:
            col = F.col(p["column"])
            cond = col.isNull() | ~col.isin(vals)
            scope = _scope_cond(c)
            if scope is not None:
                cond = scope & cond
            row_conds[c.name] = cond
            inline_ref.add(c.name)

    # The fused stats pass and every set-level count below are
    # INDEPENDENT Spark actions — assembled as thunks and submitted
    # from a small thread pool, because serial driver actions leave
    # the cluster idle between stages (a reduce tail runs on a handful
    # of tasks while thousands of cores wait for the next job's scan).
    # Overlapping them fills that gap on a real cluster and hides the
    # shorter scans behind the fused pass locally; `concurrent_jobs=1`
    # restores strictly serial execution.
    def _fused():
        return build_profile_and_counts(
            df, suite.components, pcols, row_conds=row_conds,
            name=suite.name)

    actions: dict[str, object] = {"__fused__": _fused}

    # -- metric assertions (deequ hasSize/hasMean/freshness family) ------
    # stat_bounds reads the fused profile (zero extra scans — evaluated
    # after the pool below); freshness + row_count share ONE column-
    # pruned grouped agg; each distinctness is its own value-collapse
    # pass (distinct group keys cannot fuse).  All are verdict-only.
    metric_cs = [c for c in suite.constraints if c.kind in METRIC_KINDS]
    # `where`-scoped stat_bounds cannot read the (unscoped) fused
    # profile — they join freshness/row_count in the shared metric scan
    scan_metric_cs = [c for c in metric_cs
                      if c.kind in ("freshness", "row_count")
                      or (c.kind == "stat_bounds" and "where" in c.params)]
    if scan_metric_cs:
        actions["__metric_fused__"] = (
            lambda: metric_fused_values(df, scan_metric_cs, pcols,
                                        skip_stat_bounds=True))
    for c in metric_cs:
        if c.kind == "distinctness":
            actions[f"__dist__{c.name}"] = (
                lambda c=c: distinctness_values(df, c, pcols))
        elif c.kind == "ordering":
            actions[f"__dist__{c.name}"] = (
                lambda c=c: ordering_values(df, c, pcols))

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
    set_counts: dict[str, dict[str, int]] = {}
    violations: DataFrame | None = None
    if sink is not None:
        violations = _violation_rows(spark, df, suite, dims)
        violations.persist(StorageLevel.MEMORY_AND_DISK)
        if set_names:
            vframe = violations

            def _counted():
                rows = (vframe
                        .select("partition",
                                F.explode("errors").alias("constraint"))
                        .where(F.col("constraint").isin(set_names))
                        .groupBy("partition", "constraint")
                        .agg(F.count(F.lit(1)).alias("n")).collect())
                out: dict[str, dict[str, int]] = {n: {} for n in set_names}
                for r in rows:
                    out[r["constraint"]][r["partition"]] = r["n"]
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
            actions[name] = (lambda fr=frame: _frame_counts(fr))
        for c in suite.constraints:
            if c.kind == "unique":
                actions[c.name] = (
                    lambda c=c, keys=list(c.params["keys"]):
                    uniqueness_violation_counts(
                        _scoped_df(df, c), keys, pcols))
            elif c.kind == "referential" and c.name not in inline_ref:
                p = c.params
                dim = _resolve_dim(spark, p, dims)
                actions[c.name] = (
                    lambda c=c, p=p, dim=dim: referential_violation_counts(
                        _scoped_df(df, c), p["column"], dim, pcols,
                        p.get("dim_column")))
            elif c.kind == "fd":
                actions[c.name] = (
                    lambda c=c: _frame_counts(fd_violation_frame(
                        _scoped_df(df, c), c, pcols)))
            elif c.kind == "join_rule":
                actions[c.name] = (
                    lambda c=c: _frame_counts(join_rule_violation_frame(
                        _scoped_df(df, c), c, dims, pcols)))

    if concurrent_jobs > 1 and len(actions) > 1:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(
                max_workers=min(concurrent_jobs, len(actions))) as pool:
            futures = {k: pool.submit(v) for k, v in actions.items()}
            results = {k: f.result() for k, f in futures.items()}
    else:
        results = {k: v() for k, v in actions.items()}
    profile, counts_by_part = results.pop("__fused__")
    set_counts.update(results.pop("__viol_counts__", {}))
    metric_values: dict[str, dict] = results.pop("__metric_fused__", {})
    for k in [k for k in results if k.startswith("__dist__")]:
        metric_values[k[len("__dist__"):]] = results.pop(k)
    set_counts.update(results)
    for c in metric_cs:
        if c.kind == "stat_bounds" and "where" not in c.params:
            metric_values[c.name] = stat_value_from_profile(profile, c)

    # -- verdict assembly (driver-side; universe = every observed
    #    partition × every constraint, explicit passed=true rows) --------
    all_parts = sorted((set(counts_by_part)
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
            n = int((counts_by_part.get(part) or {}).get(name, 0))
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


def partition_lbl(row, pcols: list[str]) -> str:
    return "/".join(f"{c}={row[c]}" for c in pcols)


def _resolve_dim(spark: SparkSession, params: dict,
                 dims: dict[str, DataFrame] | None) -> DataFrame:
    """Referential dimension: inline value list or a named DataFrame."""
    if "values" in params:
        return spark.createDataFrame([(v,) for v in params["values"]],
                                     f"{params['column']} string")
    return (dims or {})[params["dim"]]


def _violation_rows(spark: SparkSession, df: DataFrame,
                    suite: ValidationSuite,
                    dims: dict[str, DataFrame] | None) -> DataFrame:
    """Full violation rows (original columns + partition + errors) —
    the sink payload.  Kept OUT of the verdict path: verdict counts
    come from the fused stats pass and column-pruned count jobs, so a
    no-sink run never pays the row-materialization scans."""
    pcols = suite.partition_cols
    frames: list[DataFrame] = []
    row_cs = [c for c in suite.constraints if c.kind in ROW_LEVEL_KINDS]
    if row_cs:
        frames.append(row_level_violations(df, row_cs, pcols))
    comp_cs = [c for c in suite.constraints if c.kind == "completeness"]
    frames.extend(f for _, f in
                  completeness_violation_frames(df, comp_cs, pcols))
    for c in suite.constraints:
        if c.kind == "unique":
            frames.append(uniqueness_violations(
                _scoped_df(df, c), list(c.params["keys"]), pcols, c.name))
        elif c.kind == "referential":
            p = c.params
            frames.append(referential_violations(
                _scoped_df(df, c), p["column"],
                _resolve_dim(spark, p, dims), pcols,
                p.get("dim_column"), c.name))
        elif c.kind == "fd":
            frames.append(fd_violation_frame(_scoped_df(df, c), c, pcols))
        elif c.kind == "join_rule":
            frames.append(join_rule_violation_frame(
                _scoped_df(df, c), c, dims, pcols))
    if not frames:
        return (df.limit(0)
                .withColumn("errors", F.array(F.lit("")))
                .withColumn("partition", partition_label_col(pcols)))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


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
    if baseline_checksums is None:
        changed_rows = cur.select(*pcols).collect()
    else:
        changed_rows = (checksum_diff(baseline_checksums, cur, pcols)
                        .select(*pcols).collect())
    changed = sorted(partition_lbl(r, pcols) for r in changed_rows)
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

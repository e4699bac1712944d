"""Constraint evaluation — rdv's validate/check rebuilt set-at-a-time.

The reference validates ONE row per call (rdv Schema.validate, SURVEY.md
O4/O5/E2); here every row-level check is a vectorized Catalyst boolean
column evaluated in a single ``select`` over the table, violations are
``filter(size(errors) > 0)``, and per-partition pass/fail verdicts are a
``groupBy(partition)`` over exploded error names.  Set-level checks:

* ``unique``      — explicit two-phase (salted) distinct: partial count
                    per (keys, input-split) then final sum, so one hot
                    doc_id can never overload a single reducer (S8).
* ``referential`` — broadcast ``left_anti`` join against the dimension (J1).

Every violation row carries the full original row (token-array-equality
invariant, BASELINE.json:15), the partition label, and an
``errors: array<string>`` of failed constraint names.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_validation_spark.plans.suite import (
    DISTINCTNESS_METRICS,
    STAT_BOUNDS_STATS,
    Constraint,
    ValidationSuite,
)

ROW_LEVEL_KINDS = ("bounds", "in_domain", "not_null", "expression",
                   "pattern")
SET_LEVEL_KINDS = ("unique", "referential", "fd", "completeness",
                   "join_rule")
#: set-level METRIC assertions (deequ's hasSize/hasMean/hasDistinctness/
#: freshness family): no violation rows exist — a breached table-level
#: metric is one fact, not a set of rows — so a breach surfaces as a
#: single failed verdict with n_violations=1.  A stat the run could not
#: produce (empty partition, wrong ctype) fails CLOSED: it cannot prove
#: the assertion, so passed=false (same stance as `expression` NULLs).
METRIC_KINDS = ("stat_bounds", "row_count", "freshness", "distinctness",
                "ordering")
SUPPORTED_KINDS = (ROW_LEVEL_KINDS + SET_LEVEL_KINDS + METRIC_KINDS
                   + ("drift",))


def partition_label_col(partition_cols: list[str]) -> Column:
    if not partition_cols:
        return F.lit("<global>")
    parts = [F.concat(F.lit(f"{c}="), F.col(c).cast("string"))
             for c in partition_cols]
    return F.concat_ws("/", *parts)


def _scope_cond(c: Constraint) -> Column | None:
    """Optional ``params["where"]`` — deequ's analyzer ``where`` option:
    a boolean SQL expression restricting the constraint to rows where it
    evaluates TRUE.  NULL/false = out of scope (a row the filter cannot
    prove in-scope is not judged — the scope is a filter, not an
    assertion; assertions about the filter column belong in their own
    constraint).  Every kind but ``drift`` honors it; schema pre-flight
    rejects non-boolean scopes before any job runs."""
    if "where" in c.params:
        return F.coalesce(F.expr(c.params["where"]), F.lit(False))
    return None


def _scoped_df(df: DataFrame, c: Constraint) -> DataFrame:
    """Set-level scope application: filter BEFORE the operator so the
    predicate pushes down to the scan (a scoped uniqueness check over
    1% of a 10^12-row table reads ~1% of the row groups when the scope
    column is clustered — never pay the full pass then discard)."""
    scope = _scope_cond(c)
    return df.filter(scope) if scope is not None else df


def _row_violation_cond(c: Constraint) -> Column:
    p = c.params
    scope = _scope_cond(c)
    if scope is not None:
        # conjoin INSIDE the fused pass: scoped row-level checks still
        # ride the single vectorized scan (out-of-scope rows simply
        # never trip the flag), so N scopes cost zero extra jobs
        return scope & _row_violation_cond(
            Constraint(c.name, c.kind,
                       {k: v for k, v in p.items() if k != "where"}))
    if c.kind == "bounds":
        col = F.expr((p["expr"] if "expr" in p else p["component"]))
        cond = F.lit(False)
        if p.get("min") is not None:
            cond = cond | (col < F.lit(p["min"]))
        if p.get("max") is not None:
            cond = cond | (col > F.lit(p["max"]))
        return F.coalesce(cond, F.lit(False))  # NULL → not a bounds error
    if c.kind == "in_domain":
        col = F.expr((p["expr"] if "expr" in p else p["component"]))
        return col.isNotNull() & ~col.isin(list(p["values"]))
    if c.kind == "not_null":
        return F.expr((p["expr"] if "expr" in p else p["component"])).isNull()
    if c.kind == "expression":
        # row passes iff the SQL predicate is true; NULL result = violation
        return ~F.coalesce(F.expr(p["sql"]), F.lit(False))
    if c.kind == "pattern":
        # deequ hasPattern: non-null values must MATCH the (Java) regex.
        # Containment semantics like rlike — anchor with ^...$ to pin the
        # whole value.  Values render via CAST AS STRING so the check
        # composes with numeric/date columns; NULL is not a pattern
        # violation (that's not_null's job).  Keep patterns RE2-portable
        # (no backrefs/lookaround) so oracles replay engine-identically.
        col = F.expr((p["expr"] if "expr" in p else p["component"])).cast("string")
        return col.isNotNull() & ~col.rlike(p["pattern"])
    raise ValueError(f"not a row-level constraint: {c.kind}")


def uniqueness_violation_counts(df: DataFrame, keys: list[str],
                                partition_cols: list[str]) -> dict[str, int]:
    """Per-partition count of rows whose key is duplicated — the
    counts-only sibling of ``uniqueness_violations``: projects only
    (keys ∪ partition_cols), so the scan never decodes payload columns.

    SINGLE-scan plan (the r2 shape re-scanned the table for a semi-join
    against the duplicated keys — a whole second pass of the key
    columns at 100 TB):

    1. partial ``groupBy(keys, partition-label)`` with count — map-side
       combine; phase-2 group size per key = #labels that key appears
       under (bounded by the table's logical partitions, so a hot key
       never concentrates its ROWS on one reducer, only its per-label
       count rows);
    2. per-key total via ``sum() over (partition by keys)`` — rides the
       same key-hash exchange, no extra shuffle;
    3. filter total > 1, re-aggregate the surviving narrow count rows
       by label (tiny: only duplicated keys).
    """
    label = partition_label_col(partition_cols).alias("__label")
    per_key_label = (df.select(*keys, label)
                     .groupBy(*keys, "__label")
                     .agg(F.count(F.lit(1)).alias("__c")))
    w = Window.partitionBy(*keys)
    rows = (per_key_label
            .withColumn("__n", F.sum("__c").over(w))
            .where(F.col("__n") > 1)
            .groupBy(F.col("__label").alias("partition"))
            .agg(F.sum("__c").alias("n")).collect())
    return {r["partition"]: int(r["n"]) for r in rows}


def referential_violation_counts(df: DataFrame, column: str, dim: DataFrame,
                                 partition_cols: list[str],
                                 dim_column: str | None = None
                                 ) -> dict[str, int]:
    """Per-partition count of rows whose key is absent from the
    dimension — counts-only sibling of ``referential_violations``
    (pruned scan, broadcast anti-join, no payload columns)."""
    dim_column = dim_column or column
    cols = list(dict.fromkeys([column, *partition_cols]))
    slim = df.select(*cols)
    dim_keys = dim.select(F.col(dim_column).alias(column)).distinct()
    rows = (slim.join(F.broadcast(dim_keys), on=column, how="left_anti")
            .groupBy(partition_label_col(partition_cols).alias("partition"))
            .agg(F.count(F.lit(1)).alias("n")).collect())
    return {r["partition"]: r["n"] for r in rows}


def row_level_violations(df: DataFrame, constraints: list[Constraint],
                         partition_cols: list[str]) -> DataFrame:
    """One vectorized pass: all row-level checks as boolean columns,
    violations = rows with a non-empty ``errors`` array."""
    flags = [F.when(_row_violation_cond(c), F.lit(c.name))
             for c in constraints]
    out = (df
           .withColumn("errors", F.array_compact(F.array(*flags)))
           .withColumn("partition", partition_label_col(partition_cols)))
    return out.filter(F.array_size("errors") > 0)


def uniqueness_violations(df: DataFrame, keys: list[str],
                          partition_cols: list[str],
                          constraint_name: str = "unique") -> DataFrame:
    """S8 — explicit two-phase distinct count on the key.

    Phase 1 groups by (keys, spark_partition_id): identical hot keys are
    split across input partitions, so phase-1 reducers see bounded
    groups.  Phase 2 sums the partial counts per key (tiny — one row per
    distinct key per input split).  Keys with total > 1 are duplicated;
    the violation rows are the original rows semi-joined on those keys.
    """
    partial = (df.select(*keys)
               .withColumn("__split", F.spark_partition_id())
               .groupBy(*keys, "__split").agg(F.count(F.lit(1)).alias("__c")))
    dup_keys = (partial.groupBy(*keys).agg(F.sum("__c").alias("__n"))
                .filter(F.col("__n") > 1).select(*keys))
    return (df.join(dup_keys, on=keys, how="left_semi")
            .withColumn("errors", F.array(F.lit(constraint_name)))
            .withColumn("partition", partition_label_col(partition_cols)))


def duplicate_key_counts(df: DataFrame, keys: list[str]) -> DataFrame:
    """Key-level uniqueness report: ``(keys..., n_rows)`` for every key
    occurring more than once — the same salted two-phase plan as
    ``uniqueness_violations`` but WITHOUT the row-retrieval semi-join:
    phase 2 already holds each key's total multiplicity, so recounting
    via a join back is a full extra pass over the table.  At 10^12
    rows the key-level report is the thing you look at first; fetch
    actual rows (``uniqueness_violations``) only for keys you will act
    on."""
    partial = (df.select(*keys)
               .withColumn("__split", F.spark_partition_id())
               .groupBy(*keys, "__split").agg(F.count(F.lit(1)).alias("__c")))
    return (partial.groupBy(*keys).agg(F.sum("__c").alias("n_rows"))
            .filter(F.col("n_rows") > 1))


def referential_violations(df: DataFrame, column: str, dim: DataFrame,
                           partition_cols: list[str],
                           dim_column: str | None = None,
                           constraint_name: str = "referential") -> DataFrame:
    """J1 — rows whose ``column`` is absent from the (small, broadcast)
    dimension.  NULL keys are violations too (they reference nothing)."""
    dim_column = dim_column or column
    dim_keys = dim.select(F.col(dim_column).alias(column)).distinct()
    missing = df.join(F.broadcast(dim_keys), on=column, how="left_anti")
    return (missing
            .withColumn("errors", F.array(F.lit(constraint_name)))
            .withColumn("partition", partition_label_col(partition_cols)))


def split_valid_invalid(df: DataFrame, suite: ValidationSuite
                        ) -> tuple[DataFrame, DataFrame]:
    """Quarantine split — the deploy-time shape of row-level
    validation: ONE vectorized pass tags every row, then
    ``(clean, quarantined)`` come back as two filters over the same
    tagged frame (cache it if both sides are consumed): clean rows keep
    the input schema exactly (downstream contracts unchanged),
    quarantined rows carry ``errors`` + ``partition`` like every other
    violation frame so they union straight into the violations sink.
    Row-level kinds only — set/metric-level verdicts are table facts
    and cannot condemn a specific row; run ``run_validation`` for
    those."""
    row_cs = [c for c in suite.resolved_constraints()
              if c.kind in ROW_LEVEL_KINDS]
    if not row_cs:
        raise ValueError("split_valid_invalid: the suite has no "
                         "row-level constraints")
    flags = [F.when(_row_violation_cond(c), F.lit(c.name)) for c in row_cs]
    tagged = df.withColumn("errors", F.array_compact(F.array(*flags)))
    clean = tagged.filter(F.array_size("errors") == 0).drop("errors")
    quarantined = (tagged.filter(F.array_size("errors") > 0)
                   .withColumn("partition",
                               partition_label_col(suite.partition_cols)))
    return clean, quarantined


def validation_tags(df: DataFrame, suite: ValidationSuite) -> DataFrame:
    """rdv-style per-row tag output (SURVEY.md O4/O5 tags): every input
    row gains ``tags: array<struct<type,name,value,group>>`` holding

    * one **feature-value tag** per suite component
      (``type='feature'``, name=component, value=extracted value), and
    * one **error tag** per failed row-level constraint
      (``type='error'``, name=constraint, value=the offending
      component's value where the constraint names one).

    The reference checkout is empty, so the exact rdv tag *type
    strings* are a documented reconstruction of SURVEY.md §1.1's
    ``{type, name, value, group}`` shape — re-verify the literals
    against the real source if it appears (group = suite name stands in
    for rdv's schema group).  Vectorized: one projection, no UDF."""
    constraints = suite.resolved_constraints()
    row_cs = [c for c in constraints if c.kind in ROW_LEVEL_KINDS]
    group = F.lit(suite.name)

    def tag(ttype: str, name: str, value: Column) -> Column:
        return F.struct(F.lit(ttype).alias("type"), F.lit(name).alias("name"),
                        value.cast("string").alias("value"),
                        group.alias("group"))

    feature_tags = [tag("feature", c.name, F.expr(c.expr))
                    for c in suite.components]
    error_tags = []
    for c in row_cs:
        comp = c.params.get("component")
        val = F.expr(comp) if comp else F.lit(None)
        error_tags.append(F.when(_row_violation_cond(c),
                                 tag("error", c.name, val)))
    return df.withColumn(
        "tags", F.array_compact(F.array(*feature_tags, *error_tags)))


@dataclass
class ConstraintRun:
    """Distributed outputs of one evaluation pass."""
    violations: DataFrame          # input cols + partition + errors
    verdicts: DataFrame            # partition, constraint, n_violations, passed
    constraint_names: list[str] = field(default_factory=list)


def evaluate_constraints(df: DataFrame, suite: ValidationSuite,
                         dims: dict[str, DataFrame] | None = None
                         ) -> ConstraintRun:
    """Evaluate all row/set-level constraints of ``suite``.

    ``dims`` maps dimension names (referenced by referential constraints
    via ``params["dim"]``) to DataFrames; a referential constraint may
    instead inline ``params["values"]``.  Drift constraints are profile-
    level and handled by operators/contrast.py + plans/runner.py.
    """
    dims = dims or {}
    pcols = suite.partition_cols
    frames: list[DataFrame] = []
    names: list[str] = []

    constraints = suite.resolved_constraints()
    row_cs = [c for c in constraints if c.kind in ROW_LEVEL_KINDS]
    if row_cs:
        frames.append(row_level_violations(df, row_cs, pcols))
        names += [c.name for c in row_cs]

    comp_cs = [c for c in constraints if c.kind == "completeness"]
    for name, frame in completeness_violation_frames(df, comp_cs, pcols):
        frames.append(frame)
        names.append(name)

    for c in constraints:
        if c.kind == "unique":
            frames.append(uniqueness_violations(
                _scoped_df(df, c), list(c.params["keys"]), pcols, c.name))
            names.append(c.name)
        elif c.kind == "fd":
            frames.append(fd_violation_frame(_scoped_df(df, c), c, pcols))
            names.append(c.name)
        elif c.kind == "join_rule":
            frames.append(join_rule_violation_frame(
                _scoped_df(df, c), c, dims, pcols))
            names.append(c.name)
        elif c.kind == "referential":
            p = c.params
            if "values" in p:
                spark = df.sparkSession
                dim = spark.createDataFrame(
                    [(v,) for v in p["values"]], f"{p['column']} string")
            else:
                dim = dims[p["dim"]]
            frames.append(referential_violations(
                _scoped_df(df, c), p["column"], dim, pcols,
                p.get("dim_column"), c.name))
            names.append(c.name)

    spark = df.sparkSession
    if frames:
        violations = frames[0]
        for f in frames[1:]:
            violations = violations.unionByName(f, allowMissingColumns=True)
    else:
        violations = (df.limit(0)
                      .withColumn("errors", F.array(F.lit("")))
                      .withColumn("partition", partition_label_col(pcols)))

    # verdict universe: every (partition × constraint), so partitions with
    # zero violations still get an explicit passed=true row
    parts = (df.select(partition_label_col(pcols).alias("partition"))
             .distinct())
    cons = spark.createDataFrame([(n,) for n in names] or [("<none>",)],
                                 "constraint string")
    counts = (violations
              .select("partition", F.explode("errors").alias("constraint"))
              .groupBy("partition", "constraint")
              .agg(F.count(F.lit(1)).alias("n_violations")))
    verdicts = (parts.crossJoin(F.broadcast(cons))
                .join(counts, ["partition", "constraint"], "left")
                .withColumn("n_violations",
                            F.coalesce("n_violations", F.lit(0)))
                .withColumn("passed", F.col("n_violations") == 0))
    if not names:
        verdicts = verdicts.filter(F.lit(False))

    # metric assertions: measured by the shared scans, evaluated driver-
    # side (numPartitions-bounded rows), appended as explicit verdicts —
    # they contribute no violation rows by definition (see METRIC_KINDS)
    metric_cs = [c for c in constraints if c.kind in METRIC_KINDS]
    if metric_cs:
        vals = metric_fused_values(df, metric_cs, pcols)
        for c in metric_cs:
            if c.kind == "distinctness":
                vals[c.name] = distinctness_values(df, c, pcols)
            elif c.kind == "ordering":
                vals[c.name] = ordering_values(df, c, pcols)
        observed = sorted({p for d in vals.values() for p in d}) \
            or ["<global>"]
        mrows = metric_verdict_rows(vals, metric_cs, observed)
        mdf = spark.createDataFrame(
            [(r["partition"], r["constraint"], r["n_violations"],
              r["passed"]) for r in mrows],
            "partition string, constraint string, n_violations long, "
            "passed boolean")
        verdicts = verdicts.unionByName(mdf)
        names += [c.name for c in metric_cs]
    return ConstraintRun(violations=violations, verdicts=verdicts,
                         constraint_names=names)


def completeness_violation_frames(df: DataFrame, comp_cs: list[Constraint],
                                  pcols: list[str]
                                  ) -> list[tuple[str, DataFrame]]:
    """completeness: ALL ratios in ONE fused aggregate pass (N
    assertions must not cost N table scans), broadcast back as a
    single row — the lazy set-level trick: NULL rows are flagged only
    when their column's table-level ratio breaks min_ratio; when every
    assertion holds the filters are statically empty, and no driver
    action runs.  Returns ``(constraint name, violation frame)`` pairs
    (shared by evaluate_constraints and run_validation)."""
    if not comp_cs:
        return []
    exprs = {c.name: F.expr((c.params["expr"] if "expr" in c.params else c.params["component"]))
             for c in comp_cs}
    scopes = {c.name: _scope_cond(c) for c in comp_cs}

    def _ratio(c: Constraint) -> Column:
        e, s = exprs[c.name], scopes[c.name]
        if s is None:
            return F.count(e) / F.count(F.lit(1))
        # scoped ratio stays inside the SAME fused agg via conditional
        # aggregation; an empty scope yields NULL (0/0) — no rows in
        # scope means nothing to flag, the filter below stays empty
        return (F.count(F.when(s, e))
                / F.nullif(F.sum(F.when(s, 1).otherwise(0)), F.lit(0)))

    ratios = df.agg(*[_ratio(c).alias(f"__r_{i}")
                      for i, c in enumerate(comp_cs)])
    with_r = df.crossJoin(F.broadcast(ratios))
    out = []
    for i, c in enumerate(comp_cs):
        null_in_scope = exprs[c.name].isNull() if scopes[c.name] is None \
            else (scopes[c.name] & exprs[c.name].isNull())
        out.append((c.name,
                    with_r.filter(
                        (F.col(f"__r_{i}")
                         < F.lit(float(c.params["min_ratio"])))
                        & null_in_scope)
                    .drop(*[f"__r_{j}" for j in range(len(comp_cs))])
                    .withColumn("errors", F.array(F.lit(c.name)))
                    .withColumn("partition", partition_label_col(pcols))))
    return out


def fd_violation_frame(df: DataFrame, c: Constraint,
                       pcols: list[str]) -> DataFrame:
    """Rows whose determinant key breaks the functional dependency —
    the group-collapsed key frame is shuffle-small, the row retrieval
    is a left_semi join back (never a window over the table)."""
    p = c.params
    bad_keys = functional_dependency_violations(
        df, list(p["determinant"]), p["dependent"]
    ).select(*p["determinant"])
    return (df.join(bad_keys, list(p["determinant"]), "left_semi")
            .withColumn("errors", F.array(F.lit(c.name)))
            .withColumn("partition", partition_label_col(pcols)))


def join_rule_violation_frame(df: DataFrame, c: Constraint,
                              dims: dict[str, DataFrame] | None,
                              pcols: list[str]) -> DataFrame:
    """cross-table row rule: join a dimension and assert a predicate
    over the combined row ("purchase after the user's signup").  LEFT
    join: a missing dim row leaves dim columns NULL, the predicate
    evaluates NULL, and NULL == violation (same fail-closed stance as
    `expression`) — an event whose user never signed up IS a violation
    of "after signup".  Dim columns must not collide with df columns
    (alias in the dim frame); violations keep df's columns only so the
    frame shape matches every other kind."""
    p = c.params
    if not dims or p["dim"] not in dims:
        raise ValueError(
            f"join_rule constraint {c.name!r}: dimension {p['dim']!r} "
            f"not provided in dims (got: {sorted(dims or {})})")
    # dims share referential's contract: broadcast-sized by definition
    # (the fact table is the 10^12-row side and must never shuffle for
    # a suite constraint; a table-scale "dimension" belongs in a
    # pre-bucketed upstream join, not here).  Explicit hint because
    # driver-built dims (createDataFrame → ExistingRDD) carry no stats
    # for the auto-broadcast threshold.
    joined = df.join(F.broadcast(dims[p["dim"]]), on=list(p["on"]),
                     how="left")
    return (joined.filter(~F.coalesce(F.expr(p["sql"]), F.lit(False)))
            .select(*df.columns)
            .withColumn("errors", F.array(F.lit(c.name)))
            .withColumn("partition", partition_label_col(pcols)))


def functional_dependency_violations(df: DataFrame, determinant: list[str],
                                     dependent: str) -> DataFrame:
    """Keys that break the functional dependency ``determinant ->
    dependent`` (deequ's hasUniqueValueRatio / FD check): one row per
    violating key with how many distinct dependent values it maps to
    and its row count.

    Exact and scale-shaped: collapse to (determinant, dependent)
    groups first (map-side combinable — the shuffle carries group
    cardinality, not rows), then count groups per key; a second tiny
    agg keyed by the determinant.  NULL dependents count as a distinct
    value (a key mapping to both X and NULL is inconsistent — SQL
    count(distinct) would hide it, so groups are counted, not
    distinct values).
    """
    pairs = (df.groupBy(*determinant,
                        F.col(dependent).alias("__dep"))
             .agg(F.count(F.lit(1)).alias("__n")))
    return (pairs.groupBy(*determinant)
            .agg(F.count(F.lit(1)).alias("n_distinct_dependents"),
                 F.sum("__n").alias("n_rows"))
            .filter(F.col("n_distinct_dependents") > 1))


# ---------------------------------------------------------------------------
# METRIC assertions (deequ hasSize / hasMean / hasDistinctness / freshness)
# ---------------------------------------------------------------------------
#
# Shared by evaluate_constraints and plans/runner.run_validation so both
# paths compute identical verdicts:
#   * value scan  — metric_fused_values (ONE column-pruned grouped agg for
#                   every stat_bounds + freshness + row_count constraint) and
#                   distinctness_values (one two-phase value-collapse per
#                   constraint; different group keys cannot fuse);
#   * evaluation  — metric_breach (driver-side, ~numPartitions rows).
# run_validation additionally reads stat_bounds values straight from the
# fused profile (zero extra scans); a parity test pins the two sources to
# identical verdicts.



def as_of_micros(params: dict) -> int:
    """freshness ``as_of`` → epoch microseconds.  Accepts epoch seconds
    (int/float) or an ISO-8601 string; a naive string is interpreted as
    UTC (never the driver's local zone — a validation verdict must not
    depend on where the driver runs)."""
    import datetime as _dt
    v = params["as_of"]
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return int(v * 1_000_000)
    ts = _dt.datetime.fromisoformat(str(v))
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    return int(ts.timestamp() * 1_000_000)


def _stat_bounds_agg(c: Constraint) -> Column:
    p = c.params
    raw = F.expr((p["expr"] if "expr" in p else p["component"]))
    scope = _scope_cond(c)
    # conditional aggregation: `when` without `otherwise` yields NULL
    # for out-of-scope rows and every agg below ignores NULLs, so a
    # scoped stat STILL rides the shared fused metric scan — N scoped
    # assertions never multiply the number of passes
    expr = raw if scope is None else F.when(scope, raw)
    stat = p["stat"]
    if stat == "min":
        return F.min(expr)
    if stat == "max":
        return F.max(expr)
    if stat == "mean":
        return F.avg(expr)
    if stat == "std":
        # sample stddev — matches the profile's np.std(ddof=1)
        return F.stddev_samp(expr)
    if stat == "pinv":
        bad = (raw.isNull() | F.isnan(raw.cast("double"))).cast("double")
        return F.avg(bad if scope is None else F.when(scope, bad))
    if stat == "n":
        if scope is not None:
            return F.sum(F.when(scope, 1).otherwise(0))
        return F.count(F.lit(1))
    raise ValueError(f"stat_bounds {c.name!r}: unknown stat {stat!r} "
                     f"(supported: {STAT_BOUNDS_STATS})")


def metric_fused_frame(df: DataFrame, metric_cs: list[Constraint],
                       pcols: list[str],
                       skip_stat_bounds: bool = False
                       ) -> tuple[DataFrame | None, list[Constraint]]:
    """ONE grouped aggregation measuring every stat_bounds / freshness /
    row_count constraint per partition — no explicit select: Catalyst
    prunes the scan to (pcols ∪ referenced exprs) from the agg alone
    (asserted in PLANS.md), so on parquet a row_count-only suite
    degenerates to a metadata-weight count scan.  Returns the frame
    (columns ``__label, __m_0..``) and the constraints in column order."""
    aggs: list[Column] = []
    keep: list[Constraint] = []
    for c in metric_cs:
        scope = _scope_cond(c)
        if c.kind == "stat_bounds" and not (skip_stat_bounds
                                            and scope is None):
            # skip_stat_bounds only skips UNSCOPED stat_bounds (those
            # read the fused profile for free); a `where`-scoped stat
            # cannot come from the unscoped profile, so it is measured
            # here regardless
            aggs.append(_stat_bounds_agg(c).alias(f"__m_{len(keep)}"))
        elif c.kind == "freshness":
            ts = F.expr((c.params["expr"] if "expr" in c.params else c.params["component"])) \
                .cast("timestamp")
            us = F.unix_micros(ts)
            aggs.append(F.max(us if scope is None else F.when(scope, us))
                        .alias(f"__m_{len(keep)}"))
        elif c.kind == "row_count":
            cnt = F.count(F.lit(1)) if scope is None \
                else F.sum(F.when(scope, 1).otherwise(0))
            aggs.append(cnt.alias(f"__m_{len(keep)}"))
        else:
            continue
        keep.append(c)
    if not keep:
        return None, []
    label = partition_label_col(pcols).alias("__label")
    return df.groupBy(label).agg(*aggs), keep


def metric_fused_values(df: DataFrame, metric_cs: list[Constraint],
                        pcols: list[str],
                        skip_stat_bounds: bool = False
                        ) -> dict[str, dict[str, object]]:
    """Collected form of ``metric_fused_frame``: ``values[constraint]
    [partition] = measured value`` (freshness values are epoch micros).
    Driver-bounded: one row per logical partition."""
    frame, keep = metric_fused_frame(df, metric_cs, pcols,
                                     skip_stat_bounds)
    if frame is None:
        return {}
    out: dict[str, dict[str, object]] = {c.name: {} for c in keep}
    for r in frame.collect():
        for i, c in enumerate(keep):
            out[c.name][r["__label"]] = r[f"__m_{i}"]
    return out


def distinctness_frame(df: DataFrame, c: Constraint,
                       pcols: list[str]) -> DataFrame:
    """The two-phase distinctness plan (see ``distinctness_values``):
    value-collapse groupBy then per-partition integer agg.  Exposed for
    the plan audit; columns ``__label, __d, __u, __n``."""
    cols = list(c.params["columns"])
    label = partition_label_col(pcols).alias("__label")
    df = _scoped_df(df, c)  # scope filter pushes down past the collapse
    per_val = (df.select(label, *cols)
               .groupBy("__label", *cols)
               .agg(F.count(F.lit(1)).alias("__c")))
    return (per_val.groupBy("__label")
            .agg(F.count(F.lit(1)).alias("__d"),
                 F.sum(F.when(F.col("__c") == 1, 1).otherwise(0))
                 .alias("__u"),
                 F.sum("__c").alias("__n")))


def distinctness_values(df: DataFrame, c: Constraint,
                        pcols: list[str]) -> dict[str, float]:
    """Per-partition distinctness metric for one constraint:
    ``distinct_ratio`` = #distinct value-tuples / #rows, ``unique_ratio``
    = #tuples occurring exactly once / #rows (deequ hasDistinctness /
    hasUniqueValueRatio).  NULL counts as a value — a NULL-riddled "key"
    must not read as unique.  Two-phase: value-collapse groupBy (map-side
    combinable; shuffle carries value cardinality, never rows), then a
    per-partition integer agg; one exact division at the end."""
    p = c.params
    metric = p.get("metric", "distinct_ratio")
    if metric not in DISTINCTNESS_METRICS:
        raise ValueError(f"distinctness {c.name!r}: unknown metric "
                         f"{metric!r} (supported: {DISTINCTNESS_METRICS})")
    rows = distinctness_frame(df, c, pcols).collect()
    out: dict[str, float] = {}
    for r in rows:
        num = r["__d"] if metric == "distinct_ratio" else r["__u"]
        out[r["__label"]] = (num / r["__n"]) if r["__n"] else None
    return out


def ordering_values(df: DataFrame, c: Constraint,
                    pcols: list[str]) -> dict[str, dict]:
    """Per-partition out-of-order measurement for one ``ordering``
    constraint (the declarative form of health.event_order_report):
    per ``key``, a cumulative event-time max over ``arrival`` order
    tags each row late or on-time; rows then aggregate into THEIR
    partition's counters.  Value per partition:
    ``{n, late_micro (= n_late·10⁶ div n, exact), max_us}``.  One
    key-hash window pass per constraint — its own scan, like
    distinctness (a per-key sort cannot fuse into the grouped stats
    pass).  Honors ``where`` by filtering before the window."""
    p = c.params
    df = _scoped_df(df, c)
    ts_expr = (p["expr"] if "expr" in p else p["component"])
    ts_us = F.unix_micros(F.expr(ts_expr).cast("timestamp"))
    w = (Window.partitionBy("__k").orderBy("__a")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tagged = (df.select(partition_label_col(pcols).alias("__label"),
                        F.col(p["key"]).alias("__k"),
                        F.col(p["arrival"]).alias("__a"),
                        ts_us.alias("__ts"))
              .withColumn("__lat", F.max("__ts").over(w) - F.col("__ts")))
    rows = (tagged.groupBy("__label")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(F.col("__lat") > 0, 1).otherwise(0))
                 .alias("n_late"),
                 F.max("__lat").alias("max_us")).collect())
    out: dict[str, dict] = {}
    for r in rows:
        out[r["__label"]] = {
            "n": int(r["n"]),
            "late_micro": (int(r["n_late"]) * 1_000_000) // int(r["n"])
            if r["n"] else None,
            "max_us": int(r["max_us"]) if r["max_us"] is not None else 0}
    return out


def stat_value_from_profile(profile, c: Constraint):
    """stat_bounds value source inside run_validation: the fused stats
    pass already computed every component stat, so the assertion is free
    post-processing.  Returns ``{partition: value}`` over the profile's
    partitions plus '<global>'."""
    p = c.params
    comp, stat = p["component"], p["stat"]
    out: dict[str, object] = {}
    gl = profile.components.get(comp)
    out["<global>"] = getattr(gl.stats, stat, None) \
        if gl is not None and gl.stats is not None else None
    for part, comps in profile.partitions.items():
        pc = comps.get(comp)
        out[part] = getattr(pc.stats, stat, None) \
            if pc is not None and pc.stats is not None else None
    return out


def metric_breach(c: Constraint, value) -> bool:
    """Shared verdict rule for every METRIC kind.  ``value`` is the
    measured metric (freshness: max epoch micros).  None (no rows /
    stat not produced) fails closed."""
    p = c.params
    if value is None:
        return True
    if c.kind == "ordering":
        # composite value from ordering_values; both thresholds are
        # "at most" assertions and either breach fails the partition
        lr, ms = p.get("max_late_ratio"), p.get("max_lateness_seconds")
        breach = False
        if lr is not None:
            lm = value.get("late_micro")
            breach |= lm is None or lm > float(lr) * 1_000_000
        if ms is not None:
            breach |= value.get("max_us", 0) > float(ms) * 1_000_000
        return breach
    if c.kind == "freshness":
        threshold = as_of_micros(p) - int(float(p["max_age_seconds"])
                                          * 1_000_000)
        return int(value) < threshold
    lo, hi = p.get("min"), p.get("max")
    v = float(value)
    return ((lo is not None and v < float(lo))
            or (hi is not None and v > float(hi)))


def metric_verdict_rows(values_by_constraint: dict[str, dict[str, object]],
                        constraints: list[Constraint],
                        all_parts: list[str]) -> list[dict]:
    """Compose measured values into verdict dicts over the FULL
    partition universe: a partition the metric scan never saw (no rows)
    still gets an explicit fail-closed row for assertions that demand
    evidence."""
    by_name = {c.name: c for c in constraints}
    rows: list[dict] = []
    for name, per_part in values_by_constraint.items():
        c = by_name[name]
        for part in all_parts:
            breach = metric_breach(c, per_part.get(part))
            rows.append({"partition": part, "constraint": name,
                         "n_violations": 1 if breach else 0,
                         "passed": not breach})
    return rows

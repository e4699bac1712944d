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

Every per-partition result is keyed by ONE label, formatted in Catalyst
by ``partition_label_col`` (``c=v/...``, a NULL value as
``c=__HIVE_DEFAULT_PARTITION__``); aggregates attach it after grouping
(``with_label``), once per group.

Each evaluation step has ONE implementation here, which
``evaluate_constraints`` (and so ``validate_stream``) and
``plans/runner.run_validation`` both call: ``resolve_dim`` (dimension
lookup), ``set_violation_frame`` / ``violation_frame`` (violation rows),
``violation_counts`` (per-partition counts of a violation frame),
``metric_aggs`` (the aggregate measuring each stat_bounds / row_count /
freshness constraint) and ``metric_value_thunks`` (the actions that
measure the rest).  The runner's no-sink path adds counts-only plans
(``uniqueness_violation_counts``, ``referential_violation_counts`` and
the fused stats pass) that never materialize violation rows.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_validation_spark.functions.stats import _invalid_valid
from data_validation_spark.operators.health import lateness_us
from data_validation_spark.plans.suite import (
    DISTINCTNESS_METRICS,
    STAT_BOUNDS_STATS,
    Component,
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


#: how a NULL partition value renders in a label — the name Spark gives
#: the directory of a NULL partition
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"
#: the label column of a per-partition aggregate (``with_label``)
LABEL = "__label"


#: characters escaped in a label's values, ``%`` first, as Spark's
#: partition directory names escape them — so no two partitions share
#: one label
_ESCAPES = (("%", "%25"), ("/", "%2F"), ("=", "%3D"))


def partition_label_col(partition_cols: list[str]) -> Column:
    """The engine's one partition label, keying every verdict, violation
    row, profile partition and manifest row: ``c=v`` per partition
    column, joined by ``/``.  ``v`` is the value cast to string as
    Spark's partition paths write it (booleans ``true``/``false``, dates
    ``2024-01-31``, ``%`` ``/`` ``=`` as ``%25`` ``%2F`` ``%3D``); a
    NULL value is ``c=__HIVE_DEFAULT_PARTITION__``.  No partition
    columns: ``<global>``."""
    if not partition_cols:
        return F.lit("<global>")
    parts = []
    for c in partition_cols:
        v = F.col(c).cast("string")
        for ch, esc in _ESCAPES:
            v = F.replace(v, F.lit(ch), F.lit(esc))
        parts.append(F.concat(F.lit(f"{c}="),
                              F.coalesce(v, F.lit(NULL_PARTITION))))
    return F.concat_ws("/", *parts)


def with_label(grouped: DataFrame, partition_cols: list[str]) -> DataFrame:
    """``grouped`` — an aggregate keyed by (at least) the partition
    columns — plus its ``LABEL`` column: one label per group, never one
    per input row."""
    return grouped.withColumn(LABEL, partition_label_col(partition_cols))


def _by_partition(frame: DataFrame, partition_cols: list[str]):
    """``frame.groupBy(*partition_cols)``, except that with no partition
    columns an empty ``frame`` still yields no group (a global aggregate
    would yield one row of NULLs and zeros)."""
    return frame.groupBy(*(partition_cols or [F.lit(0).alias("__all")]))


def agg_col(name: str) -> str:
    """The column holding constraint ``name``'s per-partition aggregate
    — prefixed so no constraint name collides with a partition column
    or a component's stat column."""
    return f"__x_{name}"


def count_when(cond: Column) -> Column:
    """The aggregate counting the rows where ``cond`` is TRUE."""
    return F.sum(F.when(cond, 1).otherwise(0))


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


def _target(p: dict) -> Column:
    """The value a component-style constraint checks: its ``expr`` if
    given, else its ``component``."""
    return F.expr(p["expr"] if "expr" in p else p["component"])


def _flagged(frame: DataFrame, name: str, pcols: list[str]) -> DataFrame:
    """A set-level violation frame's tail: ``errors = [name]`` plus the
    partition label, the shape every violation frame shares."""
    return (frame.withColumn("errors", F.array(F.lit(name)))
            .withColumn("partition", partition_label_col(pcols)))


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
        col = _target(p)
        cond = F.lit(False)
        if p.get("min") is not None:
            cond = cond | (col < F.lit(p["min"]))
        if p.get("max") is not None:
            cond = cond | (col > F.lit(p["max"]))
        return F.coalesce(cond, F.lit(False))  # NULL → not a bounds error
    if c.kind == "in_domain":
        col = _target(p)
        return col.isNotNull() & ~col.isin(list(p["values"]))
    if c.kind == "not_null":
        return _target(p).isNull()
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
        col = _target(p).cast("string")
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

    1. partial ``groupBy(keys, partition columns)`` with count —
       map-side combine; phase-2 group size per key = #partitions that
       key appears under (bounded by the table's logical partitions, so
       a hot key never concentrates its ROWS on one reducer, only its
       per-partition count rows);
    2. per-key total via ``sum() over (partition by keys)`` — rides the
       same key-hash exchange, no extra shuffle;
    3. filter total > 1, re-aggregate the surviving narrow count rows
       by partition (tiny: only duplicated keys) and label each group.
    """
    per_key_part = (df.groupBy(*dict.fromkeys([*keys, *partition_cols]))
                    .agg(F.count(F.lit(1)).alias("__c")))
    w = Window.partitionBy(*keys)
    dups = per_key_part.withColumn("__n", F.sum("__c").over(w)) \
        .where(F.col("__n") > 1)
    dups = _by_partition(dups, partition_cols).agg(
        F.sum("__c").alias("__dups"))
    return {r[LABEL]: int(r["__dups"])
            for r in with_label(dups, partition_cols).collect()}


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
    missing = slim.join(F.broadcast(dim_keys), on=column, how="left_anti")
    missing = _by_partition(missing, partition_cols).agg(
        F.count(F.lit(1)).alias("__missing"))
    return {r[LABEL]: r["__missing"]
            for r in with_label(missing, partition_cols).collect()}


def _errors_col(row_cs: list[Constraint]) -> Column:
    """``array<string>`` of the row-level constraints a row fails."""
    return F.array_compact(F.array(
        *[F.when(_row_violation_cond(c), F.lit(c.name)) for c in row_cs]))


def row_level_violations(df: DataFrame, constraints: list[Constraint],
                         partition_cols: list[str]) -> DataFrame:
    """One vectorized pass: all row-level checks as boolean columns,
    violations = rows with a non-empty ``errors`` array."""
    out = (df
           .withColumn("errors", _errors_col(constraints))
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
    the violation rows are the original rows semi-joined on those keys
    (the keys ``duplicate_key_counts`` reports).
    """
    dup_keys = duplicate_key_counts(df, keys).select(*keys)
    return _flagged(df.join(dup_keys, on=keys, how="left_semi"),
                    constraint_name, partition_cols)


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
    return _flagged(missing, constraint_name, partition_cols)


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
    tagged = df.withColumn("errors", _errors_col(row_cs))
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


def resolve_dim(spark: SparkSession, c: Constraint,
                dims: dict[str, DataFrame] | None) -> DataFrame:
    """The dimension of a referential or join_rule constraint: its
    inline ``values`` as a one-column frame, else ``dims[params["dim"]]``.
    A dimension missing from ``dims`` is a ValueError naming it."""
    p = c.params
    if "values" in p:
        return spark.createDataFrame([(v,) for v in p["values"]],
                                     f"{p['column']} string")
    if not dims or p["dim"] not in dims:
        raise ValueError(
            f"{c.kind} constraint {c.name!r}: dimension {p['dim']!r} "
            f"not provided in dims (got: {sorted(dims or {})})")
    return dims[p["dim"]]


#: set-level kinds with one violation frame per constraint
#: (completeness fuses all its constraints into one aggregate instead)
_FRAME_KINDS = ("unique", "referential", "fd", "join_rule")


def set_violation_frame(df: DataFrame, c: Constraint, pcols: list[str],
                        dims: dict[str, DataFrame] | None) -> DataFrame:
    """Violation rows of one ``unique`` / ``referential`` / ``fd`` /
    ``join_rule`` constraint, its ``where`` scope applied first."""
    scoped = _scoped_df(df, c)
    p = c.params
    if c.kind == "unique":
        return uniqueness_violations(scoped, list(p["keys"]), pcols, c.name)
    if c.kind == "referential":
        return referential_violations(
            scoped, p["column"], resolve_dim(df.sparkSession, c, dims),
            pcols, p.get("dim_column"), c.name)
    if c.kind == "fd":
        return fd_violation_frame(scoped, c, pcols)
    if c.kind == "join_rule":
        return join_rule_violation_frame(scoped, c, dims, pcols)
    raise ValueError(f"no violation frame for constraint kind {c.kind!r}")


def violation_frame(df: DataFrame, constraints: list[Constraint],
                    pcols: list[str],
                    dims: dict[str, DataFrame] | None = None) -> DataFrame:
    """Every violation row of ``constraints`` (input columns +
    ``partition`` + ``errors``): the row-level pass, the fused
    completeness frames and one frame per other set-level constraint,
    unioned.  No row- or set-level constraint gives an empty frame of
    the same shape.  Lazy: no action runs."""
    row_cs = [c for c in constraints if c.kind in ROW_LEVEL_KINDS]
    frames = [row_level_violations(df, row_cs, pcols)] if row_cs else []
    comp_cs = [c for c in constraints if c.kind == "completeness"]
    frames += [f for _, f in completeness_violation_frames(df, comp_cs, pcols)]
    frames += [set_violation_frame(df, c, pcols, dims)
               for c in constraints if c.kind in _FRAME_KINDS]
    if not frames:
        return (df.limit(0)
                .withColumn("errors", F.array(F.lit("")))
                .withColumn("partition", partition_label_col(pcols)))
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                  frames)


def violation_counts(violations: DataFrame) -> DataFrame:
    """``(partition, constraint, n_violations)`` of a violation frame:
    a row failing two constraints counts once under each.  Lazy."""
    return (violations
            .select("partition", F.explode("errors").alias("constraint"))
            .groupBy("partition", "constraint")
            .agg(F.count(F.lit(1)).alias("n_violations")))


@dataclass
class ConstraintRun:
    """Distributed outputs of one evaluation pass."""
    violations: DataFrame          # input cols + partition + errors
    verdicts: DataFrame            # partition, constraint, n_violations, passed
    constraint_names: list[str] = field(default_factory=list)


def evaluate_constraints(df: DataFrame, suite: ValidationSuite,
                         dims: dict[str, DataFrame] | None = None
                         ) -> ConstraintRun:
    """Evaluate all row/set-level and metric constraints of ``suite``.

    ``dims`` maps dimension names (referenced by referential and
    join_rule constraints via ``params["dim"]``) to DataFrames; a
    referential constraint may instead inline ``params["values"]``.
    Drift constraints are profile-level and handled by
    operators/contrast.py + plans/runner.py.
    """
    pcols = suite.partition_cols
    constraints = suite.resolved_constraints()
    violations = violation_frame(df, constraints, pcols, dims)
    names = ([c.name for c in constraints if c.kind in ROW_LEVEL_KINDS]
             + [c.name for c in constraints if c.kind == "completeness"]
             + [c.name for c in constraints if c.kind in _FRAME_KINDS])

    # verdict universe: every (partition × constraint), so partitions with
    # zero violations still get an explicit passed=true row
    spark = df.sparkSession
    parts = (df.select(partition_label_col(pcols).alias("partition"))
             .distinct())
    cons = spark.createDataFrame([(n,) for n in names] or [("<none>",)],
                                 "constraint string")
    verdicts = (parts.crossJoin(F.broadcast(cons))
                .join(violation_counts(violations),
                      ["partition", "constraint"], "left")
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
        vals: dict[str, dict] = {}
        for measure in metric_value_thunks(df, metric_cs, pcols,
                                           suite.components):
            vals.update(measure())
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
    exprs = {c.name: _target(c.params) for c in comp_cs}
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
        bad = (with_r.filter((F.col(f"__r_{i}")
                              < F.lit(float(c.params["min_ratio"])))
                             & null_in_scope)
               .drop(*[f"__r_{j}" for j in range(len(comp_cs))]))
        out.append((c.name, _flagged(bad, c.name, pcols)))
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
    return _flagged(df.join(bad_keys, list(p["determinant"]), "left_semi"),
                    c.name, pcols)


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
    dim = resolve_dim(df.sparkSession, c, dims)
    # dims share referential's contract: broadcast-sized by definition
    # (the fact table is the 10^12-row side and must never shuffle for
    # a suite constraint; a table-scale "dimension" belongs in a
    # pre-bucketed upstream join, not here).  Explicit hint because
    # driver-built dims (createDataFrame → ExistingRDD) carry no stats
    # for the auto-broadcast threshold.
    joined = df.join(F.broadcast(dim), on=list(p["on"]), how="left")
    return _flagged(
        joined.filter(~F.coalesce(F.expr(p["sql"]), F.lit(False)))
        .select(*df.columns), c.name, pcols)


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
# evaluate_constraints and plans/runner.run_validation measure and judge
# metric constraints through the same functions, so both paths compute
# identical verdicts:
#   * measurement — metric_aggs: ONE per-partition aggregate column per
#                   stat_bounds / row_count / freshness constraint, scoped
#                   or not.  run_validation adds them to the fused stats
#                   pass (operators/profile.py), so they cost no scan of
#                   their own; evaluate_constraints groups them into one
#                   aggregate of their own (metric_fused_frame).  Each
#                   distinctness (a two-phase value-collapse) and
#                   ordering (a key-hash window) constraint is one more
#                   action (metric_value_thunks) — different group keys
#                   cannot fuse;
#   * evaluation  — metric_verdict_rows / metric_breach (driver-side,
#                   ~numPartitions rows).


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


def _stat_bounds_agg(c: Constraint, ctype: str) -> Column:
    """The aggregate of one stat_bounds constraint, under the profile's
    value rules for a ``ctype`` component: min / max / mean / std over
    the values that are neither NULL nor NaN, pinv = the share of rows
    that are NULL (or NaN, for a numeric component), n = rows."""
    p = c.params
    scope = _scope_cond(c)
    stat = p["stat"]
    if stat == "n":
        return F.count(F.lit(1)) if scope is None else count_when(scope)
    if stat not in STAT_BOUNDS_STATS:
        raise ValueError(f"stat_bounds {c.name!r}: unknown stat {stat!r} "
                         f"(supported: {STAT_BOUNDS_STATS})")
    raw = _target(p)
    if ctype == "numeric":
        invalid, valid = _invalid_valid(raw)
    else:  # no NaN outside numerics, and no numeric stat either
        invalid, valid = raw.isNull(), F.lit(None).cast("double")
    # conditional aggregation: `when` without `otherwise` yields NULL
    # for out-of-scope rows and every agg below ignores NULLs
    agg = {"min": F.min, "max": F.max, "mean": F.avg, "std": F.stddev_samp,
           "pinv": F.avg}[stat]
    value = invalid.cast("double") if stat == "pinv" else valid
    return agg(value if scope is None else F.when(scope, value))


def metric_aggs(metric_cs: list[Constraint],
                components: list[Component] = ()) -> dict[str, Column]:
    """The per-partition aggregate measuring each stat_bounds /
    row_count / freshness constraint of ``metric_cs`` (freshness: max
    epoch micros), by constraint name.  A ``where`` scope enters as
    conditional aggregation, so N scoped assertions never add a pass.
    ``components`` are the suite's: a stat_bounds constraint follows its
    component's value rules (``_stat_bounds_agg``)."""
    ctypes = {comp.name: comp.ctype for comp in components}
    out: dict[str, Column] = {}
    for c in metric_cs:
        scope = _scope_cond(c)
        if c.kind == "stat_bounds":
            out[c.name] = _stat_bounds_agg(
                c, ctypes.get(c.params["component"], "numeric"))
        elif c.kind == "freshness":
            us = F.unix_micros(_target(c.params).cast("timestamp"))
            out[c.name] = F.max(us if scope is None else F.when(scope, us))
        elif c.kind == "row_count":
            out[c.name] = F.count(F.lit(1)) if scope is None \
                else count_when(scope)
    return out


def metric_fused_frame(df: DataFrame, metric_cs: list[Constraint],
                       pcols: list[str],
                       components: list[Component] = ()
                       ) -> DataFrame | None:
    """ONE grouped aggregation of every ``metric_aggs`` column — no
    explicit select: Catalyst prunes the scan to (pcols ∪ referenced
    exprs) from the agg alone (asserted in PLANS.md), so on parquet a
    row_count-only suite degenerates to a metadata-weight count scan.
    Columns: the pcols, ``LABEL`` and ``agg_col(name)`` per constraint;
    None when no constraint has an aggregate."""
    aggs = metric_aggs(metric_cs, components)
    if not aggs:
        return None
    return with_label(df.groupBy(*pcols).agg(
        *[col.alias(agg_col(name)) for name, col in aggs.items()]), pcols)


def metric_value_thunks(df: DataFrame, metric_cs: list[Constraint],
                        pcols: list[str],
                        components: list[Component] = ()
                        ) -> list[Callable[[], dict[str, dict]]]:
    """The independent actions that measure ``metric_cs``, as thunks
    each returning ``{constraint: {partition: value}}``: one for
    ``metric_fused_frame`` when it has anything to measure, one per
    distinctness and ordering constraint.  No metric constraint, no
    thunk.  Driver-bounded: one row per logical partition per action."""
    thunks = []
    frame = metric_fused_frame(df, metric_cs, pcols, components)
    if frame is not None:
        names = list(metric_aggs(metric_cs, components))

        def fused() -> dict[str, dict]:
            out: dict[str, dict] = {n: {} for n in names}
            for r in frame.collect():
                for n in names:
                    out[n][r[LABEL]] = r[agg_col(n)]
            return out
        thunks.append(fused)
    for c in metric_cs:
        if c.kind == "distinctness":
            thunks.append(lambda c=c: {c.name: distinctness_values(
                df, c, pcols)})
        elif c.kind == "ordering":
            thunks.append(lambda c=c: {c.name: ordering_values(
                df, c, pcols)})
    return thunks


def distinctness_frame(df: DataFrame, c: Constraint,
                       pcols: list[str]) -> DataFrame:
    """The two-phase distinctness plan (see ``distinctness_values``):
    value-collapse groupBy then per-partition integer agg.  Exposed for
    the plan audit; columns: the pcols, ``__d, __u, __n`` and
    ``LABEL``."""
    cols = list(c.params["columns"])
    df = _scoped_df(df, c)  # scope filter pushes down past the collapse
    per_val = (df.groupBy(*dict.fromkeys([*pcols, *cols]))
               .agg(F.count(F.lit(1)).alias("__c")))
    return with_label(_by_partition(per_val, pcols)
                      .agg(F.count(F.lit(1)).alias("__d"),
                           count_when(F.col("__c") == 1).alias("__u"),
                           F.sum("__c").alias("__n")), pcols)


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
        out[r[LABEL]] = (num / r["__n"]) if r["__n"] else None
    return out


def ordering_values(df: DataFrame, c: Constraint,
                    pcols: list[str]) -> dict[str, dict]:
    """Per-partition out-of-order measurement for one ``ordering``
    constraint (the declarative form of health.event_order_report):
    per ``key``, ``health.lateness_us`` over ``arrival`` order tags
    each row late or on-time; rows then aggregate into THEIR
    partition's counters.  Value per partition:
    ``{n, late_micro (= n_late·10⁶ div n, exact), max_us}``.  One
    key-hash window pass per constraint — its own scan, like
    distinctness (a per-key sort cannot fuse into the grouped stats
    pass).  Honors ``where`` by filtering before the window."""
    p = c.params
    lat = lateness_us(p["key"], p["arrival"], _target(p)).alias("__lat")
    tagged = _scoped_df(df, c).select(*pcols, lat)
    rows = with_label(_by_partition(tagged, pcols)
                      .agg(F.count(F.lit(1)).alias("__rows"),
                           count_when(F.col("__lat") > 0).alias("__late"),
                           F.max("__lat").alias("__max")), pcols).collect()
    out: dict[str, dict] = {}
    for r in rows:
        n = int(r["__rows"])
        out[r[LABEL]] = {
            "n": n,
            "late_micro": (int(r["__late"]) * 1_000_000) // n if n else None,
            "max_us": int(r["__max"]) if r["__max"] is not None else 0}
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
    if v != v:  # NaN (a stat over ±inf) proves no bound either
        return True
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

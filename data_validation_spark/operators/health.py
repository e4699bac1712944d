"""Table-health diagnostics: partition-completeness anomalies and
join-key skew — the two checks a 10^12-row validation run performs
BEFORE trusting (or shuffling) a table.

Both reduce the table in ONE map-side-combined count shuffle; every
subsequent step runs over at most |partitions| or |top-N keys| rows
(broadcast-sized by construction), so the operators cost the same as a
``groupBy().count()`` at any scale.

Determinism: the heavy column is an exact BIGINT count.  ``median``
over integers is either an integer or an exact ``x.5`` (avg of the two
middle values — Spark and DuckDB share this definition), so MAD and
the deviation are exact in double and the anomaly verdict can never
flake across engines or partitionings.  The one true division
(``skew_ratio``) is a single IEEE op on exact integers — bit-identical
everywhere.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_validation_spark.functions.stats import (
    TOTAL,
    at_rank,
    cumulative_weights,
)

__all__ = ["partition_count_anomalies", "key_skew_report",
           "coverage_gaps", "completeness_profile",
           "pattern_conformance", "schema_diff",
           "rolling_count_anomalies", "independence_cells",
           "trend_report", "benford_report", "distinctness_profile",
           "value_shapes", "inclusion_check"]


def coverage_gaps(df: DataFrame, group_cols: list[str],
                  ts_col: str = "ts") -> DataFrame:
    """Continuity check: per group, every calendar day inside the
    group's own [first, last] day span with ZERO rows — "the feed was
    live but nothing arrived" — plus the span endpoints for context.

    Shape at scale: the table collapses to per-(group, day) counts in
    one map-side-combined shuffle; the calendar spine is generated
    per group with ``sequence(first, last, interval 1 day)`` (pure
    Catalyst, |days| elements — bounded by the time window, not the
    data) and anti-joined against the observed days.  Nothing but
    day-level aggregates ever shuffles.

    Output: ``group_cols..., gap_day, span_start, span_end``, one row
    per missing day, empty when coverage is complete.
    """
    days = (df.groupBy(*group_cols,
                       F.to_date(F.col(ts_col)).alias("__d"))
            .agg(F.count(F.lit(1)).alias("__n")))
    spans = days.groupBy(*group_cols).agg(
        F.min("__d").alias("span_start"), F.max("__d").alias("span_end"))
    spine = spans.select(
        *group_cols, "span_start", "span_end",
        F.explode(F.sequence("span_start", "span_end",
                             F.expr("interval 1 day"))).alias("gap_day"))
    observed = days.select(*group_cols, F.col("__d").alias("gap_day"))
    return (spine.join(observed, [*group_cols, "gap_day"], "left_anti")
            .select(*group_cols, "gap_day", "span_start", "span_end"))


def partition_count_anomalies(df: DataFrame, partition_cols: list[str],
                              group_cols: list[str] | None = None,
                              k: float = 5.0,
                              min_dev: int = 10) -> DataFrame:
    """Per-partition row counts flagged against their sibling
    partitions — the completeness check ("did an upstream writer drop
    a partition's worth of data?") of a validation suite.

    A partition is anomalous when its count deviates from the MEDIAN
    of its group (default group = all partitions sharing every
    partition column but the last) by more than
    ``greatest(k * MAD, min_dev)``.  Median/MAD, not mean/std: one
    giant or missing partition must not drag the baseline toward
    itself — robust statistics are the point of the check.
    ``min_dev`` keeps Poisson noise on small partitions from alarming
    when MAD is 0 or tiny.

    Output: ``partition_cols..., n_rows, med, mad, dev, is_anomaly``.
    """
    if group_cols is None:
        group_cols = partition_cols[:-1]
    if not set(group_cols) < set(partition_cols):
        raise ValueError("group_cols must be a proper subset of "
                         "partition_cols")

    counts = df.groupBy(*partition_cols).agg(
        F.count(F.lit(1)).alias("n_rows"))      # the ONE big shuffle

    def _per_group(frame, col, out):
        agg = (frame.groupBy(*group_cols).agg(F.median(col).alias(out))
               if group_cols else
               frame.agg(F.median(col).alias(out)))
        return (frame.join(F.broadcast(agg), group_cols) if group_cols
                else frame.crossJoin(F.broadcast(agg)))

    with_med = _per_group(counts, "n_rows", "med").withColumn(
        "dev", F.abs(F.col("n_rows") - F.col("med")))
    with_mad = _per_group(with_med, "dev", "mad")
    return with_mad.select(
        *partition_cols, "n_rows", "med", "mad", "dev",
        (F.col("dev") > F.greatest(F.lit(float(k)) * F.col("mad"),
                                   F.lit(float(min_dev))))
        .alias("is_anomaly"))


def key_skew_report(df: DataFrame, key_cols: list[str], top_n: int = 10,
                    shuffle_partitions: int = 32) -> DataFrame:
    """The ``top_n`` heaviest join/groupBy keys with the numbers a
    pipeline author needs to pick a mitigation: each key's share of the
    table, its ratio to the average key, and the salt factor that would
    spread it to ~one shuffle-partition's fair share of rows.

    ``suggested_salt = max(1, ceil(count * P / total))`` in pure
    integer arithmetic (P = planned shuffle partitions): a key holding
    3 partitions' fair share of rows needs 3 salts.  Deterministic
    order: (count DESC, key ASC) — ties can't reorder the result.

    One count shuffle over the table; the top-N select is a
    TakeOrdered (per-partition heap + driver merge of N*parts rows),
    never a global sort.
    """
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("key_rows"))
    totals = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("key_rows").alias("total_rows"))
    p = F.lit(int(shuffle_partitions))
    top = (counts.crossJoin(F.broadcast(totals))
           .orderBy(F.col("key_rows").desc(), *[F.asc(c) for c in key_cols])
           .limit(int(top_n)))
    return top.select(
        *key_cols, "key_rows", "n_keys", "total_rows",
        # two-division form, not key_rows*n_keys/total: the product
        # overflows BIGINT at 10^12 rows x 10^9 keys; each division is
        # one IEEE op on exact integers, same sequence on every engine
        F.round(F.col("key_rows")
                / (F.col("total_rows") / F.col("n_keys")), 6)
        .alias("skew_ratio"),
        F.greatest(F.lit(1).cast("long"),
                   F.floor((F.col("key_rows") * p
                            + F.col("total_rows") - F.lit(1))
                           / F.col("total_rows")).cast("long"))
        .alias("suggested_salt"))


def completeness_profile(df: DataFrame,
                         cols: list[str] | None = None) -> DataFrame:
    """deequ-style completeness: for every column, row count, non-null
    count, and the completeness ratio — ALL columns in ONE
    map-side-combined aggregate pass (a 100 TB table is scanned once,
    the shuffle carries one partial row per task).  The ratio is the
    single division of two exact integers, rounded to 6 — deterministic
    on every engine.

    Output: ``column, n_rows, n_nonnull, completeness`` (one row per
    column, ordered by the input column order).
    """
    cols = list(cols) if cols is not None else list(df.columns)
    agg = df.agg(F.count(F.lit(1)).alias("__n"),
                 *[F.count(F.col(c)).alias(f"__c_{i}")
                   for i, c in enumerate(cols)])
    entries = F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col(f"__c_{i}").alias("n_nonnull"))
        for i, c in enumerate(cols)])
    return (agg.select(F.col("__n").alias("n_rows"),
                       F.explode(entries).alias("e"))
            .select(F.col("e.column").alias("column"), "n_rows",
                    F.col("e.n_nonnull").alias("n_nonnull"),
                    F.round(F.col("e.n_nonnull") / F.col("n_rows"), 6)
                    .alias("completeness")))


def missingness_report(df: DataFrame, cols: list[str]) -> DataFrame:
    """Null CO-OCCURRENCE structure — the DQ lens per-column
    completeness cannot see: two columns can each be 95% complete
    while their nulls land on the SAME rows (one upstream feed died)
    or on disjoint rows (two independent feeds).  For every column
    pair: joint null count, the count expected under independence,
    and the phi coefficient of the two null-indicator variables
    (+1 = nulls always together, −1 = never together, 0 =
    independent).

    ONE aggregate pass computes all N + N·(N−1)/2 conditional sums
    (map-side combined — the shuffle carries one partial row per
    task); pairs unfold from the single result row as a pure
    projection.  Counts are exact integers; ``phi`` is one shared
    float op sequence over them (two sqrts of DECIMAL(38,0) products
    — n·r ≤ 10²⁴ stays exact — multiplied as doubles) rounded 6 dp,
    NULL when either column is all-null or never-null (φ undefined,
    never a guess).  ``expected_both_micro`` = r·c·10⁶ div n in pure
    integers."""
    cols = list(cols)
    pairs = [(i, j) for i in range(len(cols))
             for j in range(i + 1, len(cols))]
    isnull = {i: F.col(c).isNull().cast("long")
              for i, c in enumerate(cols)}
    agg = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(isnull[i]).alias(f"__r_{i}") for i in range(len(cols))],
        *[F.sum(isnull[i] * isnull[j]).alias(f"__b_{i}_{j}")
          for i, j in pairs])
    entries = F.array(*[
        F.struct(F.lit(cols[i]).alias("col_a"),
                 F.lit(cols[j]).alias("col_b"),
                 F.col(f"__r_{i}").alias("null_a"),
                 F.col(f"__r_{j}").alias("null_b"),
                 F.col(f"__b_{i}_{j}").alias("both_null"))
        for i, j in pairs])
    e = (agg.select(F.col("__n").alias("n_rows"),
                    F.explode(entries).alias("e"))
         .select("n_rows", "e.col_a", "e.col_b", "e.null_a", "e.null_b",
                 "e.both_null"))
    n, ra, ca, b = (F.col("n_rows").cast("decimal(38,0)"),
                    F.col("null_a").cast("decimal(38,0)"),
                    F.col("null_b").cast("decimal(38,0)"),
                    F.col("both_null").cast("decimal(38,0)"))
    denom_ok = ((F.col("null_a") > 0) & (F.col("null_a") < F.col("n_rows"))
                & (F.col("null_b") > 0)
                & (F.col("null_b") < F.col("n_rows")))
    phi = ((n * b - ra * ca).cast("double")
           / (F.sqrt((ra * (n - ra)).cast("double"))
              * F.sqrt((ca * (n - ca)).cast("double"))))
    return e.select(
        "col_a", "col_b", "n_rows", "null_a", "null_b", "both_null",
        F.expr("CAST(CAST(null_a AS DECIMAL(38,0)) * null_b * 1000000 "
               "AS DECIMAL(38,0)) div n_rows").cast("long")
        .alias("expected_both_micro"),
        F.when(denom_ok, F.round(phi, 6)).alias("phi"))


def pattern_conformance(df: DataFrame,
                        patterns: dict[str, str]) -> DataFrame:
    """Format checks: per (column, regex), how many values match, are
    NULL, or violate — one aggregate pass for ALL patterns (conditional
    sums, no per-pattern scan).  Patterns use the RE2-compatible
    syntax subset shared by Java and DuckDB (same policy as
    functions/urls.py); both engines use SEARCH semantics, so anchor
    with ^$ for full-value checks.

    Output: ``column, pattern, n_rows, n_null, n_match, n_violations``.
    """
    if not patterns:
        raise ValueError("patterns must be non-empty")
    items = sorted(patterns.items())
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, (c, rx) in enumerate(items):
        aggs.append(F.count(F.col(c)).alias(f"__nn_{i}"))
        aggs.append(F.sum(F.when(F.col(c).rlike(rx), 1).otherwise(0))
                    .alias(f"__m_{i}"))
    agg = df.agg(*aggs)
    entries = F.array(*[
        F.struct(F.lit(c).alias("column"), F.lit(rx).alias("pattern"),
                 F.col(f"__nn_{i}").alias("n_nonnull"),
                 F.col(f"__m_{i}").alias("n_match"))
        for i, (c, rx) in enumerate(items)])
    return (agg.select(F.col("__n").alias("n_rows"),
                       F.explode(entries).alias("e"))
            .select("e.column", "e.pattern", "n_rows",
                    (F.col("n_rows") - F.col("e.n_nonnull"))
                    .alias("n_null"),
                    F.col("e.n_match").alias("n_match"),
                    (F.col("e.n_nonnull") - F.col("e.n_match"))
                    .alias("n_violations")))


def schema_diff(spark, a, b) -> DataFrame:
    """Schema-evolution report between two schemas (or DataFrames):
    one row per column that was added, removed, or re-typed — the
    pre-flight a validation run does before trusting that yesterday's
    suite still describes today's table (complements
    ``ValidationSuite.schema_errors``, which checks a suite against
    ONE schema).

    Pure metadata — no jobs, no scans; the result is a driver-built
    DataFrame so it can flow into the same sinks as every other check.
    Output: ``column, status(added|removed|retyped), type_a, type_b``
    (b is the "new" side; nullability changes are ignored — parquet
    writers flip it freely).
    """
    sa = a.schema if isinstance(a, DataFrame) else a
    sb = b.schema if isinstance(b, DataFrame) else b
    ta = {f.name: f.dataType.simpleString() for f in sa.fields}
    tb = {f.name: f.dataType.simpleString() for f in sb.fields}
    rows = []
    for name in sorted(set(ta) | set(tb)):
        if name not in tb:
            rows.append((name, "removed", ta[name], None))
        elif name not in ta:
            rows.append((name, "added", None, tb[name]))
        elif ta[name] != tb[name]:
            rows.append((name, "retyped", ta[name], tb[name]))
    return spark.createDataFrame(
        rows, "column string, status string, type_a string, type_b string")


def rolling_count_anomalies(df: DataFrame, group_cols: list[str],
                            ts_col: str = "ts", bucket: str = "hour",
                            window: int = 24, k: int = 3,
                            min_dev: int = 10,
                            min_window: int = 8) -> DataFrame:
    """Time-series volume anomalies: per group, bucket the stream into
    ``bucket``-sized counts and flag buckets deviating from their OWN
    trailing ``window`` buckets — the "volume fell off a cliff at 3am"
    monitor, complementing ``partition_count_anomalies`` (which
    compares across siblings at one instant).

    The verdict is an integer z-test with NO floating point anywhere:
    with s/q/n = trailing sum / sum-of-squares / count and x the
    current count, flag when

        (n·x − s)² > k²·(n·q − s²) + n²·min_dev²

    — algebraically ``(x − mean)² > k²·var + min_dev²`` scaled by n²,
    evaluated in DECIMAL(38,0) (associative, engine-exact, ANSI-loud on
    overflow).  ``min_dev`` is the additive noise floor that keeps
    quiet feeds from alarming on ±3 rows.  Buckets with fewer than
    ``min_window`` trailing observations emit a NULL verdict (no
    baseline yet), never a guess.

    Missing buckets are ABSENT (not zero): a feed that stops produces
    no rows to flag — pair with ``coverage_gaps`` to catch silence;
    this operator catches level shifts while data flows.

    One map-side-combined count shuffle; the rolling window runs over
    per-group BUCKET rows (hours, not events).
    """
    counts = (df.groupBy(*group_cols,
                         F.date_trunc(bucket, F.col(ts_col))
                         .alias("bucket_ts"))
              .agg(F.count(F.lit(1)).alias("n_rows")))
    w = (Window.partitionBy(*group_cols).orderBy("bucket_ts")
         .rowsBetween(-int(window), -1))
    dec = "decimal(38,0)"
    x = F.col("n_rows").cast(dec)
    s = F.sum(F.col("n_rows").cast(dec)).over(w)
    q = F.sum((F.col("n_rows").cast(dec)
               * F.col("n_rows").cast(dec))).over(w)
    n = F.count(F.lit(1)).over(w).cast(dec)
    lhs = (n * x - s) * (n * x - s)
    rhs = (F.lit(int(k) * int(k)).cast(dec) * (n * q - s * s)
           + n * n * F.lit(int(min_dev) * int(min_dev)).cast(dec))
    return (counts
            .withColumn("win_n", F.count(F.lit(1)).over(w))
            .withColumn("win_sum",
                        F.coalesce(F.sum("n_rows").over(w), F.lit(0)))
            .withColumn("is_anomaly",
                        F.when(F.col("win_n") >= int(min_window),
                               lhs > rhs)))


def _set_counts(df: DataFrame, sets: list[list[str]]) -> DataFrame:
    """Value-group counts for several column sets in ONE scan: a single
    ``GROUPING SETS`` collapse (map-side combined — the shuffle carries
    each set's distinct-combination cardinality, never rows) returning
    ``(member columns…, __set, __cnt, __nul)``, one row per set per
    distinct combination.

    ``__set`` is the set id: the array of its member names, read from
    the per-column bits of ``grouping_id``, so a data NULL in a member
    is never mistaken for a column the set leaves out.  Values group
    RAW — NULL is its own value, and there is no sentinel or string
    cast that could merge it with a real value.  ``__nul`` flags the
    groups whose combination has a NULL member.  Repeated sets and
    repeated members are dropped (each would count every row twice)."""
    sets = list(dict.fromkeys(tuple(dict.fromkeys(s)) for s in sets))
    cols = list(dict.fromkeys(c for s in sets for c in s))
    member = {c: F.grouping(c) == 0 for c in cols}
    nul = F.lit(False)
    for c in cols:
        nul = nul | (F.col(c).isNull() & member[c])
    return df.groupingSets([list(s) for s in sets], *cols).agg(
        F.array_compact(F.array(*[F.when(member[c], F.lit(c))
                                  for c in cols])).alias("__set"),
        F.count(F.lit(1)).alias("__cnt"), nul.alias("__nul"))


def _set_stats(df: DataFrame, sets: list[list[str]]) -> DataFrame:
    """The one summary of ``_set_counts`` per column set: ``n_rows`` =
    the sum of its counts (every set partitions ALL rows, so this IS
    the row count — no count join), ``n_distinct``, ``n_unique`` (combinations seen
    exactly once), ``__clogc`` = Σ c·ln c (entropy's only float work:
    one ln + multiply per distinct value) and ``n_null_rows`` (rows
    with a NULL member).  Aggregates a caller does not select are
    pruned by the optimizer."""
    c = F.col("__cnt")
    return _set_counts(df, sets).groupBy("__set").agg(
        F.sum(c).alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.count(F.when(c == 1, 1)).alias("n_unique"),
        F.sum(c.cast("double") * F.log(c.cast("double"))).alias("__clogc"),
        F.sum(F.when(F.col("__nul"), c).otherwise(0)).alias("n_null_rows"))


def _single_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """``_set_stats`` over one singleton set per column, labelled by
    ``column``."""
    if not cols:
        raise ValueError("cols must be non-empty")
    return _set_stats(df, [[c] for c in cols]).withColumn(
        "column", F.col("__set")[0])


def _check_set_cols(df: DataFrame, cols: list[str], who: str,
                    least: int, n_sets: int) -> None:
    """Shared guards of the grouping-sets discoverers: ``least`` ≤ k ≤
    12 columns (the one shuffle replicates each row per set, so the
    pair sets grow it quadratically), all present, all atomic."""
    k = len(cols)
    if k < least:
        raise ValueError(f"{who}: need >= {least} column(s)")
    if k > 12:
        raise ValueError(
            f"{who}: {k} columns = {n_sets} grouping sets (the one "
            "shuffle replicates rows per set) — pre-select candidate "
            "columns")
    schema = {f.name: f.dataType for f in df.schema.fields}
    missing = [c for c in cols if c not in schema]
    if missing:
        raise ValueError(f"{who}: missing columns {missing}")
    bad = [c for c in cols
           if schema[c].typeName() in ("array", "map", "struct",
                                       "binary", "variant")]
    if bad:
        raise ValueError(
            f"{who}: non-atomic columns {bad} — string serialization is "
            "not injective for them; project a derived atomic column "
            "instead")


def _pair_cells(df: DataFrame, col_a: str, col_b: str,
                every_cell: bool) -> DataFrame:
    """The contingency table of two columns — ``(col_a, col_b, n_ij,
    n_i, n_j, n)`` with exact integer margins — over the observed cells
    only, or with ``every_cell`` over the full margin cross product
    (never-seen cells carry ``n_ij = 0``).

    One ``_set_counts`` pair collapse; the margins are sums over the
    collapsed cells, and every join on a value is NULL-safe, so a NULL
    row or column of the table keeps its cells."""
    counts = _set_counts(df, [[col_a, col_b]]).select(
        F.col(col_a).alias("a"), F.col(col_b).alias("b"),
        F.col("__cnt").alias("n_ij"))
    ma = counts.groupBy(F.col("a").alias("__a")).agg(
        F.sum("n_ij").alias("n_i"))
    mb = counts.groupBy(F.col("b").alias("__b")).agg(
        F.sum("n_ij").alias("n_j"))
    tot = counts.agg(F.sum("n_ij").alias("n"))
    on_a = F.col("a").eqNullSafe(F.col("__a"))
    on_b = F.col("b").eqNullSafe(F.col("__b"))
    if every_cell:
        cells = (ma.crossJoin(F.broadcast(mb))
                 .join(counts, on_a & on_b, "left")
                 .withColumn("n_ij", F.coalesce("n_ij", F.lit(0))))
    else:
        cells = (counts.join(F.broadcast(ma), on_a)
                 .join(F.broadcast(mb), on_b))
    return cells.crossJoin(F.broadcast(tot)).select(
        F.col("__a").alias(col_a), F.col("__b").alias(col_b),
        "n_ij", "n_i", "n_j", "n")


def independence_cells(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Chi-squared independence between two categorical columns, per
    CELL: for every (a, b) pair in the observed-margin cross product —
    including never-seen pairs, which a naive groupBy silently drops
    though they contribute (0−E)²/E = E — the observed count, exact
    integer margins, and the cell's chi² contribution.  NULL is a value
    of either column, so Σ``n_ij`` = ``n`` always.

    The term is the algebraically-exact rational
    ``(n·n_ij − n_i·n_j)² / (n·n_i·n_j)``: numerator and denominator
    build in DECIMAL(38,0) (associative, ANSI-loud), and only the final
    cast/divide/round crosses to double — one IEEE op sequence, same on
    every engine, so the per-cell values can never flake.  Sum the
    ``chi2_term`` column (driver-side fsum over |A|×|B| cells) and feed
    ``functions.drift`` for the p-value; the statistic itself stays a
    pure function of the data.

    One count shuffle over the table (``_pair_cells``); margins and
    the cross spine are |A| + |B| + |A|×|B| rows — broadcast-sized for
    real categorical cardinalities (guard upstream with the S4
    frequency guard if a "categorical" column is secretly an id).
    """
    dec = "decimal(38,0)"
    num = (F.col("n").cast(dec) * F.col("n_ij").cast(dec)
           - F.col("n_i").cast(dec) * F.col("n_j").cast(dec))
    den = (F.col("n").cast(dec) * F.col("n_i").cast(dec)
           * F.col("n_j").cast(dec))
    return _pair_cells(df, col_a, col_b, every_cell=True).withColumn(
        "chi2_term",
        F.round((num * num).cast("double") / den.cast("double"), 6))


def trend_report(df: DataFrame, group_cols: list[str],
                 ts_col: str = "ts") -> DataFrame:
    """Per-group volume trend: the OLS slope of daily row counts over
    epoch days — "is this feed growing, flat, or bleeding?" as one
    number per group, the long-horizon complement to
    ``rolling_count_anomalies``' step detector.

    The pearson_corr_matrix playbook again: all four moments
    (Σx, Σy, Σxy, Σx²) accumulate as DECIMAL(38,0) over exact integers
    (epoch-day × daily count products exceed BIGINT at 10^12-row feeds),
    so they are associative — bit-identical under any partitioning —
    and the slope's closed form

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    crosses to double once, through the same cast/divide/round sequence
    on every engine.  Groups observed on fewer than two distinct days
    report NULL (no trend from one point — never a guess).

    One map-side-combined count shuffle to (group, day); the moment
    aggregate runs over day-level rows.
    """
    dec = "decimal(38,0)"
    daily = (df.groupBy(*group_cols,
                        F.datediff(F.to_date(F.col(ts_col)),
                                   F.lit("1970-01-01").cast("date"))
                        .alias("__x"))
             .agg(F.count(F.lit(1)).alias("__y")))
    x = F.col("__x").cast(dec)
    y = F.col("__y").cast(dec)
    m = daily.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("__y").alias("total_rows"),
        F.sum(x).alias("__sx"), F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"), F.sum(x * x).alias("__sxx"))
    n = F.col("n_days").cast(dec)
    num = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    return m.select(
        *group_cols, "n_days", "total_rows",
        F.when(den != 0,
               F.round(num.cast("double") / den.cast("double"), 6))
        .alias("slope_per_day"))


#: log10(1 + 1/d) to 6 dp — the literals are shared verbatim with the
#: oracle SQL so the comparison never depends on either engine's log()
BENFORD_P = {1: 0.301030, 2: 0.176091, 3: 0.124939, 4: 0.096910,
             5: 0.079181, 6: 0.066947, 7: 0.057992, 8: 0.051153,
             9: 0.045757}


def benford_report(df: DataFrame, col: str,
                   scale: int = 100) -> DataFrame:
    """First-significant-digit analysis vs Benford's law — the classic
    fabricated-numbers screen for financial-ish columns.

    The digit extraction is exact: the value scales to an integer
    (``round(col * scale)`` — cents for money), and the first digit of
    that BIGINT's decimal string equals the value's first significant
    digit; integer→string is identical on every engine, so no float
    log10 near a power-of-ten boundary can flip a digit.  Expected
    probabilities are shared 6-dp literals (never an engine's log),
    and each digit's chi² term is the one float op sequence
    ``(obs − n·p)² / (n·p)`` — sum the column driver-side for the
    statistic (8 dof).

    Non-positive and NULL values are excluded (Benford is defined on
    positive magnitudes).  One count shuffle of at most 9 groups.
    """
    iv = F.round(F.col(col) * F.lit(int(scale))).cast("long")
    digits = (df.select(iv.alias("__v")).filter(F.col("__v") > 0)
              .select(F.substring(F.col("__v").cast("string"), 1, 1)
                      .cast("int").alias("digit")))
    counts = digits.groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_obs"))
    total = counts.agg(F.sum("n_obs").alias("__n"))
    p = F.element_at(
        F.create_map(*[F.lit(x) for d in sorted(BENFORD_P)
                       for x in (d, BENFORD_P[d])]), F.col("digit"))
    e = F.col("__n") * p
    return (counts.crossJoin(F.broadcast(total))
            .select("digit", "n_obs", p.alias("expected_p"),
                    F.round((F.col("n_obs") - e) * (F.col("n_obs") - e)
                            / e, 6).alias("chi2_term")))


def distinctness_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """deequ's distinctness/uniqueness metrics, exact: per column the
    row count, distinct-value count, count of values occurring exactly
    once, and the two ratios (distinctness = distinct/rows,
    uniqueness = once/rows) — the "is this column a key / an enum / a
    mess" triage.

    ONE scan for all N columns: every column is a singleton set of the
    shared ``_set_counts`` grouping-sets collapse (reduce cardinality =
    Σ per-column distinct counts), summarised by ``_set_stats``.  NULLs
    count as a value (a NULL-riddled "key" must not look unique);
    ratios are single divisions of exact integers.
    """
    return _single_stats(df, cols).select(
        "column", "n_rows", "n_distinct", "n_unique",
        F.round(F.col("n_distinct") / F.col("n_rows"), 6)
        .alias("distinctness"),
        F.round(F.col("n_unique") / F.col("n_rows"), 6)
        .alias("uniqueness"))


def metrics_regression_report(metrics: DataFrame, k: float = 3.0,
                              min_history: int = 3,
                              min_deviation: float = 0.0) -> DataFrame:
    """Cross-RUN anomaly screen over the validation metrics sink — the
    monitoring loop that closes after `run_validation` has written a
    few cycles: for every (partition, component, metric) series, the
    LATEST run's value is judged against the median/MAD of all PRIOR
    runs (robust — one bad historical run cannot shift the envelope the
    way a mean/std would).

    Shape: the input is the metrics TABLE (run_id, partition,
    component, metric, value, ts) — one row per metric per run, i.e.
    series length = run-history depth, bounded by retention and
    NEVER by data size; `collect_list` per series is therefore
    driver-safe by construction, and the median/MAD/verdict compute as
    pure Catalyst array expressions (sort_array + element_at — no UDF,
    no pandas).  Flag rule: ``|last − median| > k·1.4826·MAD`` AND
    ``> min_deviation`` (the absolute floor keeps an all-but-constant
    series from flagging on noise when MAD≈0), with at least
    ``min_history`` prior runs — early series report NULL verdicts,
    never a guess (the rolling_count_anomalies stance).
    """
    series = (metrics
              .groupBy("partition", "component", "metric")
              .agg(F.sort_array(F.collect_list(
                  F.struct("ts", "run_id", "value"))).alias("__h")))
    h = F.col("__h")
    n = F.size(h)
    last = F.element_at(h, -1)
    prior = F.expr("transform(slice(__h, 1, size(__h) - 1), x -> x.value)")
    ps = F.array_sort(prior)
    m = F.size(ps)
    # median of prior values (lower-middle for even length: exact,
    # order-stable on every engine — no float averaging of middles)
    # guarded index: a single-run series has an empty prior array and
    # mid = 0, which even try_element_at refuses (INVALID_INDEX_OF_ZERO
    # predates the out-of-bounds nulling) — NULL index → NULL median
    mid = F.when(m > 0, F.floor((m + 1) / 2).cast("int"))
    med = F.try_element_at(ps, mid)
    absdev = F.expr("array_sort(transform(slice(__h, 1, size(__h) - 1), "
                    "x -> abs(x.value - __med)))")
    out = (series
           .withColumn("__med", med)
           .withColumn("__ad", absdev)
           .withColumn("__mad", F.try_element_at(F.col("__ad"), mid)))
    dev = F.abs(last["value"] - F.col("__med"))
    flagged = F.when(
        m < F.lit(int(min_history)), F.lit(None).cast("boolean")
    ).otherwise((dev > F.lit(float(k)) * 1.4826 * F.col("__mad"))
                & (dev > F.lit(float(min_deviation))))
    return out.select(
        "partition", "component", "metric",
        n.alias("n_runs"),
        last["run_id"].alias("last_run_id"),
        F.round(last["value"], 6).alias("last_value"),
        F.round(F.col("__med"), 6).alias("median_prev"),
        F.round(F.col("__mad"), 6).alias("mad_prev"),
        F.round(dev, 6).alias("abs_deviation"),
        flagged.alias("flagged"))


def entropy_report(df: DataFrame, cols: list[str]) -> DataFrame:
    """Shannon entropy per categorical column (deequ hasEntropy) — the
    "how informative is this column" triage that catches a feed whose
    `source` collapsed to one value while counts still look healthy.

    ONE scan for all N columns: the same singleton-set collapse and
    summary as ``distinctness_profile`` (``_set_stats``), so both
    report the same ``n_rows`` / ``n_distinct``.  NULL counts as its
    own symbol (a 50%-NULL column IS less certain), distinct from every
    real value.  Arithmetic: counts stay exact integers; entropy uses
    the ``ln(n) − Σ c·ln(c) / n`` form so the only float work is one
    ln + multiply per DISTINCT value and a final divide — rounded to
    6 dp, replayable on any engine.  ``entropy_norm`` divides by
    ``ln(n_distinct)`` (0..1; NULL for constant columns, never a
    guess)."""
    ent = (F.log(F.col("n_rows").cast("double"))
           - F.col("__clogc") / F.col("n_rows").cast("double"))
    return _single_stats(df, cols).select(
        "column", "n_rows", "n_distinct",
        F.round(ent, 6).alias("entropy_nats"),
        F.round(F.when(F.col("n_distinct") > 1,
                       ent / F.log(F.col("n_distinct").cast("double")))
                , 6).alias("entropy_norm"))


def mutual_information(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Per-cell mutual information between two categorical columns
    (deequ's MI analyzer) — the dependence screen that catches "lang is
    now determined by source" class regressions; the statistic is
    ``sum(mi_term)`` (driver-side fsum over |A|×|B| cells, same contract
    as independence_cells).

    Only OBSERVED cells appear (an empty cell's ``p·ln(·)`` term is 0 by
    limit, so the spine needs no cross product).  The cells and margins
    are ``independence_cells``' (``_pair_cells``): one count shuffle
    over the table, margins broadcast back onto the collapsed cells.
    NULL counts as a value in both columns and comes back as NULL in
    the key columns.  Each cell's term is
    ``(c_ij/n) · ln(n·c_ij / (c_i·c_j))``: exact integer counts in, the
    ln ratio built from ONE integer-exact double cast per factor,
    rounded to 6 dp — the identical op sequence on every engine."""
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    term = ((d("n_ij") / d("n"))
            * F.log((d("n") * d("n_ij")) / (d("n_i") * d("n_j"))))
    return _pair_cells(df, col_a, col_b, every_cell=False).withColumn(
        "mi_term", F.round(term, 6))


def value_shapes(df: DataFrame, col: str, top_n: int = 5) -> DataFrame:
    """Pattern profiling / format discovery: collapse every value to a
    shape signature — runs of uppercase → ``A``, lowercase → ``a``,
    digits → ``9``, everything else kept verbatim — and rank the
    ``top_n`` shapes with counts.  One glance answers "what formats
    live in this column" and surfaces the 0.01% of rows that don't
    match (the rows a regex constraint should then pin).

    The collapse is three chained ``regexp_replace`` calls in the
    RE2-portable subset (pure Catalyst projection); counting is a
    Zipf-collapsed shuffle (reduce cardinality = #shapes, tiny by
    construction); ranking is TakeOrdered + a top_n-row window.
    NULL values profile as the shape ``<null>``.

    Output: ``shape, n_values, rank``.
    """
    shape = F.coalesce(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col(col).cast("string"),
                                 "[A-Z]+", "A"),
                "[a-z]+", "a"),
            "[0-9]+", "9"),
        F.lit("<null>"))
    counts = (df.select(shape.alias("shape"))
              .groupBy("shape").agg(F.count(F.lit(1)).alias("n_values")))
    top = counts.orderBy(F.col("n_values").desc(),
                         F.col("shape").asc()).limit(int(top_n))
    w = Window.orderBy(F.col("n_values").desc(), F.col("shape").asc())
    return top.withColumn("rank", F.row_number().over(w))


def inclusion_check(left: DataFrame, left_col: str,
                    right: DataFrame, right_col: str) -> DataFrame:
    """Inclusion-dependency check (deequ ``isContainedIn`` over a
    table, IND discovery's unit step): what fraction of the DISTINCT
    non-null values of ``left_col`` appear in ``right_col``?  1.0 means
    "left references right" holds — the discovery complement to the
    referential ENFORCEMENT constraint (which lists the offenders).

    Value-space, not row-space: both sides collapse to distinct keys
    first, so the join carries key cardinality, never row counts, and
    a hot foreign key can't skew anything.  One row out:
    ``n_values, n_matched, containment`` (single exact-integer
    division).
    """
    lv = (left.select(F.col(left_col).alias("__k"))
          .filter(F.col("__k").isNotNull()).distinct())
    rv = (right.select(F.col(right_col).alias("__k"))
          .filter(F.col("__k").isNotNull()).distinct())
    matched = lv.join(rv, "__k", "left_semi")
    n = lv.agg(F.count(F.lit(1)).alias("n_values"))
    m = matched.agg(F.count(F.lit(1)).alias("n_matched"))
    return (n.crossJoin(m)
            .select("n_values", "n_matched",
                    F.round(F.col("n_matched") / F.col("n_values"), 6)
                    .alias("containment")))


def join_explosion_report(fact: DataFrame, dim: DataFrame,
                          on: list[str], dim_on: list[str] | None = None,
                          top_n: int = 10) -> DataFrame:
    """Pre-join fan-out audit — the two-sided pre-flight a 100 TB join
    runs BEFORE committing to a strategy (``key_skew_report`` profiles
    one side; a join blows up on the PRODUCT of both sides' key
    multiplicities).  Both inputs collapse to per-key counts first
    (map-side combinable — the only shuffles carry key cardinality,
    never rows), then one key-scale full-outer join yields everything:

    * per matched key: ``fact_rows, dim_rows, out_rows`` (the key's
      inner-join output, exact DECIMAL(38,0) — two hot 10^6-row sides
      make a 10^12 product, past BIGINT×BIGINT safety);
    * broadcast on every row, the table-level summary: total rows and
      keys per side, matched/fact-only/dim-only key counts, orphaned
      row counts both directions, ``est_out_rows`` = Σ products (the
      inner join's EXACT output size — this is a count, not an
      estimate), and ``amplification_micro`` = est_out·10⁶ div
      fact-row count in pure integers (≥ 10⁶ means the join grows the
      fact table — reconsider pre-aggregation or dedup of the dim).

    Top-``top_n`` keys by ``out_rows`` (ties: key ASC — deterministic),
    TakeOrdered, never a global sort.  The key-scale join is evaluated
    once per output branch (summary + top) — key-cardinality work,
    same trade ``key_skew_report`` makes."""
    dim_on = list(dim_on or on)
    fc = (fact.groupBy(*[F.col(c) for c in on])
          .agg(F.count(F.lit(1)).alias("fact_rows")))
    dc = (dim.groupBy(*[F.col(d).alias(c) for c, d in zip(on, dim_on)])
          .agg(F.count(F.lit(1)).alias("dim_rows")))
    keys = fc.join(dc, on, "full_outer")
    prod = (F.coalesce(F.col("fact_rows"), F.lit(0)).cast("decimal(38,0)")
            * F.coalesce(F.col("dim_rows"), F.lit(0)).cast("decimal(38,0)"))
    summary = keys.agg(
        F.coalesce(F.sum("fact_rows"), F.lit(0)).cast("long")
        .alias("n_fact_rows"),
        F.coalesce(F.sum("dim_rows"), F.lit(0)).cast("long")
        .alias("n_dim_rows"),
        F.sum(F.when(F.col("fact_rows").isNotNull()
                     & F.col("dim_rows").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_matched_keys"),
        F.sum(F.when(F.col("dim_rows").isNull(), 1).otherwise(0))
        .cast("long").alias("n_fact_only_keys"),
        F.sum(F.when(F.col("fact_rows").isNull(), 1).otherwise(0))
        .cast("long").alias("n_dim_only_keys"),
        F.coalesce(F.sum(F.when(F.col("dim_rows").isNull(),
                                F.col("fact_rows"))), F.lit(0))
        .cast("long").alias("fact_rows_orphaned"),
        F.coalesce(F.sum(F.when(F.col("fact_rows").isNull(),
                                F.col("dim_rows"))), F.lit(0))
        .cast("long").alias("dim_rows_orphaned"),
        F.coalesce(F.sum(prod), F.lit(0)).cast("decimal(38,0)")
        .alias("est_out_rows"))
    summary = summary.withColumn(
        "amplification_micro",
        # truncating integral `div`, never decimal `/`: engines round
        # decimal division differently, div on exact integers cannot
        F.when(F.col("n_fact_rows") > 0,
               F.expr("CAST(est_out_rows * 1000000 AS DECIMAL(38,0)) "
                      "div n_fact_rows")))
    top = (keys.filter(F.col("fact_rows").isNotNull()
                       & F.col("dim_rows").isNotNull())
           .withColumn("out_rows", prod)
           .orderBy(F.col("out_rows").desc(), *[F.asc(c) for c in on])
           .limit(int(top_n)))
    # LEFT join FROM the always-one-row summary, not a crossJoin from
    # top: with fully disjoint key sets there are zero matched keys, and
    # a crossJoin would drop the summary row (orphan counts,
    # est_out_rows=0) in exactly the worst join-health case — the one
    # the audit exists to flag.  The no-match row carries NULL keys +
    # the full summary.  `top` is ≤ top_n rows, safely broadcast.
    return summary.join(F.broadcast(top), F.lit(True), "left").select(
        *on, "fact_rows", "dim_rows", "out_rows",
        "n_fact_rows", "n_dim_rows", "n_matched_keys",
        "n_fact_only_keys", "n_dim_only_keys",
        "fact_rows_orphaned", "dim_rows_orphaned",
        "est_out_rows", "amplification_micro")


def emd_report(df: DataFrame, group_col: str, value_col: str,
               n_bins: int = 32) -> DataFrame:
    """Per-group 1-D earth-mover (Wasserstein-1) distance between each
    group's distribution of an integral column and the GLOBAL
    distribution, over a shared equi-width binning — the drift lens
    chi²/PSI lack: EMD sees "the whole histogram slid one bin" as a
    small, proportional distance where chi² explodes, so it ranks
    "which source drifted FURTHEST" usefully.

    Shape at scale: the table collapses to (group, bin) counts in ONE
    map-side-combined shuffle (reduce cardinality = groups × n_bins,
    never rows) and that frame is persisted until the report is
    materialized (``localCheckpoint``) — it feeds three branches
    (per-group totals, global histogram, the cells join) and without
    the persist Spark re-scans the raw table once per branch.  The
    global histogram is the persisted frame re-aggregated; the
    per-group bin spine is ``sequence(0, n_bins-1)`` exploded from the
    groups frame (groups × n_bins rows); CDFs are window cumsums over
    n_bins-row partitions.

    Determinism: binning is pure integer floor division on an exact
    span; cumulative counts are exact integers; each bin's term is the
    exact DECIMAL(38,0) cross product ``|cum_g·n − cum_all·n_g|``
    (ANSI-loud at 10^38, never wrapped).  The 6-dp value is rounded IN
    INTEGERS — ``emd_micro = (2·Σterms·10⁶ + den) div (2·den)`` is an
    exact half-up integral division (den = n_g·n·n_bins), so no engine
    can disagree at a rounding boundary; ``emd_norm = emd_micro/10⁶``
    is one correctly-rounded IEEE division of small integers,
    bit-identical everywhere.  ``emd_norm`` ∈ [0, 1]: 0 = identical
    CDFs, 1 = all mass at opposite ends.

    Constant-width bins over [min, max] make the distance comparable
    ACROSS groups (a per-group binning would not be).  NULLs are
    excluded (they carry no position on the value axis).
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    v = F.col(value_col)
    rows = df.filter(v.isNotNull()).select(
        F.col(group_col).alias("g"), v.cast("long").alias("x"))
    # exact global span, broadcast as 1-row frame (integer arithmetic)
    span = rows.agg(F.min("x").alias("__lo"), F.max("x").alias("__hi"))
    binned = rows.crossJoin(F.broadcast(span)).select(
        "g",
        # `div` = exact integer division (no double detour that could
        # mis-bin once (x-lo)*n_bins crosses 2^53); span+1 puts max in
        # the last bin without a float-epsilon guard
        F.expr(f"((x - __lo) * {int(n_bins)}) "
               f"div (__hi - __lo + 1)").alias("bin"))
    from pyspark import StorageLevel
    counts = (binned.groupBy("g", "bin")
              .agg(F.count(F.lit(1)).alias("c"))
              .persist(StorageLevel.MEMORY_AND_DISK))
    totals = counts.groupBy("g").agg(F.sum("c").alias("n_g"))
    glob = counts.groupBy("bin").agg(F.sum("c").alias("c_all"))
    n_tot = glob.agg(F.sum("c_all").alias("n_all"))
    # dense bin spine per group so empty bins still contribute their
    # |CDF diff| term (skipping them would undercount the distance)
    spine = totals.select(
        "g", "n_g",
        F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"))
    cells = (spine.join(counts, ["g", "bin"], "left")
             .join(F.broadcast(glob), "bin", "left")
             .fillna(0, ["c", "c_all"])
             .crossJoin(F.broadcast(n_tot)))
    wg = Window.partitionBy("g").orderBy("bin")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    cum = cells.select(
        "g", "n_g", "n_all", "bin",
        F.sum("c").over(wg).alias("cum_g"),
        F.sum("c_all").over(wg).alias("cum_all"))
    term = F.abs(dec("cum_g") * dec("n_all") - dec("cum_all") * dec("n_g"))
    agg = (cum.groupBy("g", "n_g", "n_all")
           .agg(F.sum(term).alias("__num")))
    den = (dec("n_g") * dec("n_all") * F.lit(n_bins).cast("decimal(38,0)"))
    try:
        return (agg.withColumn("__den", den)
                .withColumn("emd_micro",
                            F.expr("(2 * __num * 1000000 + __den) "
                                   "div (2 * __den)").cast("long"))
                .select(F.col("g").alias(group_col), "n_g", "n_all",
                        "emd_micro",
                        (F.col("emd_micro").cast("double") / F.lit(1e6))
                        .alias("emd_norm"))
                .localCheckpoint(eager=True))
    finally:
        counts.unpersist()


def iqr_outlier_report(df: DataFrame, cols: list[str],
                       k_num: int = 3, k_den: int = 2) -> DataFrame:
    """Tukey-fence outlier screen per integral column (deequ's
    KLL-quantile outlier check, made exact): quartiles as ORDER
    STATISTICS over a distinct-value collapse — never a global sort,
    never an approximate sketch — then counts outside
    ``[q1 - k*iqr, q3 + k*iqr]`` with ``k = k_num/k_den`` evaluated in
    pure integers (``k_den*x < (k_den+k_num)*q1 - k_num*q3``), so the
    fence can never flake across engines at a float boundary.

    ONE melt scan for all N columns (same shape as entropy_report:
    payload columns prune, the table is read once) collapses to
    (column, value) counts — map-side combinable; the shuffle carries
    Σ per-column cardinalities, never rows — and that collapse is
    consumed once: ``stats.cumulative_weights`` partitioned by column
    gives each value its column's total and running count, a window on
    the same partitioning spreads the quartiles (``stats.at_rank``) to
    every value, and one aggregate counts the fence breaches.  No
    persist, no join, no second scan.

    Quartile definition: ``q`` = smallest value whose cumulative count
    reaches ``ceil(q_frac * n)`` (4*cum >= n for q1, >= 3n for q3) —
    the discrete lower-quartile convention, integer-exact on both
    engines.  NULLs are excluded from quartiles and counted in
    ``n_null``; a column with no non-NULL value yields no row.  Columns
    must be integral (scale currency to cents first — same contract as
    price_histogram / benford).
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    kv = []
    for c in cols:
        kv += [F.lit(c), F.col(c).cast("long")]
    pairs = df.select(F.explode(F.create_map(*kv)).alias("column", "v"))
    counts = (pairs.groupBy("column", "v")
              .agg(F.count(F.lit(1)).alias("c")))
    wcol = Window.partitionBy("column")
    quart = cumulative_weights(counts, ["column"], "v", "c").select(
        "*", F.min(at_rank(1, 4, "v")).over(wcol).alias("q1"),
        F.min(at_rank(3, 4, "v")).over(wcol).alias("q3"))

    kd, kn = F.lit(int(k_den)), F.lit(int(k_num))
    lo_breach = kd * F.col("v") < (kd + kn) * F.col("q1") - kn * F.col("q3")
    hi_breach = kd * F.col("v") > (kd + kn) * F.col("q3") - kn * F.col("q1")
    out = (quart.groupBy("column", F.col(TOTAL).alias("n"), "q1", "q3")
           .agg(F.sum(F.when(lo_breach, F.col("c")).otherwise(0))
                .alias("n_below"),
                F.sum(F.when(hi_breach, F.col("c")).otherwise(0))
                .alias("n_above"),
                F.sum(F.when(F.col("v").isNull(), F.col("c")).otherwise(0))
                .alias("n_null"))
           .where(F.col("n").isNotNull()))
    return out.select("column", F.col("n").alias("n_rows"), "n_null",
                      "q1", "q3", "n_below", "n_above",
                      F.round((F.col("n_below") + F.col("n_above"))
                              .cast("double") / F.col("n").cast("double"),
                              6).alias("outlier_ratio"))


def lateness_us(key_col: str, arrival_col: str, ts: Column) -> Column:
    """How many microseconds an event arrives behind its key's
    event-time high-water mark: the running max of event time over the
    key's arrival order, minus this event's time (0 for an event that
    sets a new high, positive when late, NULL for a NULL time).  ONE
    shuffle by key, in-partition sort by arrival — the sessionize
    contract: one key's events fit a reducer."""
    ts_us = F.unix_micros(ts.cast("timestamp"))
    w = (Window.partitionBy(key_col).orderBy(arrival_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return F.max(ts_us).over(w) - ts_us


def event_order_report(df: DataFrame, key_col: str, ts_col: str,
                       arrival_col: str,
                       quantiles: tuple[int, ...] = (50, 95, 99),
                       resolution_us: int = 1000) -> DataFrame:
    """Out-of-order arrival audit — the number a streaming pipeline
    needs BEFORE it picks a watermark: how late do events arrive
    relative to the per-key event-time high-water mark, and what
    delay covers p50/p95/p99 of the lateness?  (A watermark below the
    real p99 silently drops data; one far above it bloats every
    stateful operator's state window.)

    Per key, arrival order (``arrival_col`` — an ingestion sequence,
    file offset, or kafka offset) tags each event with its
    ``lateness_us`` (the tag ``ordering`` constraints use too).
    Lateness buckets to ``resolution_us`` via CEILING division (a
    watermark of ``p99_ms`` then really covers the µs values inside
    the bucket) and collapses to (bucket, count) — the quantiles are
    ORDER STATISTICS over that collapse (``stats.cumulative_weights``
    and ``stats.at_rank``: smallest bucket whose cumulative count
    reaches ⌈q·n_late/100⌉), never a global sort, never a sketch.
    On-time rows keep a NULL bucket in the SAME collapse, which the
    order statistic ignores; ``n_events`` and ``max_lateness_us`` are
    plain aggregates of the final one-row ``agg``, so the collapse is
    consumed exactly once — no persist, no second scan of the raw
    table.

    One summary row, all-integer except the single rounded ratio:
    ``n_events, n_late, late_ratio, max_lateness_us,
    p<q>_lateness_ms.., suggested_watermark_ms`` (= the largest
    requested quantile's bucket; 0 when nothing is late — an in-order
    feed needs no watermark slack).  NULL quantiles when n_late = 0."""
    res = int(resolution_us)
    lat = lateness_us(key_col, arrival_col, F.col(ts_col)).alias("__lat")
    bucket = F.when(F.col("__lat") > 0,
                    F.expr(f"(__lat + {res - 1}) div {res}"))
    counts = (df.select(lat).select(bucket.alias("b"), F.col("__lat"))
              .groupBy("b")
              .agg(F.count(F.lit(1)).alias("c"),
                   F.max(F.when(F.col("b").isNotNull(), F.col("__lat")))
                   .alias("mx")))
    qs = sorted(set(int(q) for q in quantiles))
    out = cumulative_weights(counts, [], "b", "c").agg(
        F.sum("c").alias("n_events"),
        F.coalesce(F.max(TOTAL), F.lit(0)).alias("n_late"),
        F.coalesce(F.max("mx"), F.lit(0)).alias("max_lateness_us"),
        *[F.min(at_rank(q, 100, F.expr(f"(b * {res}) div 1000")))
          .alias(f"p{q}_lateness_ms") for q in qs])
    return out.select(
        "n_events", "n_late",
        F.round(F.col("n_late").cast("double")
                / F.col("n_events").cast("double"), 6)
        .alias("late_ratio"),
        "max_lateness_us",
        *[f"p{q}_lateness_ms" for q in qs],
        F.coalesce(F.col(f"p{qs[-1]}_lateness_ms"), F.lit(0))
        .alias("suggested_watermark_ms"))


#: shape regexes for suggest_types — the portable RE2/Java/Python
#: subset (same policy as pattern_conformance / pii patterns), so the
#: driver oracle replays inference byte-for-byte.  Ladder order IS the
#: suggestion priority: every bigint string also matches the double
#: shape, so the narrower type must come first.
TYPE_SHAPES: tuple[tuple[str, str], ...] = (
    ("boolean", "(?i)^(true|false)$"),
    ("bigint", "^[+-]?[0-9]+$"),
    ("date", "^[0-9]{4}-[0-9]{2}-[0-9]{2}$"),
    ("timestamp", "^[0-9]{4}-[0-9]{2}-[0-9]{2}[T ]"
                  "[0-9]{2}:[0-9]{2}:[0-9]{2}(\\.[0-9]+)?$"),
    ("double", "^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)"
               "([eE][+-]?[0-9]+)?$"),
)


def suggest_types(df: DataFrame, cols: list[str] | None = None
                  ) -> DataFrame:
    """Column-type inference for raw string ingest (CSV/JSON landed as
    all-VARCHAR): per column, how many non-null values match each type
    SHAPE, and the narrowest type whose shape matches EVERY non-null
    value.  Shape-based (portable anchored regexes), NOT try_cast —
    engines disagree about '1.5'→BIGINT, 't'→BOOLEAN and date formats,
    a regex subset they share cannot.  A single stray 'N/A' correctly
    demotes the suggestion to string; the per-shape counts are emitted
    so the caller can see a 99.9%-numeric column and choose to
    quarantine the strays instead.

    ONE melt scan for all N columns (entropy_report's shape: the
    shuffle carries per-column value counts after a conditional-sum
    collapse, never rows).  All-integer output; ``suggested_type``
    picks the FIRST fully-matching shape in ladder order (boolean ⊂
    bigint ⊂ … double last — every int string matches the double
    shape) and falls back to 'string'."""
    cols = list(cols) if cols is not None else list(df.columns)
    kv = []
    for c in cols:
        kv += [F.lit(c), F.col(c).cast("string")]
    pairs = df.select(F.explode(F.create_map(*kv)).alias("column", "v"))
    aggs = [F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
            .alias("n_null")]
    for name, rx in TYPE_SHAPES:
        aggs.append(F.sum(F.when(F.col("v").rlike(rx), 1).otherwise(0))
                    .alias(f"n_{name}"))
    out = pairs.groupBy("column").agg(*aggs)
    nonnull = F.col("n_rows") - F.col("n_null")
    suggested = F.lit("string")
    for name, _ in reversed(TYPE_SHAPES):
        suggested = F.when((nonnull > 0) & (F.col(f"n_{name}") == nonnull),
                           F.lit(name)).otherwise(suggested)
    return out.select("column", "n_rows", "n_null",
                      *[f"n_{name}" for name, _ in TYPE_SHAPES],
                      suggested.alias("suggested_type"))


def cast_landing(df: DataFrame,
                 types: dict[str, str] | None = None,
                 cols: list[str] | None = None
                 ) -> tuple[DataFrame, DataFrame]:
    """Apply ``suggest_types``-style decisions to an all-VARCHAR
    landing: returns ``(typed, quarantined)`` — the ingestion sibling
    of ``split_valid_invalid``.  ``types`` maps column → target type
    (any ``suggest_types`` ladder name); omitted columns stay string.
    When ``types`` is None the suggestions are computed first (one
    extra melt scan — pass the dict explicitly in production so the
    decision is REVIEWED and pinned, not re-inferred per run).

    Casting is ``try_cast`` (never throws); a row where any raw value
    was non-null but its cast came back NULL is quarantined with an
    ``errors`` array naming the offending columns — typed rows never
    silently lose a value the landing had.  Every target is a plain
    ``try_cast``, which accepts a SUPERSET of each suggester shape
    (boolean also takes t/f/1/0, timestamps take more formats) —
    wider, never narrower, so a suggested type can always cast its
    own evidence.  ONE tagged projection, two filters —
    cache the tagged frame if both sides are consumed."""
    if types is None:
        sugg = suggest_types(df, cols)
        types = {r["column"]: r["suggested_type"]
                 for r in sugg.collect()
                 if r["suggested_type"] != "string"}
    bad_flags = []
    out_cols = []
    for c in df.columns:
        t = types.get(c)
        if not t or t == "string":
            out_cols.append(F.col(c))
            continue
        raw = F.col(c)
        casted = raw.try_cast(t)
        out_cols.append(casted.alias(c))
        bad_flags.append(F.when(raw.isNotNull() & casted.isNull(),
                                F.lit(c)))
    if not bad_flags:
        return df, df.limit(0).withColumn(
            "errors", F.array().cast("array<string>"))
    errs = F.array_compact(F.array(*bad_flags))
    tagged = df.withColumn("__errs", errs)
    typed = (tagged.filter(F.array_size("__errs") == 0)
             .select(*out_cols))
    quarantined = (tagged.filter(F.array_size("__errs") > 0)
                   .withColumnRenamed("__errs", "errors"))
    return typed, quarantined


def fd_discovery_report(df: DataFrame, cols: list[str],
                        max_violation_micro: int = 0) -> DataFrame:
    """Functional-dependency DISCOVERY over a candidate column list —
    the profiling complement to the declarative ``fd`` constraint kind
    (constraints.py checks an FD you already believe; this finds the
    ones worth believing: key→attribute dependencies to normalize on,
    and near-FDs whose violating keys are data-quality findings).

    For every ORDERED pair (determinant → dependent) over ``cols``:
    ``n_det_keys``, ``n_violating_keys`` (determinant values mapping
    to >1 dependent value), ``n_violating_rows`` (underlying rows
    under those keys), ``violation_micro`` = exact
    ``n_violating_keys·10⁶ div n_det_keys``, and ``holds`` =
    violation_micro ≤ ``max_violation_micro`` (0 = exact FD; a
    positive tolerance discovers near-FDs).

    NULL is a VALUE on both sides: a determinant key mapping to
    {x, NULL} IS inconsistent (two observed states), and NULL
    determinant keys are keys — the data-quality stance, where SQL's
    ``COUNT(DISTINCT)`` null-dropping would hide exactly the rows a
    cleaner needs to see.

    Scale shape — ONE scan, everything after it pair-cardinality:
    all C(k,2) unordered pair collapses ride the one shared
    ``_set_counts`` grouping-sets collapse (map-side combined — the
    shuffle carries distinct value-pair cardinality per set, never
    rows; its set id tells set membership from data NULLs);
    BOTH FD directions then explode from each collapse row in one
    projection — the set's two members, each the determinant of one
    leg — so the collapse is consumed exactly once (no persist,
    no re-scan — the tfidf/event-order single-consumption playbook);
    per-determinant distinct-dependent counts are a count of collapse
    rows (each row IS one distinct dependent value — dependent
    distinctness is established on RAW values by the collapse, so the
    exploded rows carry no dependent value at all), and the final
    per-pair agg is C(k,2)·2 rows.  Determinant keys regroup via
    per-column CAST AS STRING (injective for the atomic types
    admitted below) plus a separate is-null flag so NULL never
    collides with the string 'null'.

    Guards (``_check_set_cols``, shared with ``candidate_key_report``):
    needs ≥2 present columns; complex/binary columns are rejected
    loudly (string serialization would not be injective); k is capped
    at 12 — the grouping-sets shuffle replicates each row per set, so
    C(k,2) grows the one shuffle quadratically: pre-select candidate
    columns instead of pointing the discoverer at a wide table.
    """
    k = len(cols)
    _check_set_cols(df, cols, "fd_discovery_report", 2, k * (k - 1) // 2)
    pairs = _set_counts(df, [list(p) for p in combinations(cols, 2)])
    members = F.filter(
        F.array(*[F.struct(F.lit(c).alias("determinant"),
                           F.col(c).cast("string").alias("det_s"),
                           F.col(c).isNull().alias("det_null"))
                  for c in cols]),
        lambda e: F.array_contains("__set", e["determinant"]))
    # each member is the determinant of one leg, the other the dependent
    legs = F.transform(members, lambda e: e.withField(
        "dependent",
        F.array_except("__set", F.array(e["determinant"]))[0]))
    long = (pairs.select(F.explode(legs).alias("e"), "__cnt")
            .select("e.*", "__cnt"))
    per_det = (long.groupBy("determinant", "dependent", "det_s",
                            "det_null")
               .agg(F.count(F.lit(1)).alias("n_dep"),
                    F.sum("__cnt").alias("n_rows")))
    viol = F.col("n_dep") > 1
    micro = F.expr("n_violating_keys * CAST(1000000 AS BIGINT) "
                   "div n_det_keys")
    return (per_det.groupBy("determinant", "dependent")
            .agg(F.count(F.lit(1)).alias("n_det_keys"),
                 F.count(F.when(viol, 1)).alias("n_violating_keys"),
                 F.sum(F.when(viol, F.col("n_rows")).otherwise(0))
                 .alias("n_violating_rows"))
            .select("determinant", "dependent", "n_det_keys",
                    "n_violating_keys", "n_violating_rows",
                    micro.alias("violation_micro"),
                    (micro <= F.lit(int(max_violation_micro)))
                    .alias("holds")))


def candidate_key_report(df: DataFrame, cols: list[str]) -> DataFrame:
    """Candidate-key discovery over singles AND pairs of ``cols`` —
    the other half of the grouping-sets profiling pass
    (``fd_discovery_report`` finds what a key DETERMINES; this finds
    the keys): per column set, exact ``n_distinct``, ``n_rows``,
    ``uniqueness_micro`` = ``n_distinct·10⁶ div n_rows``,
    ``n_null_key_rows`` (rows where any member is NULL), ``is_unique``
    (every row a distinct combination) and ``is_key`` (unique AND
    NULL-free — SQL key semantics: a UNIQUE constraint tolerates
    NULLs, a KEY does not, and a suggester that conflates them
    suggests keys that fail on declaration).

    Scale shape: ONE scan — all k + C(k,2) set collapses ride the one
    shared ``_set_counts`` grouping-sets collapse, summarised per set
    by ``_set_stats`` (whose singles are exactly
    ``distinctness_profile``'s rows); because every set partitions ALL
    rows, each set's own ``sum(cnt)`` IS the table row count — no
    second scan, no count join, no persist.  Same guards as the FD
    discoverer: ≥1 atomic column, k ≤ 12.
    """
    k = len(cols)
    _check_set_cols(df, cols, "candidate_key_report", 1,
                    k + k * (k - 1) // 2)
    per_set = _set_stats(df, [[c] for c in cols]
                         + [list(p) for p in combinations(cols, 2)])
    uniq = F.col("n_distinct") == F.col("n_rows")
    return per_set.select(
        F.array_join("__set", ",").alias("key_cols"),
        F.size("__set").alias("size"),
        "n_distinct", "n_rows",
        F.col("n_null_rows").alias("n_null_key_rows"),
        F.expr("n_distinct * CAST(1000000 AS BIGINT) div n_rows")
        .alias("uniqueness_micro"),
        uniq.alias("is_unique"),
        (uniq & (F.col("n_null_rows") == 0)).alias("is_key"))

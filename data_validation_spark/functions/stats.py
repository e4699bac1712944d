"""Catalyst aggregate expressions for the stats pass (SURVEY.md S1-S9).

Everything here is a JVM-side Catalyst aggregate — map-side partial +
reduce-side final for free — so one ``groupBy(partition_cols).agg(*)``
computes every numeric component's summary in a single shuffle whose
reduce cardinality is the partition count, never the row count.

Per-partition partials are merged to a global profile driver-side
(``merge_numeric_partials``): counts/min/max exactly, mean/std via the
numerically-stable pooled (Chan et al.) formula, quantile vectors via
weighted mixture-ECDF inversion.
"""

from __future__ import annotations

import bisect

import numpy as np
from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from data_validation_spark.plans.suite import QUANTILE_PROBS

#: default percentile_approx accuracy — rank error ~ 1/accuracy.
#: 2000 (5e-4 rank error) is ample for the 101-point drift vectors and
#: roughly halves the sketch's CPU share of the stats pass (measured);
#: exact-histogram quantiles replace the sketch entirely for bounded
#: integral components (operators/profile.py _hist_specs).
DEFAULT_ACCURACY = 2000


def numeric_agg_exprs(name: str, expr: str,
                      accuracy: int = DEFAULT_ACCURACY,
                      include_quantiles: bool = True) -> list[Column]:
    """Aggregate expressions for one numeric component.

    ``expr`` is a SQL expression (the component's extractor).  Emits
    columns ``{name}__n, __n_invalid, __min, __max, __mean, __std,
    __quantiles`` — NaN and NULL both count as invalid (rdv ``pinv``).
    ``include_quantiles=False`` drops the GK-sketch column — used when
    the caller computes exact quantiles from a value histogram instead
    (integral bounded domains; see exact_quantiles_from_counts).
    """
    invalid, valid = _invalid_valid(expr)
    p = f"{name}__"
    exprs = [
        F.count(F.lit(1)).alias(p + "n"),
        F.sum(invalid.cast("long")).alias(p + "n_invalid"),
        F.min(valid).alias(p + "min"),
        F.max(valid).alias(p + "max"),
        F.avg(valid).alias(p + "mean"),
        F.stddev_samp(valid).alias(p + "std"),
    ]
    if include_quantiles:
        exprs.append(numeric_quantile_expr(name, expr, accuracy))
    return exprs


def numeric_quantile_expr(name: str, expr: str,
                          accuracy: int = DEFAULT_ACCURACY) -> Column:
    """The GK-sketch column ``{name}__quantiles`` of
    ``numeric_agg_exprs``, on its own: for an aggregate that computes
    only the quantiles of components the main aggregate left without."""
    _, valid = _invalid_valid(expr)
    return (F.percentile_approx(valid, QUANTILE_PROBS, accuracy)
            .alias(f"{name}__quantiles"))


def _invalid_valid(expr: str | Column) -> tuple[Column, Column]:
    """(is-invalid flag, value as double or NULL when invalid): a
    numeric value is invalid when NULL or NaN."""
    c = F.expr(expr) if isinstance(expr, str) else expr
    dbl = c.cast("double")
    invalid = c.isNull() | F.isnan(dbl)
    return invalid, F.when(~invalid, dbl)


def categoric_agg_exprs(name: str, expr: str) -> list[Column]:
    """Null/total counters for a categoric component (frequencies are a
    separate low-cardinality groupBy — see operators/profile.py)."""
    c = F.expr(expr)
    p = f"{name}__"
    return [
        F.count(F.lit(1)).alias(p + "n"),
        F.sum(c.isNull().cast("long")).alias(p + "n_invalid"),
    ]


def tokens_agg_exprs(name: str, expr: str,
                     accuracy: int = DEFAULT_ACCURACY,
                     include_quantiles: bool = True) -> list[Column]:
    """Token-array profile (S5/S6): length stats + element min/max +
    null-array count, all without exploding rows.  The only place the
    full ``tokens`` column is read (P1: keep it out of other paths).
    The exact-histogram path takes only ``numeric`` components, so the
    profile always asks for length quantiles here: the GK sketch added
    when ``include_quantiles`` is True."""
    c = F.expr(expr)
    length = F.when(c.isNotNull(), F.array_size(c).cast("double"))
    p = f"{name}__"
    exprs = [
        F.count(F.lit(1)).alias(p + "n"),
        F.sum(c.isNull().cast("long")).alias(p + "n_invalid"),
        F.min(length).alias(p + "min"),
        F.max(length).alias(p + "max"),
        F.avg(length).alias(p + "mean"),
        F.stddev_samp(length).alias(p + "std"),
    ]
    if include_quantiles:
        exprs.append(F.percentile_approx(length, QUANTILE_PROBS, accuracy)
                     .alias(p + "quantiles"))
    exprs += [
        F.min(F.array_min(c)).cast("long").alias(p + "elem_min"),
        F.max(F.array_max(c)).cast("long").alias(p + "elem_max"),
    ]
    return exprs


# ---------------------------------------------------------------------------
# driver-side merging of per-partition partials (tiny: one row/partition)
# ---------------------------------------------------------------------------

def pooled_mean_std(ns: np.ndarray, means: np.ndarray, stds: np.ndarray
                    ) -> tuple[float | None, float | None]:
    """Exact pooled mean/sample-std from per-group (n, mean, std) via the
    pairwise/Chan update — numerically stable, no raw sum-of-squares."""
    mask = ns > 0
    ns, means = ns[mask], means[mask]
    stds = np.where(np.isnan(stds[mask]), 0.0, stds[mask])
    if ns.sum() == 0:
        return None, None
    n_tot = float(ns.sum())
    mean = float(np.sum(ns * means) / n_tot)
    # M2 within groups + between-group contribution
    m2 = float(np.sum(stds ** 2 * np.maximum(ns - 1, 0))
               + np.sum(ns * (means - mean) ** 2))
    std = float(np.sqrt(m2 / (n_tot - 1))) if n_tot > 1 else None
    return mean, std


def merge_quantile_vectors(ns: list[int], vecs: list[list[float]],
                           probs: list[float] = QUANTILE_PROBS) -> list[float] | None:
    """Merge per-partition quantile vectors into a global one.

    Each vector is the inverse ECDF of its partition sampled at
    ``probs``; the global distribution is the n-weighted mixture of the
    partition distributions, so we invert the mixture CDF: for target
    rank q, binary-search the value v where sum_i n_i * F_i(v) = q * N.
    F_i is reconstructed by linear interpolation on (vec_i, probs).
    """
    pairs = [(n, np.asarray(v, dtype=float)) for n, v in zip(ns, vecs)
             if n > 0 and v is not None]
    if not pairs:
        return None
    n_tot = float(sum(n for n, _ in pairs))
    probs_arr = np.asarray(probs)

    # Fully vectorized inversion (this runs on the driver in the serial
    # section of every run — a Python-loop bisection here measurably
    # caps scaling): evaluate the mixture CDF once on the union of all
    # partition quantile points, then invert by interpolation.
    support = np.unique(np.concatenate([v for _, v in pairs]))
    mix = np.zeros_like(support)
    for n, v in pairs:
        mix += n * np.clip(np.interp(support, v, probs_arr), 0.0, 1.0)
    mix /= n_tot
    # make the CDF strictly sortable for inversion
    mix_m = np.maximum.accumulate(mix)
    out = np.interp(probs_arr, mix_m, support,
                    left=support[0], right=support[-1])
    out[0], out[-1] = support[0], support[-1]  # pin exact extremes
    return out.tolist()


def merge_numeric_partials(rows: list[dict]) -> dict:
    """Merge per-partition partial dicts (keys: n, n_invalid, min, max,
    mean, std, quantiles) into one global dict with the same keys."""
    ns = np.array([r["n"] - r["n_invalid"] for r in rows], dtype=float)
    means = np.array([r["mean"] if r["mean"] is not None else np.nan for r in rows])
    stds = np.array([r["std"] if r["std"] is not None else np.nan for r in rows])
    mean, std = pooled_mean_std(ns, np.nan_to_num(means), stds)
    mins = [r["min"] for r in rows if r["min"] is not None]
    maxs = [r["max"] for r in rows if r["max"] is not None]
    qs = merge_quantile_vectors([int(n) for n in ns],
                                [r.get("quantiles") for r in rows])
    return {
        "n": int(sum(r["n"] for r in rows)),
        "n_invalid": int(sum(r["n_invalid"] for r in rows)),
        "min": min(mins) if mins else None,
        "max": max(maxs) if maxs else None,
        "mean": mean,
        "std": std,
        "quantiles": qs,
    }


def exact_quantiles_from_counts(values: np.ndarray, counts: np.ndarray,
                                probs: list[float] = QUANTILE_PROBS
                                ) -> list[float] | None:
    """Exact linear-interpolation percentiles from a value histogram —
    identical to ``np.percentile(method="linear")`` on the expanded
    data, computed in O(#distinct) instead of O(n).

    This is the scale path for integer-valued components with a bounded
    domain (n_tok, size(tokens) ≤ max_len): a (partition, value) count
    shuffle is tiny and embarrassingly parallel, while a GK sketch of
    accuracy 1e4 × 101 probes measurably bottlenecks the stats pass
    (measured on the round-1 32-core host: 2.5-4.3 s/agg vs 0.7 s for
    all scalar aggs).
    """
    if values.size == 0:
        return None
    order = np.argsort(values, kind="stable")
    v = np.asarray(values, dtype=float)[order]
    c = np.asarray(counts, dtype=np.int64)[order]
    cum = np.cumsum(c)  # 1-based rank of the last occurrence of v[i]
    n = int(cum[-1])
    pos = np.asarray(probs, dtype=float) * (n - 1)  # 0-based fractional
    lo_idx = np.searchsorted(cum, np.floor(pos) + 1, side="left")
    hi_idx = np.searchsorted(cum, np.floor(pos) + 2, side="left")
    hi_idx = np.minimum(hi_idx, len(v) - 1)
    frac = pos - np.floor(pos)
    out = v[lo_idx] * (1 - frac) + v[hi_idx] * frac
    return out.tolist()


def interp_ecdf(quantiles: list[float],
                probs: list[float] = QUANTILE_PROBS):
    """Return F(x) callable reconstructed from a quantile vector."""
    v = np.asarray(quantiles, dtype=float)
    p = np.asarray(probs, dtype=float)

    def cdf(x):
        return np.clip(np.interp(x, v, p, left=0.0, right=1.0), 0.0, 1.0)
    return cdf


def topk_by_count(freq: dict[str, int], k: int) -> list[tuple[str, int]]:
    """Deterministic top-k (count desc, value asc) — S9."""
    return sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def pearson_corr_matrix(df, cols: list[str]):
    """Pairwise Pearson correlation profile over INTEGRAL columns —
    the deequ-style column-relationship check (is n_tok really
    len(tokens)?  did a join duplicate rows and decouple keys?) as ONE
    map-side-combined aggregation pass.

    Exactness contract: every moment (n, Σx, Σx², Σxy) accumulates as
    DECIMAL(38,0) — integer addition is associative, so the moments are
    bit-identical regardless of partitioning/summation order, and the
    final float math (one int→double conversion, one sqrt, one divide
    per pair, the same op sequence any engine performs) is therefore
    deterministic — the class of cross-engine rounding flake that a
    double-sum formulation suffers cannot occur.  ANSI decimal overflow
    fails the job loudly rather than wrapping (at 38 digits that needs
    ~10^38 in a single moment — beyond any feasible corpus).

    Driver cost: ONE row of k + k(k+1)/2 decimals; the k² result frame
    is built driver-side.  Returns (col_a, col_b, corr) for every
    unordered pair, corr rounded to 6 (NULL when a side has zero
    variance)."""
    import math

    from pyspark.sql import functions as F  # local alias for clarity

    d = {c: F.col(c).cast("decimal(19,0)") for c in cols}
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    for c in cols:
        aggs.append(F.sum(d[c]).cast("decimal(38,0)").alias(f"s_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(F.sum((d[a] * d[b]).cast("decimal(38,0)"))
                        .cast("decimal(38,0)").alias(f"p_{a}_{b}"))
    r = df.agg(*aggs).first().asDict()
    n = int(r["n"])
    rows = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            sa, sb = int(r[f"s_{a}"]), int(r[f"s_{b}"])
            sab = int(r[f"p_{a}_{b}"])
            saa, sbb = int(r[f"p_{a}_{a}"]), int(r[f"p_{b}_{b}"])
            num = n * sab - sa * sb
            va, vb = n * saa - sa * sa, n * sbb - sb * sb
            corr = (None if va == 0 or vb == 0 else
                    round(num / math.sqrt(va) / math.sqrt(vb), 6))
            rows.append((a, b, corr))
    return df.sparkSession.createDataFrame(
        rows, "col_a string, col_b string, corr double")


#: columns ``cumulative_weights`` adds: the group's total weight and the
#: running weight up to and including the row's value
TOTAL, CUM = "__n", "__cum"


def cumulative_weights(collapsed: DataFrame, group_cols: list[str],
                       value_col: str, weight_col: str,
                       max_distinct: int | None = None,
                       what: str = "cumulative_weights") -> DataFrame:
    """The engine's one exact order-statistic pass.  ``collapsed`` holds
    one ``(group..., value, weight)`` row per distinct value of a group
    (a map-side-combined collapse, so the pass sorts value cardinality,
    never rows).  ONE window pass, ``PARTITION BY group ORDER BY
    value``, adds ``TOTAL`` (the group's weight) and ``CUM`` (the
    weight of values <= this one).  NULL values count toward neither:
    they sort first with a NULL ``CUM``, and a group holding only NULLs
    has a NULL ``TOTAL``.  ``at_rank`` turns the pair into order
    statistics.

    ``max_distinct``: past that many distinct values within a group,
    ``CUM`` becomes ``raise_error`` (in the same sort), naming ``what``
    and ``value_col`` — the window's reducer holds one group's distinct
    values, so a continuous metric would otherwise silently become a
    one-task sort over ~n rows."""
    g = list(group_cols)
    order = (Window.partitionBy(*g) if g else Window).orderBy(value_col)
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    whole = order.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    wt = F.when(F.col(value_col).isNotNull(), F.col(weight_col))
    cum = F.sum(wt).over(run)
    if max_distinct is not None:
        cum = F.when(
            F.count(value_col).over(run) > F.lit(int(max_distinct)),
            F.raise_error(F.lit(
                f"{what}: >{max_distinct} distinct values in "
                f"'{value_col}'"
                + (" within a group" if g else "")
                + " — quantize the metric or use the sketch profile "
                "path"))).otherwise(cum)
    return collapsed.select("*", F.sum(wt).over(whole).alias(TOTAL),
                            cum.alias(CUM))


def at_rank(num: int, den: int, value: Column | str) -> Column:
    """``value`` on the rows of a ``cumulative_weights`` frame whose
    running weight reaches ``num/den`` of the total (``CUM·den >=
    TOTAL·num``, pure integers), else NULL: its ``min`` over a group is
    the smallest value whose cumulative weight reaches ⌈num·n/den⌉ —
    no interpolation, so no engine can disagree at a float boundary."""
    v = F.col(value) if isinstance(value, str) else value
    return F.when(F.col(CUM) * int(den) >= F.col(TOTAL) * int(num), v)


def weighted_quantiles(df: DataFrame, value_col: str, weight_col: str,
                       quantiles: tuple[int, ...] = (25, 50, 75, 90,
                                                     99),
                       group_cols: list[str] | None = None,
                       max_distinct: int | None = 1_000_000
                       ) -> DataFrame:
    """EXACT weighted quantiles over an integral value column — the
    importance-weighted corpus question ("the median token count of
    my mixture, where each doc carries its sampling weight") that the
    unweighted GK sketch cannot answer.  Collapse to (value, Σweight)
    — map-side combinable, the shuffle carries value cardinality,
    never rows — then ``cumulative_weights`` and ``at_rank``: quantile
    q = the smallest value whose cumulative weight reaches
    ``ceil(q·W/100)``.  NULL values add nothing to ``total_weight``,
    ``n_values`` or the CDF.  Zero/negative weights
    are rejected loudly (a negative weight makes the CDF
    non-monotone; silently clamping would fabricate a distribution).
    Weights must be NULL-free and integral-valued: a NULL weight would
    silently vanish from ``sum`` (row dropped from the CDF with no
    error) and a fractional weight would silently floor under the
    exactness cast (1.7 contributing 1 distorts the distribution while
    still claiming "exact") — both are rejected loudly; pre-scale
    fractional importance weights to integers (e.g. micro-units
    ``cast(w * 1e6 as long)``) at the call site, where the caller
    knows the intended precision.

    With ``group_cols`` the same window partitions by group (each
    reducer holds one group's distinct values, no join): one output
    row per group, else one global row ``total_weight, n_values,
    p<q>...``.  A group with no non-NULL value yields no row.

    ``max_distinct`` is ``cumulative_weights``' fail-loud cardinality
    cap, per group (quantize the metric or use the sketch profile
    path)."""
    g = list(group_cols or [])
    w = F.col(weight_col).cast("long")
    bad = (df.filter(F.col(weight_col).isNull() | w.isNull()
                     | (F.col(weight_col) != w) | (w <= 0))
           .select(weight_col).limit(1).collect())
    if bad:
        raise ValueError(
            f"weighted_quantiles: weight {bad[0][0]!r} in "
            f"{weight_col!r} is NULL (or not castable to an integer), "
            "non-integral, or non-positive "
            "(NULL rows would silently vanish from the CDF, fractional "
            "weights would silently floor, negative weights make the "
            "CDF non-monotone) — pre-scale fractional weights to "
            "integers, e.g. cast(w * 1e6 as long)")
    collapsed = df.groupBy(*g, value_col).agg(F.sum(w).alias("__w"))
    cum = cumulative_weights(collapsed, g, value_col, "__w", max_distinct,
                             "weighted_quantiles")
    qs = sorted(set(int(q) for q in quantiles))
    return (cum.groupBy(*g)
            .agg(F.max(TOTAL).alias("total_weight"),
                 F.count(value_col).alias("n_values"),
                 *[F.min(at_rank(q, 100, value_col)).alias(f"p{q}")
                   for q in qs])
            .where(F.col("total_weight").isNotNull()))

"""build_profile — the single vectorized stats pass (rdv Schema.build, E1).

Pure Catalyst aggregates (S1-S7): one ``groupBy(partition_cols).agg(...)``
computes every numeric/tokens component's partials map-side, so no row
crosses into Python; exact quantiles of bounded integral components
come from one value-histogram job, and categoric frequencies from one
low-cardinality ``groupBy`` per component.  None of these actions needs
another's result, so they are submitted together from a small thread
pool (``run_concurrently``) and their per-partition records are merged
on the driver once all have finished (functions/stats.py).

Scale notes (100 TB): the shuffle key is the table's physical partition
key ``(source, bucket)``, so reduce cardinality = #partitions, not
#rows; Catalyst partial aggregation means the shuffle payload is one
partial per (map task × partition).  Only the columns named by
components are scanned (parquet column pruning) — profiles that skip
``tokens`` never read it.  Driver memory is bounded by
#partitions × #components records.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Hashable
from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from data_validation_spark.functions.stats import (
    DEFAULT_ACCURACY,
    categoric_agg_exprs,
    exact_quantiles_from_counts,
    merge_numeric_partials,
    numeric_agg_exprs,
    numeric_quantile_expr,
    tokens_agg_exprs,
)
from data_validation_spark.operators.constraints import (
    LABEL,
    agg_col,
    with_label,
)
from data_validation_spark.plans.suite import (
    CategoricStats,
    Component,
    NumericStats,
    Profile,
)

_NUMERIC_KEYS = ("n", "n_invalid", "min", "max", "mean", "std", "quantiles",
                 "elem_min", "elem_max")


def _ccol(name: str) -> str:
    """Projected component column name — prefixed so a component named
    after a partition column never collides with it."""
    return f"__c_{name}"


def _project(df: DataFrame, components: list[Component]) -> DataFrame:
    """Evaluate extractor expressions once, up front (rdv Extractor ≡
    Catalyst projection, SURVEY.md O7).  The input columns stay, so the
    pass's named aggregates can read them; Catalyst prunes the scan to
    the columns something reads."""
    return df.select("*", *[F.expr(c.expr).alias(_ccol(c.name))
                            for c in components])


# ---------------------------------------------------------------------------
# per-partition aggregation
# ---------------------------------------------------------------------------

import re

from pyspark.sql.types import ArrayType, ByteType, IntegerType, LongType, ShortType
from pyspark.sql.window import Window

_INTEGRAL_TYPES = (ByteType, ShortType, IntegerType, LongType)

#: max (partition × value) histogram rows collected per component before
#: the exact-quantile path falls back to the in-pass sketch — bounds
#: driver memory to ~tens of MB regardless of the column's cardinality
HIST_MAX_GROUPS = 262_144
#: max distinct (partition × value) groups a categoric component may
#: have before frequencies switch from exact to top-k + __other__
CATEGORIC_EXACT_MAX = 10_000
#: number of values kept per partition in the top-k frequency path
CATEGORIC_TOP_K = 100
#: salt fan-out for the two-phase top-k window (bounds any single
#: window-sort task to ~1/S of a partition's distinct values)
_TOPK_SALTS = 32

from data_validation_spark.plans.suite import OTHER_KEY


def _array_referencing(components: list[Component],
                       df: DataFrame) -> set[str]:
    """Component names whose extractor expression mentions an
    array-typed source column (e.g. ``size(tokens)``).  Such components
    never take the separate exact-histogram job: that job would pay a
    SECOND full decode of the array column (~9 s at local[4]/8M — the
    dominant cost of anything touching tokens), so their quantiles stay
    in the main agg's sketch instead."""
    array_cols = [f.name for f in df.schema.fields
                  if isinstance(f.dataType, ArrayType)]
    out: set[str] = set()
    for comp in components:
        expr = comp.expr
        if any(re.search(rf"\b{re.escape(c)}\b", expr) for c in array_cols):
            out.add(comp.name)
    return out


def _hist_specs(df: DataFrame, components: list[Component],
                sketch_forced: set[str]) -> dict[str, F.Column]:
    """Components whose quantiles come from an exact value histogram
    instead of a GK sketch: SCALAR integral-typed numerics (bounded
    domains — n_tok).  The histogram job scans only the pruned scalar
    columns (measured 1.5 s vs 4+ s of sketch time at local[4]/8M rows)
    and the result is EXACT.  Guards (all can be pinned per component
    via ``Component.quantile_strategy``):

    * ``sketch_forced`` — array-derived components (second-decode cost,
      see ``_array_referencing``) stay on the in-pass sketch;
    * a reactive cardinality guard in ``_catalyst_records`` drops any
      component whose histogram exceeds ``HIST_MAX_GROUPS`` rows back to
      the sketch BEFORE anything is collected to the driver, so an
      unbounded integral column (ids, epochs) can never OOM the driver.
    """
    specs: dict[str, F.Column] = {}
    for comp in components:
        if comp.ctype != "numeric":
            continue
        override = comp.quantile_strategy
        if override == "sketch":
            continue
        dtype = df.schema[_ccol(comp.name)].dataType
        if not isinstance(dtype, _INTEGRAL_TYPES):
            continue
        if override != "hist" and comp.name in sketch_forced:
            continue
        specs[comp.name] = F.col(_ccol(comp.name)).cast("long")
    return specs


def single_job_limit_collect(df: DataFrame, n: int) -> list:
    """``df.limit(n).collect()`` as ONE Spark job.

    CollectLimit normally executes incrementally (1 partition, then
    scale up ×4, ...) — good for interactive ``take``, but each round
    is a separate job, and job count is driver-serial time at scale.
    Guard probes here WANT one early-stopping pass over all partitions:
    every task stops at its local ``n+1``-th row, so in the
    non-overflow case the driver receives at most the true row count,
    and in the (pathological, discarded-anyway) overflow case at most
    ``#partitions × (n+1)`` narrow rows transiently.

    The setting that makes it one job is session-wide, so probes that
    run at the same time share one hold on it: the first sets it, the
    last restores the session's own value."""
    spark = df.sparkSession
    with _limit_lock:
        hold = _limit_holds.get(spark)
        if hold is None:
            try:
                old = spark.conf.get(_LIMIT_KEY)
            except Exception:
                old = None
            hold = _limit_holds[spark] = [0, old]
            spark.conf.set(_LIMIT_KEY, str(2**31 - 1))
        hold[0] += 1
    try:
        return df.limit(n).collect()
    finally:
        with _limit_lock:
            hold[0] -= 1
            if not hold[0]:
                del _limit_holds[spark]
                if hold[1] is None:
                    spark.conf.unset(_LIMIT_KEY)
                else:
                    spark.conf.set(_LIMIT_KEY, hold[1])


_LIMIT_KEY = "spark.sql.limit.initialNumPartitions"
_limit_lock = threading.Lock()
#: session -> [probes running, the session's own value of _LIMIT_KEY]
_limit_holds: dict = {}


#: how many independent Spark actions ``run_concurrently`` submits at
#: once (``1`` = one after another; identical results either way)
CONCURRENT_ACTIONS = 4


def run_concurrently(spark: SparkSession,
                     actions: dict[Hashable, Callable]) -> dict:
    """Call the independent Spark-action thunks ``actions``, up to
    ``CONCURRENT_ACTIONS`` at a time, and return their results under
    the same keys.  Serial driver actions leave the cluster idle
    between stages (a reduce tail runs on a few tasks while the other
    cores wait for the next job's scan); overlapping them fills that
    gap.  Every pool thread inherits the caller's local properties (job
    group, description, scheduler pool) and job tags, so the jobs it
    submits are attributed like the caller's own.
    ``CONCURRENT_ACTIONS <= 1`` calls every thunk in order on the
    calling thread."""
    if CONCURRENT_ACTIONS <= 1 or len(actions) <= 1:
        return {k: f() for k, f in actions.items()}

    def inherit(f: Callable) -> Callable:
        # wrapped one thunk at a time: each thread gets its own copy of
        # the properties, so a job group one thread sets stays its own
        wrap = inheritable_thread_target(spark)
        return f if wrap is spark else wrap(f)  # pinned-thread mode off

    with ThreadPoolExecutor(
            max_workers=min(CONCURRENT_ACTIONS, len(actions))) as pool:
        futures = {k: pool.submit(inherit(f)) for k, f in actions.items()}
        return {k: f.result() for k, f in futures.items()}


def _topk_count_rows(counts: DataFrame, partition_cols: list[str],
                     val_col: str, k: int) -> list:
    """Deterministic per-partition top-k over a (pcols, value, count)
    frame via a salted two-phase window (S9 at scale): rank within
    (pcols, salt) first — no single window task ever sorts more than
    ~1/``_TOPK_SALTS`` of a partition's distinct values — then rank the
    ≤ S×k survivors globally per partition.  Ties break on value asc,
    so the result is reproducible across runs/engines."""
    order = [F.desc("count"), F.asc(val_col)]
    salted = (counts
              .where(F.col(val_col).isNotNull())
              .withColumn("__salt",
                          F.pmod(F.xxhash64(F.col(val_col).cast("string")),
                                 F.lit(_TOPK_SALTS))))
    w1 = Window.partitionBy(*partition_cols, "__salt").orderBy(*order)
    cand = (salted.withColumn("__rk", F.row_number().over(w1))
            .where(F.col("__rk") <= k).drop("__rk", "__salt"))
    w2 = Window.partitionBy(*partition_cols).orderBy(*order)
    return (cand.withColumn("__rk", F.row_number().over(w2))
            .where(F.col("__rk") <= k).drop("__rk").collect())


def global_topk(df: DataFrame, k: int, order: list,
                rank_col: str = "rank") -> DataFrame:
    """Deterministic global top-k WITH rank, as a DataFrame, without
    ever windowing the full frame: ``orderBy(...).limit(k)`` compiles
    to TakeOrderedAndProject (per-partition bounded heaps + a k-row
    merge — no full sort, no single task holding the table), and the
    rank window then runs over exactly k rows.  ``order`` must be a
    total order (include a tie-break column) or rank is ambiguous.

    Use this instead of ``row_number().over(Window.orderBy(...))`` on
    an unbounded frame — that plan moves EVERY row to one window task
    (Spark's own WindowExec warning) and is the canonical top-k
    scale-killer."""
    survivors = df.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return survivors.withColumn(rank_col, F.row_number().over(w))


def _hist_probe(df: DataFrame, hist: dict[str, F.Column],
                forced: set[str], partition_cols: list[str]
                ) -> tuple[dict[str, dict[str, dict[int, int]]], set[str]]:
    """Exact quantile histograms: one melt → one (pcols, comp, value)
    count shuffle for ALL histogram components together.  Returns
    ({comp: {partition: {value: count}}}, components kept).  Each
    component is sized BEFORE its rows are collected: one whose
    histogram exceeds HIST_MAX_GROUPS rows (unbounded ids / epochs
    under strategy "auto") is left out of the kept set — the guard runs
    cluster-side, the driver never sees the big rows.  ``forced``
    components (``quantile_strategy="hist"``) are never guarded."""
    if len(hist) == 1:  # common case: no melt/row-duplication needed
        only = next(iter(hist))
        hist_counts = (df.select(*partition_cols,
                                 F.lit(only).alias("comp"),
                                 hist[only].alias("val"))
                       .groupBy(*partition_cols, "comp", "val").count())
    else:
        pair = F.explode(F.array(*[
            F.struct(F.lit(name).alias("comp"), col.alias("val"))
            for name, col in hist.items()])).alias("pair")
        hist_counts = (df.select(*partition_cols, pair)
                       .select(*partition_cols, "pair.comp", "pair.val")
                       .groupBy(*partition_cols, "comp", "val").count())
    hist_counts = with_label(hist_counts, partition_cols)
    guarded = hist.keys() - forced
    if len(hist) == 1 and guarded:
        # Common case (one integral component under guard): the
        # guard IS the collect — pull at most HIST_MAX_GROUPS+1
        # rows in ONE action; an overflowing probe is discarded.
        # Driver memory stays bounded by the limit either way.
        probe = single_job_limit_collect(hist_counts, HIST_MAX_GROUPS + 1)
        keep = set() if len(probe) > HIST_MAX_GROUPS else set(hist)
        hist_rows = probe if keep else []
    else:
        # Multi-component (or all-forced) path: per-comp sizes
        # guard as TWO actions on a persisted counts frame, not
        # one self-joined action — a broadcast of the sizes agg
        # executes the melt subplan a second time (no exchange
        # reuse across the broadcast boundary — measured slower
        # at sf0.1), while the second action on the persisted
        # frame is milliseconds at any data size.
        if guarded:
            hist_counts.persist()
        try:
            per_comp = {r["comp"]: r["cnt"] for r in
                        hist_counts.groupBy("comp")
                        .agg(F.count(F.lit(1)).alias("cnt")).collect()
                        } if guarded else {}
            too_big = {n for n, c in per_comp.items()
                       if c > HIST_MAX_GROUPS and n not in forced}
            keep = set(hist) - too_big
            hist_rows = (hist_counts.where(F.col("comp").isin(list(keep)))
                         .collect() if keep else [])
        finally:
            hist_counts.unpersist()
    hists: dict[str, dict[str, dict[int, int]]] = {}
    for r in hist_rows:
        if r["val"] is None:
            continue
        hists.setdefault(r["comp"], {}).setdefault(
            r[LABEL], {})[int(r["val"])] = r["count"]
    return hists, keep


def _freq_probe(df: DataFrame, comp: Component,
                partition_cols: list[str]) -> tuple[list, bool]:
    """One categoric component's (pcols, value, count) rows, and
    whether they are a per-partition top-k rather than the full map.
    Driver memory is bounded either way: the collect is the full value
    map (≤ CATEGORIC_EXACT_MAX groups) or a cluster-side salted top-k.
    ``Component.freq_strategy`` pins the choice and skips the probe."""
    keys = [*partition_cols, _ccol(comp.name)]
    counts_df = with_label(df.groupBy(*keys).count(), partition_cols)
    if comp.freq_strategy == "exact":
        return counts_df.collect(), False
    if comp.freq_strategy == "topk":
        return _topk_count_rows(counts_df, partition_cols, _ccol(comp.name),
                                CATEGORIC_TOP_K), True
    # auto: the guard IS the collect — pull at most
    # CATEGORIC_EXACT_MAX+1 rows in ONE action.  A non-overflowing
    # probe is already the full exact value map; only a genuinely
    # high-cardinality component pays the second (salted top-k) job,
    # on a persisted counts frame.
    probe = single_job_limit_collect(counts_df, CATEGORIC_EXACT_MAX + 1)
    if len(probe) <= CATEGORIC_EXACT_MAX:
        return probe, False
    counts_df.persist()
    try:
        return _topk_count_rows(counts_df, partition_cols, _ccol(comp.name),
                                CATEGORIC_TOP_K), True
    finally:
        counts_df.unpersist()


def _catalyst_records(df: DataFrame, components: list[Component],
                      partition_cols: list[str],
                      aggs: dict[str, F.Column],
                      sketch_forced: set[str] = frozenset()
                      ) -> tuple[list[dict], dict[str, dict]]:
    """The pass's independent Spark actions, submitted together (up to
    ``CONCURRENT_ACTIONS`` at a time) and assembled into records on the
    driver once all of them have finished:

    * the main agg computes every numeric/tokens summary, every
      categoric component's (n, n_invalid) totals and every named
      aggregate of ``aggs``;
    * one melt job computes the exact-histogram quantiles of the
      integral components (``_hist_probe``);
    * one low-cardinality groupBy per categoric component computes its
      value counts (``_freq_probe``).

    The main agg leaves the sketch out for every histogram candidate,
    so it does not wait for the histogram guard.  A candidate whose
    guard overflows (the rare unbounded-integer case) gets its sketch
    from one follow-up grouped agg over just those components — a
    scalar-column scan, since guarded candidates never reference array
    columns.  Job count is driver-serial time at scale — keep it
    small."""
    numericish = [c for c in components if c.ctype in ("numeric", "tokens")]
    categoric = [c for c in components if c.ctype == "categoric"]
    hist = _hist_specs(df, numericish, sketch_forced)
    forced = {c.name for c in numericish
              if c.name in hist and c.quantile_strategy == "hist"}

    exprs = []
    for comp in numericish:
        make = tokens_agg_exprs if comp.ctype == "tokens" else numeric_agg_exprs
        exprs += make(comp.name, _ccol(comp.name), DEFAULT_ACCURACY,
                      include_quantiles=comp.name not in hist)
    for comp in categoric:
        exprs += categoric_agg_exprs(comp.name, _ccol(comp.name))
    exprs += [col.alias(agg_col(n)) for n, col in aggs.items()]

    def grouped_agg(cols: list[F.Column]) -> dict[str, dict]:
        grouped = with_label(df.groupBy(*partition_cols).agg(*cols),
                             partition_cols)
        return {r[LABEL]: r.asDict() for r in grouped.collect()}

    actions: dict = {}
    if exprs:
        actions["agg"] = lambda: grouped_agg(exprs)
    if hist:
        actions["hist"] = lambda: _hist_probe(df, hist, forced,
                                              partition_cols)
    for comp in categoric:
        actions[("freq", comp.name)] = (
            lambda comp=comp: _freq_probe(df, comp, partition_cols))
    results = run_concurrently(df.sparkSession, actions)
    totals: dict[str, dict] = results.get("agg", {})
    hists, kept = results.get("hist", ({}, set()))
    overflow = [n for n in hist if n not in kept]
    sketches = grouped_agg([numeric_quantile_expr(n, _ccol(n),
                                                  DEFAULT_ACCURACY)
                            for n in overflow]) if overflow else {}

    records: list[dict] = []
    extras: dict[str, dict] = {}
    for part, d in totals.items():
        extras[part] = {n: d[agg_col(n)] for n in aggs}
        for comp in numericish:
            rec = {"partition": part, "component": comp.name,
                   "ctype": comp.ctype, "freq": None}
            for k in _NUMERIC_KEYS:
                rec[k] = d.get(f"{comp.name}__{k}")
            if comp.name in overflow:
                rec["quantiles"] = sketches[part][f"{comp.name}__quantiles"]
            elif comp.name in hist:
                counts = hists.get(comp.name, {}).get(part, {})
                rec["hist"] = counts
                rec["quantiles"] = exact_quantiles_from_counts(
                    np.fromiter(counts.keys(), dtype=float,
                                count=len(counts)),
                    np.fromiter(counts.values(), dtype=np.int64,
                                count=len(counts))) if counts else None
            records.append(rec)

    for comp in categoric:
        counts, use_topk = results[("freq", comp.name)]
        freq_by_part: dict[str, dict[str, int]] = {}
        for r in counts:
            val = r[_ccol(comp.name)]
            if val is not None:
                freq_by_part.setdefault(r[LABEL], {})[str(val)] = r["count"]
        for part, tot in totals.items():
            freq = freq_by_part.get(part, {})
            if use_topk:
                # remainder mass, from totals already in hand — no extra job
                other = (tot[f"{comp.name}__n"]
                         - tot[f"{comp.name}__n_invalid"]
                         - sum(freq.values()))
                if other > 0:
                    freq[OTHER_KEY] = other
            records.append({
                "partition": part, "component": comp.name,
                "ctype": "categoric",
                "n": tot[f"{comp.name}__n"],
                "n_invalid": tot[f"{comp.name}__n_invalid"],
                "freq": freq,
                **{k: None for k in _NUMERIC_KEYS[2:]},
            })
    return records, extras


# ---------------------------------------------------------------------------
# record assembly + merge
# ---------------------------------------------------------------------------

def _stats_from_record(rec: dict):
    n, n_inv = rec["n"], rec["n_invalid"]
    pinv = (n_inv / n) if n else None
    if rec["ctype"] == "categoric":
        counts = rec["freq"] or {}
        tot = sum(counts.values())
        freqs = {k: v / tot for k, v in counts.items()} if tot else {}
        return CategoricStats(frequencies=freqs, counts=counts, pinv=pinv, n=n)
    qs = rec.get("quantiles")
    hist = rec.get("hist")
    return NumericStats(
        min=rec["min"], max=rec["max"], mean=rec["mean"], std=rec["std"],
        pinv=pinv, quantiles=list(qs) if qs is not None else None, n=n,
        elem_min=rec.get("elem_min"), elem_max=rec.get("elem_max"),
        hist={_hist_key(k): int(v) for k, v in hist.items()}
        if hist else None)


def _hist_key(v) -> str:
    """Canonical JSON key for a histogram value: '230', not '230.0' —
    keeps directly-built and merged profiles byte-identical in JCR."""
    f = float(v)
    return str(int(f)) if f.is_integer() else repr(f)


def _merge_records(recs: list[dict]) -> dict:
    """Merge per-partition records for one component into a global record."""
    first = recs[0]
    if first["ctype"] == "categoric":
        counts: dict[str, int] = {}
        for r in recs:
            for k, v in (r["freq"] or {}).items():
                counts[k] = counts.get(k, 0) + v
        return {**first,
                "n": sum(r["n"] for r in recs),
                "n_invalid": sum(r["n_invalid"] for r in recs),
                "freq": counts}
    merged = merge_numeric_partials(recs)
    merged["hist"] = None  # never inherit a single shard's hist via **first
    if all(r.get("hist") is not None for r in recs):
        # exact global quantiles from the summed value histogram —
        # supersedes the mixture-ECDF approximation for hist components
        total: dict[float, int] = {}
        for r in recs:
            for v, c in r["hist"].items():
                v = float(v)  # str keys after a JCR round-trip
                total[v] = total.get(v, 0) + int(c)
        if total:
            merged["hist"] = total
            merged["quantiles"] = exact_quantiles_from_counts(
                np.fromiter(total.keys(), dtype=float, count=len(total)),
                np.fromiter(total.values(), dtype=np.int64,
                            count=len(total)))
    elem_mins = [r.get("elem_min") for r in recs if r.get("elem_min") is not None]
    elem_maxs = [r.get("elem_max") for r in recs if r.get("elem_max") is not None]
    return {**first, **merged,
            "elem_min": min(elem_mins) if elem_mins else None,
            "elem_max": max(elem_maxs) if elem_maxs else None}


def _record_from_stats(name: str, comp: Component) -> dict:
    """Invert ``_stats_from_record``: turn a built Component back into
    the partial-record shape ``_merge_records`` consumes."""
    s = comp.stats
    n = int(s.n or 0)
    # pinv is stored as n_invalid/n; multiplying back and rounding
    # recovers the exact integer for any n < 2^52
    n_inv = int(round((s.pinv or 0.0) * n)) if n else 0
    if isinstance(s, CategoricStats):
        return {"component": name, "ctype": "categoric", "n": n,
                "n_invalid": n_inv, "freq": dict(s.counts or {})}
    return {"component": name, "ctype": "numeric", "n": n,
            "n_invalid": n_inv, "min": s.min, "max": s.max,
            "mean": s.mean, "std": s.std, "quantiles": s.quantiles,
            "hist": {float(k): int(v) for k, v in s.hist.items()}
            if s.hist else None,
            "elem_min": s.elem_min, "elem_max": s.elem_max}


def merge_profiles(profiles: list[Profile], name: str = "merged") -> Profile:
    """Merge independently-built Profiles into one, WITHOUT rescanning
    data — the distributed-profiling primitive: profile each shard /
    ingestion batch / day where it lands, merge the small artifacts.

    Exactness: n / n_invalid / min / max / elem bounds / categoric
    counts are exact; mean/std merge via the pairwise (Chan) update
    (exact in real arithmetic, ~1 ulp in float); quantiles are EXACT
    for components that retained their value histogram
    (``NumericStats.hist`` — integral domains like n_tok), else the
    n-weighted mixture-ECDF approximation.  Categoric maps containing
    ``OTHER_KEY`` (top-k-truncated shards) merge by summing what each
    shard kept — per-value counts can undercount, so the result keeps
    ``OTHER_KEY`` and downstream ``in_domain`` defaulting still rejects
    it.  Same-label partition profiles merge recursively; disjoint
    labels union.

    Scale note: this is a driver-side fold over profile artifacts
    (KBs each) — merging a year of daily profiles of a 100 TB table
    touches no data.
    """
    built = [p for p in profiles if p.components]
    if not built:
        raise ValueError("merge_profiles: no built profiles given")
    for p in built:
        p.require_built()
    names = [list(p.components) for p in built]
    if any(set(ns) != set(names[0]) for ns in names[1:]):
        raise ValueError(
            f"merge_profiles: component sets differ: {names}")

    out = Profile(name=name)
    for cname in names[0]:
        comps = [p.components[cname] for p in built]
        ctypes = {c.ctype for c in comps}
        if len(ctypes) > 1:
            raise ValueError(
                f"merge_profiles: component {cname!r} has mixed ctypes "
                f"{sorted(ctypes)}")
        recs = [_record_from_stats(cname, c) for c in comps]
        merged = recs[0] if len(recs) == 1 else _merge_records(recs)
        out.components[cname] = Component(
            name=cname, ctype=comps[0].ctype,
            extractor=comps[0].extractor,
            stats=_stats_from_record(merged))

    by_label: dict[str, dict[str, list[Component]]] = {}
    for p in built:
        for label, comp_map in p.partitions.items():
            for cname, comp in comp_map.items():
                by_label.setdefault(label, {}).setdefault(
                    cname, []).append(comp)
    for label, comp_lists in by_label.items():
        for cname, comps in comp_lists.items():
            recs = [_record_from_stats(cname, c) for c in comps]
            merged = recs[0] if len(recs) == 1 else _merge_records(recs)
            out.partitions.setdefault(label, {})[cname] = Component(
                name=cname, ctype=comps[0].ctype,
                extractor=comps[0].extractor,
                stats=_stats_from_record(merged))
    return out


def build_profile(df: DataFrame, components: list[Component],
                  partition_cols: list[str] | None = None,
                  name: str = "profile") -> Profile:
    """Compute a built Profile (global + per-partition) in one stats pass.

    Integral-typed components (bounded domains — n_tok, tokens length)
    get exact value-histogram quantiles and everything else the GK
    sketch; ``Component.quantile_strategy="sketch"`` pins one component
    to the sketch (unbounded/high-cardinality integer domains, where a
    per-value histogram would not be small).
    """
    profile, _ = build_profile_and_counts(df, components, partition_cols,
                                          name=name)
    return profile


def build_profile_and_counts(df: DataFrame, components: list[Component],
                             partition_cols: list[str] | None = None,
                             aggs: dict[str, F.Column] | None = None,
                             name: str = "profile"
                             ) -> tuple[Profile, dict[str, dict]]:
    """The spec's literal "single per-partition vectorized pass"
    (BASELINE.json:6): one grouped aggregation computes every
    component's stats AND every named per-partition aggregate of
    ``aggs`` (name → aggregate column over ``df``'s columns: a row-level
    constraint's violation count, a metric constraint's measurement).
    Returns (profile, values[partition][name]), every partition keyed by
    ``constraints.partition_label_col``.  Sharing the scan halves the
    number of tokens-column decodes per validation run (the dominant
    cost — see BENCH/BASELINE.md).
    """
    partition_cols = partition_cols or []
    records, extras = _catalyst_records(
        _project(df, components), components, partition_cols, aggs or {},
        sketch_forced=_array_referencing(components, df))

    profile = Profile(name=name)
    by_comp: dict[str, list[dict]] = {}
    for rec in records:
        by_comp.setdefault(rec["component"], []).append(rec)
        if partition_cols:
            comp = Component(name=rec["component"],
                             ctype="numeric" if rec["ctype"] == "tokens"
                             else rec["ctype"],
                             stats=_stats_from_record(rec))
            profile.partitions.setdefault(rec["partition"], {})[comp.name] = comp

    for comp_def in components:
        recs = by_comp.get(comp_def.name, [])
        if not recs:
            continue
        merged = recs[0] if len(recs) == 1 else _merge_records(recs)
        profile.components[comp_def.name] = Component(
            name=comp_def.name, ctype=comp_def.ctype,
            extractor=comp_def.extractor, stats=_stats_from_record(merged))
    return profile, extras

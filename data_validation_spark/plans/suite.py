"""Profile / Component / Stats / Suite data model.

Rebuilds the reference's Schema/Component/Stats abstractions (rdv —
SURVEY.md §1.1, reference checkout empty at survey time, spec per
BASELINE.json:6) as plain dataclasses with a JSON round-trip mirroring
rdv's ``to_jcr`` / ``from_jcr`` (SURVEY.md O9/E4).

The *built* state lives in ``NumericStats`` / ``CategoricStats``; the
declarative state (what to monitor, which constraints to enforce) lives
in ``Component`` / ``Constraint`` / ``ValidationSuite``.  Stats are
computed distributed (operators/profile.py) — these classes never touch
a row of data themselves.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

#: number of points in the quantile vector: p0, p1, ..., p100
N_QUANTILES = 101
QUANTILE_PROBS = [i / 100.0 for i in range(N_QUANTILES)]

#: pseudo-category holding the remainder mass when a high-cardinality
#: categoric component is profiled as top-k + other (operators/profile.py)
OTHER_KEY = "__other__"

#: stats a `stat_bounds` metric assertion may reference (they are exactly
#: the profile's scalar stats, measured under the profile's value rules
#: by an aggregate that rides run_validation's fused pass) and the
#: distinctness metrics
#: (defined here, not in operators/constraints.py, to keep the import
#: direction suite → constraints acyclic)
STAT_BOUNDS_STATS = ("min", "max", "mean", "std", "pinv", "n")
DISTINCTNESS_METRICS = ("distinct_ratio", "unique_ratio")


class NotBuiltError(RuntimeError):
    """Raised when validating/contrasting with an unbuilt profile
    (mirrors rdv's unbuilt-schema error, SURVEY.md §1.1)."""


@dataclass
class NumericStats:
    """Distribution summary of one numeric component.

    Mirrors rdv NumericStats: min/max/mean/std, ``pinv`` (fraction of
    invalid = NULL/NaN values) and a 101-point percentile vector
    (p0..p100) which doubles as the inverse ECDF for KS drift.
    """

    min: float | None = None
    max: float | None = None
    mean: float | None = None
    std: float | None = None
    pinv: float | None = None
    quantiles: list[float] | None = None  # length N_QUANTILES
    n: int | None = None  # total rows seen (incl. invalid)
    # tokens-array components only: element-value range (vocab bounds)
    elem_min: int | None = None
    elem_max: int | None = None
    # exact value histogram (str(value) -> count), kept for integral
    # components so profiles stay EXACTLY mergeable: merge_profiles sums
    # shard histograms and recomputes exact quantiles instead of the
    # mixture-ECDF approximation.  None for sketch-quantile components.
    hist: dict[str, int] | None = None

    _FIELDS = ("min", "max", "mean", "std", "pinv", "quantiles", "n",
               "elem_min", "elem_max", "hist")

    def is_built(self) -> bool:
        return self.n is not None

    def to_jcr(self) -> dict[str, Any]:
        return {"type": "numeric",
                **{k: getattr(self, k) for k in self._FIELDS}}

    @classmethod
    def from_jcr(cls, d: dict[str, Any]) -> NumericStats:
        return cls(**{k: d.get(k) for k in cls._FIELDS})


@dataclass
class CategoricStats:
    """Distribution summary of one categoric component.

    Mirrors rdv CategoricStats: value → relative frequency map plus
    ``pinv``.  ``counts`` keeps the raw counts so chi-squared drift can
    use observed counts, not just frequencies.
    """

    frequencies: dict[str, float] | None = None
    counts: dict[str, int] | None = None
    pinv: float | None = None
    n: int | None = None

    def is_built(self) -> bool:
        return self.n is not None

    @property
    def domain(self) -> list[str]:
        # OTHER_KEY is remainder mass from a top-k profile, not a value
        return sorted(k for k in (self.frequencies or {}) if k != OTHER_KEY)

    def to_jcr(self) -> dict[str, Any]:
        return {"type": "categoric", "frequencies": self.frequencies,
                "counts": self.counts, "pinv": self.pinv, "n": self.n}

    @classmethod
    def from_jcr(cls, d: dict[str, Any]) -> CategoricStats:
        return cls(frequencies=d.get("frequencies"), counts=d.get("counts"),
                   pinv=d.get("pinv"), n=d.get("n"))


def _stats_from_jcr(d: dict[str, Any] | None):
    if d is None:
        return None
    return (NumericStats if d.get("type") == "numeric" else CategoricStats).from_jcr(d)


@dataclass
class Component:
    """One monitored feature: name + extractor expression + domain type.

    The reference's Extractor ABC collapses to a Spark SQL expression
    (``extractor``): rdv's ``ElementExtractor(element=c)`` ≡ ``c``; any
    derived feature (e.g. token count) is a SQL expression string like
    ``"size(tokens)"``.  This keeps extraction on the JVM/Catalyst path
    instead of per-row Python (BASELINE.json:15: no per-row Python).
    """

    name: str
    ctype: str  # "numeric" | "categoric"
    extractor: str | None = None  # SQL expression; defaults to the name
    stats: NumericStats | CategoricStats | None = None
    # per-component strategy overrides (None = engine decides with a
    # cardinality guard — operators/profile.py):
    #   quantile_strategy: "hist" (exact value histogram) | "sketch"
    #   freq_strategy:     "exact" (full value counts)    | "topk"
    # Production suites over known-high-cardinality columns should pin
    # these so the engine never has to probe.
    quantile_strategy: str | None = None
    freq_strategy: str | None = None

    @property
    def expr(self) -> str:
        return self.extractor or self.name

    def is_built(self) -> bool:
        return self.stats is not None and self.stats.is_built()

    def to_jcr(self) -> dict[str, Any]:
        return {"name": self.name, "ctype": self.ctype,
                "extractor": self.extractor,
                "stats": self.stats.to_jcr() if self.stats else None,
                "quantile_strategy": self.quantile_strategy,
                "freq_strategy": self.freq_strategy}

    @classmethod
    def from_jcr(cls, d: dict[str, Any]) -> Component:
        return cls(name=d["name"], ctype=d["ctype"],
                   extractor=d.get("extractor"),
                   stats=_stats_from_jcr(d.get("stats")),
                   quantile_strategy=d.get("quantile_strategy"),
                   freq_strategy=d.get("freq_strategy"))


@dataclass
class Constraint:
    """One declarative check.  ``kind`` selects the evaluation strategy
    in operators/constraints.py; ``params`` are kind-specific.

    Kinds (SURVEY.md §2.2):
      bounds        {component, min?, max?}          — rdv out-of-bounds tag
      in_domain     {component, values? }            — rdv not-in-domain tag
                    (values defaults to the reference profile's domain)
      not_null      {component}                      — rdv invalid tag
      expression    {sql}  row passes iff sql is true — generic predicate
      unique        {keys: [col,...]}                — salted distinct (S8)
      referential   {column, dimension: [values] | table} — J1 anti-join
      drift         {component, tests: [chi2|ks|psi], threshold(s)} — D1-D3
      pattern       {component|expr, pattern}        — rlike regex (row)
      stat_bounds   {component, stat, min?, max?}    — metric assertion
                    over a profile stat (one more fused-pass aggregate)
      row_count     {min?, max?}                     — per-partition size
      freshness     {component|expr, max_age_seconds, as_of} — max(ts)
                    recency; as_of explicit for deterministic replays
      distinctness  {columns, metric: distinct_ratio|unique_ratio,
                     min?, max?}                     — deequ distinctness
      ordering      {key, arrival, component|expr (event time),
                     max_late_ratio? , max_lateness_seconds?}
                    — per-partition out-of-order arrival assertion
                    (the declarative event_order_report: per-key
                    cumulative event-time max over arrival order)
    Metric kinds (stat_bounds/row_count/freshness/distinctness/
    ordering) are verdict-only: no violation rows, a breach = one
    failed verdict.

    Every kind except ``drift`` also accepts ``where`` (deequ's
    analyzer scope option): a boolean SQL expression restricting the
    check to rows where it is TRUE (NULL/false = out of scope, never
    judged).  Row-level scopes conjoin inside the fused pass; scoped
    metric stats ride the same pass via conditional aggregation;
    set-level scopes filter before the operator so the predicate
    pushes down to the scan — a scope never adds a pass.
    """

    name: str
    kind: str
    params: dict[str, Any] = field(default_factory=dict)

    def to_jcr(self) -> dict[str, Any]:
        return {"name": self.name, "kind": self.kind, "params": self.params}

    @classmethod
    def from_jcr(cls, d: dict[str, Any]) -> Constraint:
        return cls(name=d["name"], kind=d["kind"], params=d.get("params", {}))


@dataclass
class Profile:
    """A built set of component stats — rdv's built Schema.

    ``partitions`` optionally holds per-partition profiles keyed by the
    partition string (e.g. ``"source=web/bucket=3"``) so per-partition
    verdicts and drill-down drift are first-class.
    """

    name: str = "profile"
    version: str = "0.1.0"
    components: dict[str, Component] = field(default_factory=dict)
    partitions: dict[str, dict[str, Component]] = field(default_factory=dict)

    def is_built(self) -> bool:
        return bool(self.components) and all(
            c.is_built() for c in self.components.values())

    def require_built(self) -> None:
        if not self.is_built():
            raise NotBuiltError(
                f"profile '{self.name}' is not built; call build_profile first")

    # -- JSON round-trip (rdv to_jcr/from_jcr, save/load: SURVEY.md E4) --
    def to_jcr(self) -> dict[str, Any]:
        return {
            "name": self.name,
            "version": self.version,
            "components": {k: c.to_jcr() for k, c in self.components.items()},
            "partitions": {p: {k: c.to_jcr() for k, c in comps.items()}
                           for p, comps in self.partitions.items()},
        }

    @classmethod
    def from_jcr(cls, d: dict[str, Any]) -> Profile:
        return cls(
            name=d.get("name", "profile"),
            version=d.get("version", "0.1.0"),
            components={k: Component.from_jcr(c)
                        for k, c in d.get("components", {}).items()},
            partitions={p: {k: Component.from_jcr(c) for k, c in comps.items()}
                        for p, comps in d.get("partitions", {}).items()},
        )

    def to_json(self) -> str:
        return json.dumps(self.to_jcr(), sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> Profile:
        return cls.from_jcr(json.loads(s))

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            f.write(self.to_json())

    @classmethod
    def load(cls, path: str) -> Profile:
        with open(path) as f:
            return cls.from_json(f.read())


@dataclass
class ValidationSuite:
    """Components + constraints + (optional) frozen reference profile.

    The declarative input to a validation run (SURVEY.md §3.2).
    """

    name: str = "suite"
    components: list[Component] = field(default_factory=list)
    constraints: list[Constraint] = field(default_factory=list)
    reference: Profile | None = None
    partition_cols: list[str] = field(default_factory=list)

    def resolved_constraints(self) -> list[Constraint]:
        """Constraints with documented defaults filled in.

        ``in_domain`` without ``values`` defaults to the reference
        profile's categoric domain for that component (the docstring
        contract above); with no usable reference domain it raises a
        clear error instead of a KeyError deep in the evaluator.
        """
        out: list[Constraint] = []
        for c in self.constraints:
            if c.kind == "in_domain" and "values" not in c.params:
                comp = c.params.get("component")
                stats = None
                if self.reference is not None and comp in self.reference.components:
                    stats = self.reference.components[comp].stats
                domain = stats.domain if isinstance(stats, CategoricStats) else None
                if not domain:
                    raise ValueError(
                        f"in_domain constraint {c.name!r}: no 'values' given "
                        f"and the suite's reference profile has no built "
                        f"categoric domain for component {comp!r}")
                if OTHER_KEY in (stats.frequencies or {}):
                    # The profile was built past the exact-cardinality
                    # guard, so `frequencies` holds only the top-k values
                    # plus __other__ remainder mass — defaulting to that
                    # TRUNCATED domain would flag every legitimate tail
                    # value as a violation.
                    raise ValueError(
                        f"in_domain constraint {c.name!r}: the reference "
                        f"domain for component {comp!r} is top-k truncated "
                        f"({OTHER_KEY} mass present) — pass explicit "
                        f"'values', or build the reference profile with "
                        f"freq_strategy='exact'")
                c = Constraint(name=c.name, kind=c.kind,
                               params={**c.params, "values": list(domain)})
            if (c.kind in ("pattern", "stat_bounds", "freshness")
                    and "expr" not in c.params and "component" in c.params):
                # a metric/pattern constraint over a DERIVED component
                # (one with an extractor) must evaluate the extractor,
                # not the component name — same params.expr convention
                # suggest_suite uses
                comp = next((cc for cc in self.components
                             if cc.name == c.params["component"]
                             and cc.extractor), None)
                if comp is not None:
                    c = Constraint(name=c.name, kind=c.kind,
                                   params={**c.params, "expr": comp.expr})
            out.append(c)
        return out

    def schema_errors(self, df) -> list[str]:
        """rdv's schema-model check: does ``df`` actually carry what
        this suite references?  Analysis-only (Catalyst resolution — no
        job runs): missing partition columns, extractors that don't
        resolve, component type-category mismatches (numeric component
        over a string column, tokens over a scalar), and constraint
        references to absent columns all come back as plain-English
        strings.  Empty list = the suite can run.  ``run_validation``
        calls this up front so a bad suite fails in milliseconds with
        every problem listed, not minutes into a 100 TB scan with one
        AnalysisException."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import ArrayType, NumericType

        errs: list[str] = []
        cols = set(df.columns)
        for c in self.partition_cols:
            if c not in cols:
                errs.append(f"partition column {c!r} is not in the input "
                            f"(columns: {sorted(cols)})")

        def resolve(expr: str, what: str):
            try:
                return df.select(F.expr(expr).alias("__x")).schema[0].dataType
            except Exception as e:  # AnalysisException and friends
                msg = str(e).splitlines()[0]
                errs.append(f"{what}: expression {expr!r} does not "
                            f"resolve: {msg}")
                return None

        for comp in self.components:
            dtype = resolve(comp.expr, f"component {comp.name!r}")
            if dtype is None:
                continue
            if comp.ctype == "numeric" and not isinstance(dtype, NumericType):
                errs.append(f"component {comp.name!r} is numeric but "
                            f"{comp.expr!r} resolves to {dtype.simpleString()}")
            elif comp.ctype == "tokens" and not isinstance(dtype, ArrayType):
                errs.append(f"component {comp.name!r} is tokens but "
                            f"{comp.expr!r} resolves to {dtype.simpleString()}")

        for con in self.constraints:
            p = con.params
            what = f"constraint {con.name!r}"
            if "where" in p:
                # deequ-style scope filter: must resolve to boolean on
                # this input; drift is profile-level (no row scope)
                if con.kind == "drift":
                    errs.append(f"{what}: 'where' is not supported on "
                                "drift constraints (profile-level)")
                else:
                    dtype = resolve(p["where"], f"{what} scope")
                    if dtype is not None \
                            and dtype.simpleString() != "boolean":
                        errs.append(
                            f"{what}: 'where' scope {p['where']!r} is "
                            f"{dtype.simpleString()}, not boolean")
            if con.kind in ("bounds", "in_domain", "not_null"):
                expr = p.get("expr", p.get("component"))
                if expr is None:
                    errs.append(f"{what}: needs 'component' or 'expr'")
                else:
                    resolve(expr, what)
            elif con.kind == "expression":
                if "sql" not in p:
                    errs.append(f"{what}: needs 'sql'")
                else:
                    dtype = resolve(p["sql"], what)
                    if dtype is not None and dtype.simpleString() != "boolean":
                        errs.append(f"{what}: predicate {p['sql']!r} is "
                                    f"{dtype.simpleString()}, not boolean")
            elif con.kind == "unique":
                for k in p.get("keys", []):
                    if k not in cols:
                        errs.append(f"{what}: key column {k!r} missing")
            elif con.kind == "fd":
                for k in p.get("determinant", []):
                    if k not in cols:
                        errs.append(f"{what}: determinant column {k!r} "
                                    "missing")
                if not p.get("determinant"):
                    errs.append(f"{what}: needs 'determinant'")
                if p.get("dependent") not in cols:
                    errs.append(f"{what}: dependent column "
                                f"{p.get('dependent')!r} missing")
            elif con.kind == "completeness":
                if "min_ratio" not in p:
                    errs.append(f"{what}: needs 'min_ratio'")
                expr = p.get("expr", p.get("component"))
                if expr is None:
                    errs.append(f"{what}: needs 'component' or 'expr'")
                else:
                    resolve(expr, what)
            elif con.kind == "referential":
                if p.get("column") not in cols:
                    errs.append(f"{what}: column {p.get('column')!r} missing")
            elif con.kind == "join_rule":
                for need in ("dim", "on", "sql"):
                    if need not in p:
                        errs.append(f"{what}: needs {need!r}")
                for k in p.get("on", []):
                    if k not in cols:
                        errs.append(f"{what}: join column {k!r} missing")
            elif con.kind == "pattern":
                if not p.get("pattern"):
                    errs.append(f"{what}: needs 'pattern'")
                expr = p.get("expr", p.get("component"))
                if expr is None:
                    errs.append(f"{what}: needs 'component' or 'expr'")
                else:
                    resolve(expr, what)
            elif con.kind == "stat_bounds":
                comp_by_name = {c.name: c for c in self.components}
                comp = comp_by_name.get(p.get("component"))
                if comp is None:
                    errs.append(
                        f"{what}: 'component' must name a suite component "
                        f"(got {p.get('component')!r}; declared: "
                        f"{sorted(comp_by_name)})")
                stat = p.get("stat")
                if stat not in STAT_BOUNDS_STATS:
                    errs.append(f"{what}: 'stat' must be one of "
                                f"{STAT_BOUNDS_STATS} (got {stat!r})")
                elif (comp is not None and comp.ctype != "numeric"
                        and stat in ("min", "max", "mean", "std")):
                    errs.append(f"{what}: stat {stat!r} needs a numeric "
                                f"component ({p['component']!r} is "
                                f"{comp.ctype})")
                if p.get("min") is None and p.get("max") is None:
                    errs.append(f"{what}: needs 'min' or 'max'")
            elif con.kind == "row_count":
                if p.get("min") is None and p.get("max") is None:
                    errs.append(f"{what}: needs 'min' or 'max'")
            elif con.kind == "freshness":
                for need in ("max_age_seconds", "as_of"):
                    if need not in p:
                        errs.append(f"{what}: needs {need!r}")
                if "as_of" in p:
                    try:
                        from data_validation_spark.operators.constraints \
                            import as_of_micros
                        as_of_micros(p)
                    except Exception as e:
                        errs.append(f"{what}: 'as_of' not an ISO-8601 "
                                    f"string or epoch seconds: {e}")
                expr = p.get("expr", p.get("component"))
                if expr is None:
                    errs.append(f"{what}: needs 'component' or 'expr'")
                else:
                    resolve(f"CAST(({expr}) AS TIMESTAMP)", what)
            elif con.kind == "ordering":
                for need in ("key", "arrival"):
                    if p.get(need) not in cols:
                        errs.append(f"{what}: {need} column "
                                    f"{p.get(need)!r} missing")
                expr = (p["expr"] if "expr" in p
                        else p.get("component"))
                if expr is None:
                    errs.append(f"{what}: needs 'component' or 'expr'")
                else:
                    resolve(f"CAST(({expr}) AS TIMESTAMP)", what)
                if p.get("max_late_ratio") is None \
                        and p.get("max_lateness_seconds") is None:
                    errs.append(f"{what}: needs 'max_late_ratio' or "
                                "'max_lateness_seconds'")
            elif con.kind == "distinctness":
                if not p.get("columns"):
                    errs.append(f"{what}: needs 'columns'")
                for k in p.get("columns", []):
                    if k not in cols:
                        errs.append(f"{what}: column {k!r} missing")
                metric = p.get("metric", "distinct_ratio")
                if metric not in DISTINCTNESS_METRICS:
                    errs.append(f"{what}: 'metric' must be one of "
                                f"{DISTINCTNESS_METRICS} (got {metric!r})")
                if p.get("min") is None and p.get("max") is None:
                    errs.append(f"{what}: needs 'min' or 'max'")
            elif con.kind not in ("drift",):
                errs.append(f"{what}: unknown constraint kind "
                            f"{con.kind!r}")
        return errs

    def to_jcr(self) -> dict[str, Any]:
        return {
            "name": self.name,
            "components": [c.to_jcr() for c in self.components],
            "constraints": [c.to_jcr() for c in self.constraints],
            "reference": self.reference.to_jcr() if self.reference else None,
            "partition_cols": self.partition_cols,
        }

    @classmethod
    def from_jcr(cls, d: dict[str, Any]) -> ValidationSuite:
        return cls(
            name=d.get("name", "suite"),
            components=[Component.from_jcr(c) for c in d.get("components", [])],
            constraints=[Constraint.from_jcr(c) for c in d.get("constraints", [])],
            reference=Profile.from_jcr(d["reference"]) if d.get("reference") else None,
            partition_cols=d.get("partition_cols", []),
        )

    def to_json(self) -> str:
        return json.dumps(self.to_jcr(), sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> ValidationSuite:
        return cls.from_jcr(json.loads(s))

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            f.write(self.to_json())

    @classmethod
    def load(cls, path: str) -> ValidationSuite:
        with open(path) as f:
            return cls.from_json(f.read())


def suggest_suite(profile: Profile, name: str = "suggested",
                  partition_cols: list[str] | None = None,
                  bounds_margin: float = 0.0,
                  max_domain: int = 1000,
                  row_count_margin: float | None = None,
                  mean_margin: float | None = None) -> ValidationSuite:
    """Constraint suggestion (deequ ConstraintSuggestion / rdv
    build-then-validate): derive a ``ValidationSuite`` from a BUILT
    reference profile, so "yesterday's data defines today's contract"
    needs no hand-written rules.

    Suggested per component, strictly from evidence in the profile:

    * numeric → ``bounds`` [min, max], optionally widened by
      ``bounds_margin`` × range on each side (0 = exact observed
      envelope; a few percent absorbs benign drift);
    * numeric/tokens/categoric with ``pinv == 0`` → ``not_null``
      (never suggested when the reference itself contained NULLs);
    * tokens with element bounds → the vocab-range ``expression``;
    * categoric → ``in_domain`` over the observed domain — SKIPPED
      (never guessed) when the profile was built top-k-truncated
      (``__other__`` present) or the domain exceeds ``max_domain``:
      an incomplete domain would flag legitimate tail values, the
      exact failure mode resolved_constraints refuses (suite.py
      in_domain guard).

    Metric-kind suggestions (opt-in — each needs an explicit margin, a
    silent default would encode a tolerance the user never chose):

    * ``row_count_margin=m`` → a ``row_count`` assertion with
      ``min = floor((1−m) × n_floor)`` where ``n_floor`` is the
      SMALLEST per-partition row count the profile observed (global n
      when unpartitioned) — the "feed went quiet" tripwire sized so
      every already-observed partition passes;
    * ``mean_margin=m`` → per numeric component a ``stat_bounds`` on
      the mean, widened by ``m × (max − min)`` each side — level-shift
      detection cheaper than full drift (one more aggregate of the
      fused pass, zero extra scans).

    Pure driver logic over the profile dict — no jobs.  The result is
    an ordinary suite: serialize it, review it, run it.
    """
    profile.require_built()
    comps, cons = [], []
    if row_count_margin is not None:
        per_part = []
        for comps_by_name in profile.partitions.values():
            ns = [c.stats.n for c in comps_by_name.values()
                  if c.stats is not None and c.stats.n is not None]
            if ns:
                per_part.append(max(ns))
        n_floor = min(per_part) if per_part else next(
            (c.stats.n for c in profile.components.values()
             if c.stats is not None and c.stats.n is not None), None)
        if n_floor is not None:
            cons.append(Constraint(
                "row_count_min", "row_count",
                {"min": int((1.0 - float(row_count_margin)) * n_floor)}))
    for comp_name, comp in profile.components.items():
        comps.append(Component(comp_name, comp.ctype,
                                extractor=comp.extractor))
        s = comp.stats
        if s is None:
            continue
        # derived components (extractor != name) must carry the
        # expression in params — the evaluator and the schema pre-flight
        # resolve p["expr"] first, then fall back to the component name
        extra = ({"expr": comp.extractor} if comp.extractor else {})
        if getattr(s, "pinv", None) == 0.0:
            cons.append(Constraint(f"{comp_name}_not_null", "not_null",
                                   {"component": comp_name, **extra}))
        if isinstance(s, NumericStats):
            if s.min is not None and s.max is not None \
                    and comp.ctype != "tokens":
                lo, hi = float(s.min), float(s.max)
                pad = (hi - lo) * float(bounds_margin)
                cons.append(Constraint(
                    f"{comp_name}_bounds", "bounds",
                    {"component": comp_name, "min": lo - pad,
                     "max": hi + pad, **extra}))
                if mean_margin is not None and s.mean is not None:
                    mpad = (hi - lo) * float(mean_margin)
                    cons.append(Constraint(
                        f"{comp_name}_mean", "stat_bounds",
                        {"component": comp_name, "stat": "mean",
                         "min": float(s.mean) - mpad,
                         "max": float(s.mean) + mpad}))
            if comp.ctype == "tokens" and s.elem_min is not None \
                    and s.elem_max is not None:
                cons.append(Constraint(
                    f"{comp_name}_vocab_bounds", "expression",
                    {"sql": f"{comp_name} is null or "
                            f"(array_min({comp_name}) >= {int(s.elem_min)}"
                            f" and array_max({comp_name})"
                            f" <= {int(s.elem_max)})"}))
        if isinstance(s, CategoricStats) and s.frequencies is not None:
            if OTHER_KEY in s.frequencies:
                continue  # top-k-truncated: a guessed domain flags
                # legitimate tail values — never suggest one
            domain = sorted(k for k in s.frequencies if k != OTHER_KEY)
            if 0 < len(domain) <= int(max_domain):
                cons.append(Constraint(
                    f"{comp_name}_in_domain", "in_domain",
                    {"component": comp_name, "values": domain,
                     **extra}))
    return ValidationSuite(name=name, components=comps,
                           constraints=cons,
                           partition_cols=partition_cols or [])

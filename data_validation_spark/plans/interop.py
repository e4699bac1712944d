"""Suite interop — import expectation definitions from other DQ
ecosystems so a team can switch engines without retyping its checks.

``from_great_expectations`` maps the widely-published Great
Expectations suite JSON (the ``expectation_suite_name`` +
``expectations: [{expectation_type, kwargs}]`` shape, stable across
GE 0.13–0.18 and documented publicly) onto this engine's constraint
kinds.  Mapping is STRICT: an expectation type with no faithful
counterpart raises with the list of unmapped types — silently
dropping a check would let a migration pass validation it never ran
(the same fail-loud stance as run_validation's unsupported-kind
guard).  ``mostly`` < 1.0 is rejected for row-level kinds for the
same reason (this engine's row kinds are exact; a tolerated-failure
budget belongs in an explicit completeness/metric assertion).

Mapped types (kwargs → params):

* expect_column_values_to_not_be_null      → not_null (mostly<1 →
  completeness with min_ratio=mostly)
* expect_column_values_to_be_between       → bounds {min,max}
* expect_column_values_to_be_in_set        → in_domain {values}
* expect_column_values_to_match_regex      → pattern {pattern}
* expect_column_values_to_be_unique        → unique {keys:[column]}
* expect_compound_columns_to_be_unique     → unique {keys:[...]}
* expect_table_row_count_to_be_between     → row_count {min,max}
* expect_column_mean_to_be_between         → stat_bounds mean
* expect_column_min_to_be_between          → stat_bounds min
* expect_column_max_to_be_between          → stat_bounds max
* expect_column_stdev_to_be_between        → stat_bounds std
* expect_column_proportion_of_unique_values_to_be_between
                                           → distinctness unique_ratio
* expect_column_pair_values_A_to_be_greater_than_B
                                           → expression (or_equal)

GE ``row_condition`` (``condition_parser: "spark"``/"great_
expectations__experimental__") maps to this engine's ``where`` scope
verbatim when the parser is spark-SQL flavored — on EVERY mapped kind,
including pair expressions, so a NULL-evaluating scope always means
"row out of scope, never judged" (the engine-wide where semantics).

Kwargs are whitelisted per expectation type and unknown/unsupported
ones raise (the strict contract cuts both ways: a ``strict_min``
silently imported as inclusive is a check whose meaning changed
without a sound).  ``strict_min``/``strict_max`` on value-between map
faithfully to an exclusive-comparison expression (NULL-passing, like
GE); on stat/proportion types they raise (those compare inclusively —
widen by an explicit epsilon instead).  Pair expectations honor GE's
``ignore_row_if`` NULL policy exactly.
"""

from __future__ import annotations

import json
import math
from typing import Any

from data_validation_spark.plans.suite import (
    Component,
    Constraint,
    ValidationSuite,
)

_ROW_LEVEL = {"expect_column_values_to_not_be_null",
              "expect_column_values_to_be_between",
              "expect_column_values_to_be_in_set",
              "expect_column_values_to_match_regex"}

# Per-type semantic-kwarg whitelist.  The strict contract cuts both
# ways: unmapped TYPES raise, and so must unmapped KWARGS — a
# ``strict_min`` silently imported as inclusive, or a ``mostly`` on a
# type that can't honor it, is a check whose meaning changed without a
# sound (the exact failure mode the fail-loud stance exists to stop).
_COMMON_KW = {"column", "row_condition", "condition_parser", "mostly",
              # presentation-only GE kwargs: no effect on what is
              # checked, safe to accept anywhere
              "result_format", "catch_exceptions", "meta"}
_ALLOWED_KW: dict[str, set[str]] = {
    "expect_column_values_to_not_be_null": set(),
    "expect_column_values_to_be_between":
        {"min_value", "max_value", "strict_min", "strict_max"},
    "expect_column_values_to_be_in_set": {"value_set"},
    "expect_column_values_to_match_regex": {"regex"},
    "expect_column_values_to_be_unique": set(),
    "expect_compound_columns_to_be_unique": {"column_list"},
    "expect_table_row_count_to_be_between": {"min_value", "max_value"},
    "expect_column_mean_to_be_between": {"min_value", "max_value",
                                         "strict_min", "strict_max"},
    "expect_column_min_to_be_between": {"min_value", "max_value",
                                        "strict_min", "strict_max"},
    "expect_column_max_to_be_between": {"min_value", "max_value",
                                        "strict_min", "strict_max"},
    "expect_column_stdev_to_be_between": {"min_value", "max_value",
                                          "strict_min", "strict_max"},
    "expect_column_proportion_of_unique_values_to_be_between":
        {"min_value", "max_value", "strict_min", "strict_max"},
    "expect_column_pair_values_A_to_be_greater_than_B":
        {"column_A", "column_B", "or_equal", "ignore_row_if"},
}


def _sql_lit(v: Any) -> str:
    """Render a GE bound value as a Spark SQL literal (numbers as-is,
    strings quoted — dates arrive as ISO strings and compare correctly
    against date/timestamp columns via Spark's implicit cast)."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        if not math.isfinite(v):
            raise ValueError(
                f"GE bound {v!r} is not finite — Spark SQL has no "
                "literal for it; drop the bound (None) for an open side")
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


def _where(kw: dict) -> dict:
    cond = kw.get("row_condition")
    if not cond:
        return {}
    parser = kw.get("condition_parser", "spark")
    if parser not in ("spark", "great_expectations__experimental__"):
        raise ValueError(
            f"row_condition parser {parser!r} is not spark-SQL "
            "flavored; rewrite the condition as a Spark SQL boolean")
    return {"where": cond}


def from_great_expectations(suite_json: str | dict,
                            partition_cols: list[str] | None = None
                            ) -> ValidationSuite:
    """Build a ValidationSuite from a GE expectation-suite JSON
    document (string or parsed dict).  Constraint names are
    ``<expectation_type>_<column|index>`` — stable across re-imports
    so manifests and metric sinks line up run over run."""
    d: dict[str, Any] = (json.loads(suite_json)
                        if isinstance(suite_json, str) else suite_json)
    name = d.get("expectation_suite_name", "ge_suite")
    unmapped: list[str] = []
    constraints: list[Constraint] = []

    for i, exp in enumerate(d.get("expectations", [])):
        et = exp.get("expectation_type", "")
        kw = dict(exp.get("kwargs", {}))
        col = kw.get("column")
        cname = f"{et}_{col or i}"
        mostly = kw.get("mostly")

        if et in _ALLOWED_KW:
            unknown = set(kw) - _COMMON_KW - _ALLOWED_KW[et]
            if unknown:
                raise ValueError(
                    f"{et}: unsupported kwargs {sorted(unknown)} — a "
                    "silently dropped kwarg changes what the check "
                    "means; remove it or express it explicitly")
        if (mostly is not None and mostly < 1.0
                and et not in _ROW_LEVEL):
            raise ValueError(
                f"{et} with mostly={mostly}: tolerated-failure budgets "
                "only apply to row-level kinds; this type is "
                "set/table-level, where GE itself treats mostly as "
                "meaningless — remove it")
        if (kw.get("strict_min") or kw.get("strict_max")) and et in (
                "expect_column_mean_to_be_between",
                "expect_column_min_to_be_between",
                "expect_column_max_to_be_between",
                "expect_column_stdev_to_be_between",
                "expect_column_proportion_of_unique_values_to_be_between"):
            raise ValueError(
                f"{et} with strict_min/strict_max: stat_bounds/"
                "distinctness compare inclusively; widen the bound by "
                "an explicit epsilon instead of importing an exclusive "
                "bound as inclusive")

        if et in _ROW_LEVEL and mostly is not None and mostly < 1.0:
            if et == "expect_column_values_to_not_be_null":
                constraints.append(Constraint(
                    cname, "completeness",
                    {"component": col, "min_ratio": float(mostly),
                     **_where(kw)}))
                continue
            raise ValueError(
                f"{et} with mostly={mostly}: this engine's row-level "
                "kinds are exact; express the tolerance as an explicit "
                "completeness/metric assertion instead")

        if et == "expect_column_values_to_not_be_null":
            constraints.append(Constraint(
                cname, "not_null", {"component": col, **_where(kw)}))
        elif et == "expect_column_values_to_be_between":
            if kw.get("strict_min") or kw.get("strict_max"):
                # GE's exclusive bounds have no inclusive-`bounds`
                # equivalent — map faithfully as an expression that
                # keeps BOTH GE semantics: the exclusive comparison AND
                # NULL-passes (GE between never counts NULL unexpected;
                # the bare expression kind is fail-closed on NULL, so
                # the IS NULL arm restores bounds-kind NULL behavior)
                parts = []
                if kw.get("min_value") is not None:
                    op = ">" if kw.get("strict_min") else ">="
                    parts.append(f"(`{col}`) {op} "
                                 f"{_sql_lit(kw['min_value'])}")
                if kw.get("max_value") is not None:
                    op = "<" if kw.get("strict_max") else "<="
                    parts.append(f"(`{col}`) {op} "
                                 f"{_sql_lit(kw['max_value'])}")
                sql = (f"((`{col}`) IS NULL) OR ("
                       + " AND ".join(parts or ["TRUE"]) + ")")
                constraints.append(Constraint(
                    cname, "expression", {"sql": sql, **_where(kw)}))
            else:
                p: dict[str, Any] = {"component": col, **_where(kw)}
                if kw.get("min_value") is not None:
                    p["min"] = kw["min_value"]
                if kw.get("max_value") is not None:
                    p["max"] = kw["max_value"]
                constraints.append(Constraint(cname, "bounds", p))
        elif et == "expect_column_values_to_be_in_set":
            constraints.append(Constraint(
                cname, "in_domain",
                {"component": col, "values": list(kw["value_set"]),
                 **_where(kw)}))
        elif et == "expect_column_values_to_match_regex":
            constraints.append(Constraint(
                cname, "pattern",
                {"component": col, "pattern": kw["regex"], **_where(kw)}))
        elif et == "expect_column_values_to_be_unique":
            constraints.append(Constraint(
                cname, "unique", {"keys": [col], **_where(kw)}))
        elif et == "expect_compound_columns_to_be_unique":
            constraints.append(Constraint(
                cname, "unique",
                {"keys": list(kw["column_list"]), **_where(kw)}))
        elif et == "expect_table_row_count_to_be_between":
            p = {**_where(kw)}
            if kw.get("min_value") is not None:
                p["min"] = kw["min_value"]
            if kw.get("max_value") is not None:
                p["max"] = kw["max_value"]
            constraints.append(Constraint(cname, "row_count", p))
        elif et in ("expect_column_mean_to_be_between",
                    "expect_column_min_to_be_between",
                    "expect_column_max_to_be_between",
                    "expect_column_stdev_to_be_between"):
            stat = {"expect_column_mean_to_be_between": "mean",
                    "expect_column_min_to_be_between": "min",
                    "expect_column_max_to_be_between": "max",
                    "expect_column_stdev_to_be_between": "std"}[et]
            p = {"component": col, "stat": stat, **_where(kw)}
            if kw.get("min_value") is not None:
                p["min"] = kw["min_value"]
            if kw.get("max_value") is not None:
                p["max"] = kw["max_value"]
            constraints.append(Constraint(cname, "stat_bounds", p))
        elif et == ("expect_column_proportion_of_unique_values_"
                    "to_be_between"):
            p = {"columns": [col], "metric": "unique_ratio",
                 **_where(kw)}
            if kw.get("min_value") is not None:
                p["min"] = kw["min_value"]
            if kw.get("max_value") is not None:
                p["max"] = kw["max_value"]
            constraints.append(Constraint(cname, "distinctness", p))
        elif et == "expect_column_pair_values_A_to_be_greater_than_B":
            op = ">=" if kw.get("or_equal") else ">"
            a, b = kw["column_A"], kw["column_B"]
            sql = f"({a}) {op} ({b})"
            # GE's ignore_row_if NULL policy, mapped exactly: the bare
            # expression kind is fail-closed (NULL comparison =
            # violation), which IS GE's "neither"; the other two
            # policies whitelist their NULL shapes explicitly
            ign = kw.get("ignore_row_if", "both_values_are_missing")
            if ign == "both_values_are_missing":
                sql = f"(({a}) IS NULL AND ({b}) IS NULL) OR ({sql})"
            elif ign == "either_value_is_missing":
                sql = f"(({a}) IS NULL OR ({b}) IS NULL) OR ({sql})"
            elif ign != "neither":
                raise ValueError(
                    f"{et}: unknown ignore_row_if {ign!r}")
            # scope rides params["where"], NOT a baked "NOT (w) OR ..."
            # — a NULL-evaluating scope must mean "row out of scope,
            # never judged" (the engine-wide where semantics), not
            # "judged and fail-closed"
            constraints.append(Constraint(cname, "expression",
                                          {"sql": sql, **_where(kw)}))
        else:
            unmapped.append(et)

    if unmapped:
        raise ValueError(
            "unmapped Great Expectations types (a silently dropped "
            f"check is a check that never ran): {sorted(set(unmapped))}")
    # stat_bounds reads the fused profile, so every target column must
    # exist as a declared numeric component — auto-declare them (GE
    # suites carry no component model of their own)
    comps = []
    seen: set[str] = set()
    for c in constraints:
        if c.kind == "stat_bounds" and c.params["component"] not in seen:
            seen.add(c.params["component"])
            comps.append(Component(c.params["component"], "numeric"))
    return ValidationSuite(name=name, components=comps,
                           constraints=constraints,
                           partition_cols=list(partition_cols or []))

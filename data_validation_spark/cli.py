"""spark-submit entry point (north_rule: "run via spark-submit
--py-files on a multi-executor cluster").

Usage (cluster):
    spark-submit --py-files dist/data_validation_spark.zip \
        -- cli.py validate --input s3://.../sequences \
        --suite suite.json --sink s3://.../results --dim source=...:path

Usage (sandbox smoke):
    python -m data_validation_spark.cli validate --input /tmp/seq \
        --suite suite.json --sink /tmp/results

The driver JSON-prints the RunResult summary so orchestrators can gate
on ``passed`` without parsing logs.
"""

from __future__ import annotations

import argparse
import json
import sys


def _build_suite(path: str | None):
    from data_validation_spark.plans.suite import ValidationSuite
    if path:
        return ValidationSuite.load(path)
    # default suite for the input_hint sequences shape
    from data_validation_spark.plans.suite import Component, Constraint
    return ValidationSuite(
        name="sequences",
        components=[Component("n_tok", "numeric"),
                    Component("tokens_len", "numeric",
                              extractor="size(tokens)"),
                    Component("source", "categoric")],
        constraints=[
            Constraint("len_consistency", "expression",
                       {"sql": "tokens is null or size(tokens) = n_tok"}),
            Constraint("vocab_bounds", "expression",
                       {"sql": "tokens is null or (array_min(tokens) >= 0 "
                               "and array_max(tokens) < 50257)"}),
            Constraint("tokens_not_null", "not_null",
                       {"component": "tokens"}),
            Constraint("unique_doc_id", "unique", {"keys": ["doc_id"]}),
        ],
        partition_cols=["source", "bucket"])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="data-validation-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    v = sub.add_parser("validate", help="run a validation suite")
    v.add_argument("--input", required=True,
                   help="parquet path or (with --backend iceberg) table name")
    v.add_argument("--suite", help="suite JSON path (default: sequences suite)")
    v.add_argument("--sink", help="results root (metrics/violations/manifest)")
    v.add_argument("--backend", default="parquet",
                   choices=["parquet", "iceberg"])
    v.add_argument("--dim", action="append", default=[],
                   metavar="NAME=PATH",
                   help="referential dimension: name=parquet_path")
    v.add_argument("--no-resume", action="store_true")
    v.add_argument("--reference-profile",
                   help="frozen profile JSON for drift constraints")
    v.add_argument("--ge-suite",
                   help="import a Great Expectations expectation-suite "
                        "JSON as the validation suite (strict mapping; "
                        "unmapped expectation types fail loud)")
    v.add_argument("--report",
                   help="write a static markdown report (profile + "
                        "verdicts + drift) to this path")

    b = sub.add_parser("build-profile", help="build + save a profile")
    b.add_argument("--input", required=True)
    b.add_argument("--out", required=True, help="profile JSON output path")
    b.add_argument("--suite", help="suite JSON (components definition)")

    s = sub.add_parser(
        "suggest-suite",
        help="infer a validation suite from a profile JSON "
             "(deequ-style constraint suggestion; review before running)")
    s.add_argument("--profile", required=True,
                   help="built profile JSON (from build-profile)")
    s.add_argument("--out", required=True, help="suite JSON output path")
    s.add_argument("--bounds-margin", type=float, default=0.0,
                   help="widen numeric bounds by this fraction of the "
                        "observed range on each side")
    s.add_argument("--partition-cols", default="",
                   help="comma-separated partition columns for the suite")
    s.add_argument("--row-count-margin", type=float, default=None,
                   help="also suggest a per-partition row_count floor: "
                        "min = (1-m) x the smallest observed partition")
    s.add_argument("--mean-margin", type=float, default=None,
                   help="also suggest stat_bounds mean envelopes widened "
                        "by this fraction of each component's range")

    r = sub.add_parser(
        "report",
        help="run a table-health / privacy report and print one JSON "
             "line per result row (all reports are summary-scale: "
             "top-N keys, column pairs, or a single row — never data)")
    r.add_argument("--input", required=True, help="parquet path")
    r.add_argument("--kind", required=True,
                   choices=["skew", "missingness", "join-explosion",
                            "event-order", "k-anonymity",
                            "suggest-types"])
    r.add_argument("--cols", default="",
                   help="comma-separated columns (missingness / "
                        "suggest-types; default: all)")
    r.add_argument("--keys", default="",
                   help="comma-separated key columns (skew / "
                        "join-explosion on / k-anonymity quasi)")
    r.add_argument("--top-n", type=int, default=10)
    r.add_argument("--dim-input", help="dimension parquet path "
                                       "(join-explosion)")
    r.add_argument("--k", type=int, default=10, help="k (k-anonymity)")
    r.add_argument("--sensitive", help="sensitive column (k-anonymity "
                                       "l-diversity tail)")
    r.add_argument("--ts-col", default="ts", help="event-order")
    r.add_argument("--arrival-col", help="event-order arrival column "
                                         "(required for event-order)")
    r.add_argument("--key-col", help="event-order per-key column "
                                     "(required for event-order)")

    args = ap.parse_args(argv)

    if args.cmd == "suggest-suite":
        # pure driver logic — no SparkSession needed
        from data_validation_spark.plans.suite import (
            Profile, suggest_suite)
        prof = Profile.load(args.profile)
        pcols = [c for c in args.partition_cols.split(",") if c]
        suite = suggest_suite(prof, name=f"{prof.name}_suggested",
                              partition_cols=pcols,
                              bounds_margin=args.bounds_margin,
                              row_count_margin=args.row_count_margin,
                              mean_margin=args.mean_margin)
        suite.save(args.out)
        print(json.dumps({
            "saved": args.out,
            "constraints": sorted(c.name for c in suite.constraints)}))
        return 0

    from data_validation_spark.session import get_spark
    spark = get_spark(app_name=f"dvs-{args.cmd}")

    # under spark-submit the driver JVM pre-exists, so ENGINE_DEFAULTS'
    # heap sizing (-Xms/-Xmx/AlwaysPreTouch) CANNOT apply — the
    # submit line must carry --driver-memory.  Token-array scans OOM a
    # default 1 GiB heap even at toy scale, so surface it loudly.
    max_heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime() \
        .maxMemory()
    if max_heap < 2 * 1024 ** 3:
        print(f"WARNING: driver heap is {max_heap / 1024**3:.1f} GiB — "
              "pass --driver-memory (e.g. 8g) on the spark-submit line; "
              "in-conf sizing cannot resize an already-started JVM",
              file=sys.stderr)

    if args.cmd == "report":
        df = spark.read.parquet(args.input)
        cols = [c for c in args.cols.split(",") if c]
        keys = [c for c in args.keys.split(",") if c]
        if args.kind == "skew":
            from data_validation_spark.operators.health import (
                key_skew_report)
            out = key_skew_report(df, keys or df.columns[:1],
                                  top_n=args.top_n)
        elif args.kind == "missingness":
            from data_validation_spark.operators.health import (
                missingness_report)
            out = missingness_report(df, cols or list(df.columns))
        elif args.kind == "join-explosion":
            from data_validation_spark.operators.health import (
                join_explosion_report)
            if not args.dim_input or not keys:
                ap.error("join-explosion needs --dim-input and --keys")
            out = join_explosion_report(
                df, spark.read.parquet(args.dim_input), on=keys,
                top_n=args.top_n)
        elif args.kind == "event-order":
            from data_validation_spark.operators.health import (
                event_order_report)
            if not args.key_col or not args.arrival_col:
                ap.error("event-order needs --key-col and --arrival-col")
            out = event_order_report(df, args.key_col, args.ts_col,
                                     args.arrival_col)
        elif args.kind == "k-anonymity":
            from data_validation_spark.operators.redact import (
                k_anonymity_report)
            if not keys:
                ap.error("k-anonymity needs --keys (quasi identifiers)")
            out = k_anonymity_report(df, keys, k=args.k,
                                     sensitive_col=args.sensitive)
        else:
            from data_validation_spark.operators.health import (
                suggest_types)
            out = suggest_types(df, cols or None)
        for row in out.collect():
            print(json.dumps(row.asDict(), sort_keys=True, default=str))
        return 0

    if getattr(args, "ge_suite", None):
        from data_validation_spark.plans.interop import (
            from_great_expectations)
        with open(args.ge_suite) as f:
            suite = from_great_expectations(f.read())
    else:
        suite = _build_suite(args.suite)

    if args.cmd == "build-profile":
        from data_validation_spark.operators.profile import build_profile
        df = spark.read.parquet(args.input)
        prof = build_profile(df, suite.components, suite.partition_cols,
                             name=suite.name)
        prof.save(args.out)
        print(json.dumps({"saved": args.out,
                          "components": sorted(prof.components)}))
        return 0

    from data_validation_spark.plans.runner import run_validation
    from data_validation_spark.plans.suite import Profile
    from data_validation_spark.sources.table_provider import TableProvider

    if args.backend == "iceberg":
        df = spark.table(args.input)
    else:
        df = spark.read.parquet(args.input)
    if args.reference_profile:
        suite.reference = Profile.load(args.reference_profile)
    dims = {}
    for spec in args.dim:
        name, _, path = spec.partition("=")
        dims[name] = spark.read.parquet(path)
    sink = (TableProvider(spark, args.sink, backend=args.backend)
            if args.sink else None)

    res = run_validation(spark, df, suite, sink=sink, dims=dims or None,
                         resume=not args.no_resume)
    if args.report:
        from data_validation_spark.plans.report import save_report
        save_report(args.report, res.profile, res.verdicts, res.drift,
                    title=suite.name)
    print(json.dumps({
        "run_id": res.run_id, "passed": res.passed, "n_rows": res.n_rows,
        "n_violations": res.n_violations,
        "partitions": len(res.partitions),
        "skipped_partitions": len(res.skipped_partitions),
        "drifted": bool(res.drift.drifted) if res.drift else None,
    }))
    return 0 if res.passed else 2


if __name__ == "__main__":
    sys.exit(main())

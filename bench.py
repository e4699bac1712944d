"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default: every host core) and prints ONE
JSON line
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.

The headline set covers the engine's north-star path (full validation
run over an input_hint-shaped sequences table: stats pass + uniqueness
+ referential + row-level constraints + per-partition verdicts) plus
the training-data operators (dedup, ANN, text analysis) and the
warehouse-agg shape.  The sequences input is synthesized once into a
cached parquet dir so the timed section measures validation, not data
generation.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

#: timed repetitions per query (min taken).  3 since r4: the r2→r3
#: driver bench showed two >1 s swings (unique_violation_keys,
#: embedding_near_dups) that the builder's quiet box could not
#: reproduce — host-load noise needs one more sample to reject, and
#: the JSON line now carries loadavg so the reader can tell a loaded
#: box from a regression.
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

#: sequences rows per sf of lineitem (~600k lineitem rows at sf0.1)
SEQ_ROWS = {"sf0.001": 5_000, "sf0.01": 40_000, "sf0.1": 400_000}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def seq_parquet_path(spark, n_rows: int,
                     num_partitions: int | None = None) -> str:
    """Materialize the deterministic sequences table once (cached).

    ``num_partitions`` pins the physical file/task layout — the weak-
    scaling protocol passes rows/partition-constant values so task SIZE
    stays identical across ladder levels (default: 2 files per CPU)."""
    parts = num_partitions or CPUS * 2
    suffix = f"_p{parts}" if num_partitions else ""
    path = f"/tmp/dvs_bench_sequences_{n_rows}{suffix}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from data_validation_spark.sources.sequences import synth_sequences
        log(f"generating sequences parquet n={n_rows} ({parts} parts) → {path}")
        synth_sequences(spark, n_rows, num_partitions=parts) \
            .write.mode("overwrite").parquet(path)
    return path


def bench_validation(spark, n_rows: int) -> tuple[float, dict]:
    """North-star job: full validation run over the sequences table."""
    path = seq_parquet_path(spark, n_rows)
    # warm on a SMALL parquet table with the identical plan shape —
    # a limit() warm run compiles different codegen than the real
    # parquet scan, so the measured run would still pay ~2 s of
    # whole-stage-codegen compilation (a per-JVM constant, not work)
    warm = spark.read.parquet(seq_parquet_path(spark, max(n_rows // 8, 1000)))
    return bench_validation_df(spark, spark.read.parquet(path), n_rows,
                               warm_df=warm)


def bench_validation_df(spark, df, n_rows: int,
                        warm_df=None) -> tuple[float, dict]:
    """Same north-star job over an explicit DataFrame (scaling harness
    feeds per-executor file shards through here)."""
    from data_validation_spark.plans.runner import run_validation
    from data_validation_spark.plans.suite import (
        Component, Constraint, ValidationSuite)
    from data_validation_spark.sources.sequences import allowed_sources_df

    if warm_df is None:
        warm_df = df.limit(max(n_rows // 4, 1))
    suite = ValidationSuite(
        name="bench",
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
            Constraint("tokens_not_null", "not_null", {"component": "tokens"}),
            Constraint("unique_doc_id", "unique", {"keys": ["doc_id"]}),
            Constraint("source_allowed", "referential",
                       {"column": "source", "dim": "allowed_sources"}),
        ],
        partition_cols=["source", "bucket"],
    )
    dims = {"allowed_sources": allowed_sources_df(spark)}
    # quarter-size warmup: compiles every query shape once so the
    # measured run is steady-state (JIT is a per-JVM constant that a
    # 10^12-row job amortizes away)
    run_validation(spark, warm_df, suite, dims=dims, resume=False)
    # best of RUNS full-size runs, like the operator queries: a single
    # timed run leaves host-load noise (this box's effective cores
    # wobble run to run) as the dominant term in the headline number
    wall, res = None, None
    for _ in range(RUNS):
        t0 = time.time()
        r = run_validation(spark, df, suite, dims=dims, resume=False)
        dt = time.time() - t0
        if wall is None or dt < wall:
            wall, res = dt, r
    return wall, {"rows": res.n_rows, "violations": res.n_violations,
                  "throughput_seq_per_s": round(res.n_rows / wall, 1)}


def main() -> None:
    from data_validation_spark.session import get_spark
    import __spark_entry__ as entry_mod

    sf_name = os.path.basename(SF_DIR.rstrip("/"))
    sf = float(sf_name.replace("sf", "") or 0.1) if sf_name.startswith("sf") else 0.1
    n_rows = SEQ_ROWS.get(sf_name, 400_000)

    spark = get_spark(app_name="bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    load_start = os.getloadavg()[0]

    timings: dict[str, float] = {}
    extras: dict = {}

    # q0: the north-star validation job
    wall, info = bench_validation(spark, n_rows)
    timings["validate_sequences"] = round(wall, 3)
    extras["validation"] = info
    log(f"validate_sequences: {wall:.1f}s {info}")

    # headline operator queries from the driver contract, timed at SF_DIR
    qs = entry_mod.queries()
    for name in ["profile_per_source", "verdicts_per_source",
                 "unique_violation_keys", "dedup_exact_groups",
                 "minhash_near_dups", "simhash_near_dups",
                 "ann_topk_pandas", "embedding_near_dups",
                 "text_stats", "pricing_summary"]:
        # best of 2: run 1 pays per-JVM constants (whole-stage-codegen
        # compile, Python worker spinup) that amortize over a real
        # cluster job; run 2 is the steady-state per-query cost the
        # 100 TB scale question actually asks about.
        best, n = None, 0
        for _ in range(RUNS):
            # drop persisted intermediates between runs: CacheManager
            # matches by logical plan, so run 2 of an operator that
            # persists (minhash/simhash banded frames) would otherwise
            # time a cache hit, not the operator
            spark.catalog.clearCache()
            t0 = time.time()
            n = qs[name](spark, SF_DIR).count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        log(f"{name}: {timings[name]}s best-of-{RUNS} ({n} rows)")

    # non-headline extras: timed and reported but NOT in the total, so
    # the headline stays composition-comparable across rounds
    extra_timings: dict[str, float] = {}
    for name in ["asof_join", "interval_attribution", "sessionize",
                 "retention", "embedding_outliers",
                 # r4-session DQ/temporal additions (extras keep the
                 # headline composition-comparable across rounds)
                 "join_explosion", "missingness", "event_order",
                 "tfidf_terms", "merge_intervals", "cdc_apply",
                 "k_anonymity", "suggest_types",
                 # r5: header decoders — their cost is a per-query
                 # Catalyst-compile constant, which only a tracked bench
                 # catches (wav's unrolled walk hid a 43-55 s compile
                 # stall for a full round precisely because these were
                 # absent here)
                 "wav_headers", "mp4_headers", "pdf_headers",
                 # r5: grouping-sets key/FD profiling
                 "fd_discovery", "candidate_keys"]:
        best, n = None, 0
        for _ in range(RUNS):
            spark.catalog.clearCache()
            t0 = time.time()
            n = qs[name](spark, SF_DIR).count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        extra_timings[name] = round(best, 3)
        log(f"{name}: {extra_timings[name]}s best-of-{RUNS} ({n} rows) [extra]")

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline query wall time (validation + training-data ops)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extra_queries": extra_timings,
        "sf": sf,
        "cpus": CPUS,
        "validation_throughput_seq_per_s":
            extras["validation"]["throughput_seq_per_s"],
        "loadavg_1m_start": round(load_start, 2),
        "loadavg_1m_end": round(os.getloadavg()[0], 2),
        "methodology": f"all queries best-of-{RUNS} (steady state; "
                       "per-JVM codegen/worker constants amortize at "
                       "scale); validation warmed on a small table "
                       "with the identical plan shape; loadavg "
                       "recorded start/end — compare per-query times "
                       "only at comparable load",
    }
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()

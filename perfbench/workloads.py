"""The benchmark's workloads: inputs, one op, and the op's output check.

A workload is built in three steps, so the runner can time them apart:
the constructor makes or loads the seeded input (not part of set-up
time), ``register`` binds it to a session (part of set-up time), and
``run`` is one op, writing to a sink or not.  Outside the op's timing,
``check`` compares its output with the expected counts and ``after_op``
returns the workload's own per-layer counts.

``reference`` is what each op is measured against: a plain hand-written
Spark query over the same input (scan, aggregate, one shuffle), made of
Spark built-ins only, so no engine change can move it while a slower or
faster host moves both.  It runs in its own session of the same
SparkContext, with the SQL settings that shape its plan pinned to the
benchmark's values, so a change to the engine's session settings moves
the op and not the reference.  JVM-level settings (heap, GC, JVM
options) are shared by both and cancel out of the ratio.
"""

from __future__ import annotations

import os

import pyarrow.dataset as ds

import inputs
import tracing

#: SQL settings of the reference session, fixed by the benchmark
REF_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(64 << 20),
    "spark.sql.autoBroadcastJoinThreshold": str(10 << 20),
    "spark.sql.files.maxPartitionBytes": str(128 << 20),
    "spark.sql.files.openCostInBytes": str(4 << 20),
    "spark.sql.parquet.enableVectorizedReader": "true",
    "spark.sql.codegen.wholeStage": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def reference_session(spark):
    """A session for the reference query, its plan settings pinned and
    one shuffle partition per core of the benchmark's master."""
    ref = spark.newSession()
    conf = dict(REF_CONF, **{"spark.sql.shuffle.partitions":
                             str(spark.sparkContext.defaultParallelism)})
    for k, v in conf.items():
        ref.conf.set(k, v)
    return ref


def north_star_suite():
    """``bench.py``'s flagship suite: 3 components, 5 constraints."""
    from data_validation_spark.plans.suite import (
        Component, Constraint, ValidationSuite)
    return ValidationSuite(
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


def _rows(path: str) -> int:
    return ds.dataset(path, format="parquet").count_rows()


def _verdict_rows(path: str) -> tuple[int, int]:
    """(rows, summed violations) of the metrics sink's verdict rows."""
    t = ds.dataset(path, format="parquet").to_table(
        columns=["metric", "value"])
    rows = [v for m, v in zip(t.column("metric").to_pylist(),
                              t.column("value").to_pylist())
            if m.startswith("violations[")]
    return len(rows), int(sum(rows))


class Validate:
    """``run_validation`` without a sink: the fused stats + row-check
    pass, with the salted uniqueness count beside it."""

    name = "validate"
    sink = False
    #: ops writing to a sink at the end of a traced run, so the write
    #: path's layers are measured on this workload too
    traced_sink_ops = 2

    def __init__(self, cache_dir: str, seed: int, rows: int):
        self.meta = inputs.sequences(cache_dir, rows, seed)
        self.expected = self.meta["expected"]
        self.rows = rows
        self.sink_class = None
        self.sink_root: str | None = None
        self.tracer = None

    def register(self, spark) -> None:
        self.spark = spark
        self.df = spark.read.parquet(self.meta["data"])
        self.ref_df = reference_session(spark).read.parquet(
            self.meta["data"])
        self.dims = {"allowed_sources": spark.createDataFrame(
            [(s,) for s in inputs.ALLOWED_SOURCES], "source string")}
        self.suite = north_star_suite()

    def reference(self):
        from pyspark.sql import functions as F
        # built anew each call: re-collecting one DataFrame would reuse
        # its shuffle output and skip the scan
        per_part = self.ref_df.groupBy("source", "bucket").agg(
            F.count(F.lit(1)), F.avg("n_tok"), F.sum(F.size("tokens")),
            F.max(F.array_max("tokens")))
        dup_ids = self.ref_df.groupBy("doc_id").count().where("count > 1")
        return per_part.collect(), dup_ids.count()

    def run(self, op_dir: str, sink: bool):
        from data_validation_spark.plans import runner
        self.sink_root = op_dir if sink else None
        provider = self.sink_class(self.spark, op_dir) if sink else None
        return runner.run_validation(self.spark, self.df, self.suite,
                                     sink=provider, dims=self.dims)

    def check(self, res, exp: dict) -> list[str]:
        errs = []
        per = {}
        for v in res.verdicts:
            per[v["constraint"]] = per.get(v["constraint"], 0) \
                + v["n_violations"]
        got = {"n_rows": res.n_rows, "n_violations": res.n_violations,
               "per_constraint": per,
               "n_partitions": len({v["partition"] for v in res.verdicts})}
        if self.sink_root is not None:
            got["n_violation_rows"] = res.n_violation_rows
            got["sink.violations"] = _rows(
                os.path.join(self.sink_root, "violations"))
            got["sink.manifest"] = _rows(
                os.path.join(self.sink_root, "manifest"))
            got["sink.verdicts"] = _verdict_rows(
                os.path.join(self.sink_root, "metrics"))
            n_parts = exp["n_partitions"]
            exp = dict(exp, **{
                "sink.violations": exp["n_violation_rows"],
                "sink.manifest": n_parts,
                # one verdict row per partition and constraint
                "sink.verdicts": (len(self.suite.constraints) * n_parts,
                                  exp["n_violations"])})
        for k, v in got.items():
            if k in exp and exp[k] != v:
                errs.append(f"{k}: expected {exp[k]}, got {v}")
        return errs

    def after_op(self, res, traced: bool) -> dict:
        return {}


class ValidateSink(Validate):
    """The same runner writing violations, metrics and manifest through
    a parquet ``TableProvider`` with a fresh root per op."""

    name = "validate_sink"
    sink = True
    traced_sink_ops = 0


class NearDup:
    """``minhash_near_duplicates(threshold=0.7)`` over the planted
    corpus: signatures, the persisted banded frame, the bucket
    self-join and the exact-Jaccard verify."""

    name = "neardup"
    sink = False
    traced_sink_ops = 0
    threshold = 0.7
    #: LSH (8 bands x 2 rows) makes a pair a candidate with p = 0.995 at
    #: J = 0.7 and p > 1 - 1e-7 at J = 0.95: planted pairs from 0.7 up
    #: must be found at this recall, and those from 0.95 up every one
    min_recall = 0.98
    sure = 0.95

    def __init__(self, cache_dir: str, seed: int, rows: int):
        self.meta = inputs.documents(cache_dir, rows, seed)
        self.expected = self.meta["expected"]
        self.rows = rows
        self._shingles: dict[int, frozenset] = {}
        self._texts: list[str] | None = None
        self.stats: dict = {}
        self.tracer = None

    def register(self, spark) -> None:
        self.spark = spark
        self.df = spark.read.parquet(self.meta["data"])
        self.ref_df = reference_session(spark).read.parquet(
            self.meta["data"])

    def reference(self):
        from pyspark.sql import functions as F
        words = F.split("text", " ")
        top = (self.ref_df.select(F.explode(words).alias("w")).groupBy("w")
               .count().agg(F.max("count")).collect())
        hashed = F.array_max(F.transform(words, lambda x: F.xxhash64(x)))
        spread = (self.ref_df.groupBy((hashed % 64).alias("k")).count()
                  .agg(F.max("count")).collect())
        # a bucket self-join on that hash, like the LSH candidate search
        keyed = self.ref_df.select("doc_id", (hashed % 4096).alias("k"))
        pairs = (keyed.alias("x").join(keyed.alias("y"), "k")
                 .where(F.col("x.doc_id") < F.col("y.doc_id")).count())
        return top, spread, pairs

    def run(self, op_dir: str, sink: bool):
        from data_validation_spark.operators import dedup
        self.stats = {}
        pairs = dedup.minhash_near_duplicates(
            self.df, threshold=self.threshold, stats_out=self.stats)
        collect = pairs.collect
        if self.tracer is not None:
            collect = self.tracer.wrap(tracing.COLLECT_SPAN, collect)
        return collect()

    def _sh(self, doc: int) -> frozenset:
        if doc not in self._shingles:
            if self._texts is None:
                self._texts = inputs.load_texts(self.meta)
            self._shingles[doc] = inputs.shingles(self._texts[doc])
        return self._shingles[doc]

    def check(self, rows, exp: dict) -> list[str]:
        errs = []
        found = set()
        for r in rows:
            a, b, j = int(r["id_a"]), int(r["id_b"]), float(r["jaccard"])
            exact = inputs.jaccard(self._sh(a), self._sh(b))
            if abs(exact - j) > 1e-9 or exact < self.threshold or a >= b:
                errs.append(f"pair ({a}, {b}): engine J={j}, exact J={exact}")
            found.add((a, b))
        planted = [(a, b) for a, b, j in exp["planted"]
                   if j >= self.threshold]
        hit = sum((a, b) in found for a, b in planted)
        if planted and hit / len(planted) < self.min_recall:
            errs.append(f"recall {hit}/{len(planted)} below "
                        f"{self.min_recall}")
        missed = [(a, b) for a, b, j in exp["planted"]
                  if j >= self.sure and (a, b) not in found]
        if missed:
            errs.append(f"{len(missed)} planted pairs with J >= {self.sure} "
                        f"not found, e.g. {missed[:3]}")
        return errs[:5]

    def after_op(self, rows, traced: bool) -> dict:
        out = {"dedup.verified_pairs": len(rows),
               "dedup.dropped_buckets": self.stats.get("n_dropped_buckets",
                                                       0)}
        if traced:
            # served from the banded frame the op left cached
            from data_validation_spark.operators import dedup
            out["dedup.candidate_pairs"] = dedup.lsh_candidate_pairs(
                self.df).count()
        return out


WORKLOADS = {w.name: w for w in (Validate, ValidateSink, NearDup)}

"""Benchmark of the validation engine: one process, one client, closed loop.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload validate --seed 1 --seconds 20 --trace 0

A run makes (or loads from ``.perfbench/cache``) the seeded input, sets
up a ``local[<cores>]`` session, runs one cold op, warms up until the
JVM's CPU per op stops falling, then runs ops back to back for
``--seconds``, each right after the workload's reference query so the
host's speed at that moment divides out.  Every op's output is checked
against counts known by construction.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it is a
``{"run": ...}`` record with the host settings, per-op samples and
noise diagnostics.  Progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import hostinfo
import tracing
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

#: input size per op: sequences rows, or documents for neardup
ROWS = {"validate": 100_000, "validate_sink": 100_000, "neardup": 12_000}
HEAP_MB = (1024, 2048)          # floor and cap on the driver heap
WARMUP_MAX_S = 15.0
WARMUP_FLAT = 0.90              # JVM CPU ratio that counts as "stopped falling"
MIN_TIMED_OPS = 3
RUN_LIMIT_S = 150.0             # no new op starts after this
CLEANER_WAIT_S = 0.3            # Spark's cleaner polls its queue every 0.1 s

END_TO_END = {"setup_s": "s", "op_per_ref.p50": "ratio",
              "cpu_per_ref": "ratio", "peak_rss_mb": "MB"}
EXTRA_LAYER = {"op.wall_s": "s", "op.driver_s": "s", "op.first_s": "s",
               "op.rows_per_s": "rows/s", "op.cpu_s_per_mrow": "s",
               "trace.overhead_s": "s", "trace.coverage": "ratio",
               "trace.unattributed_s": "s",
               "dedup.candidate_pairs": "count",
               "dedup.verified_pairs": "count",
               "dedup.verify_yield": "ratio",
               "dedup.dropped_buckets": "count",
               "cache.rdds_after_op": "count",
               "session.heap_mb": "MB", "session.cores": "count",
               "session.retained_heap_mb": "MB",
               "host.steal_s": "s", "host.loadavg_1m": "count",
               "host.ref_s": "s",
               "warmup.ops": "count", "ops.timed": "count",
               "sink.op.wall_s": "s",
               "sink.runner.run_validation.shuffle_write_mb": "MB"}
PER_LAYER = {**{f"{s}.{k}": u for s in tracing.SPANS
                for k, u in tracing.STATS.items()}, **EXTRA_LAYER}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def heap_mb() -> int:
    return max(HEAP_MB[0], min(HEAP_MB[1], hostinfo.mem_available_mb() // 4))


class Session:
    """The Spark session under test, started with the engine's own
    defaults and the host-derived heap and core count."""

    def __init__(self, cores: int, heap: int):
        self.cores = cores
        self.master = f"local[{cores}]"
        self.heap = heap
        tmp = os.path.join(STATE, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # the engine reads its heap from this variable at import time
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap}m"
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
        # HotSpot writes its perf-counter file to /tmp whatever the temp
        # dir; the benchmark keeps every write inside the checkout
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        self.tmp = tmp
        self.spark = None

    def start(self):
        from data_validation_spark.session import ENGINE_DEFAULTS, get_spark
        opts = ENGINE_DEFAULTS["spark.driver.extraJavaOptions"]
        self.spark = get_spark(
            app_name="perfbench", master=self.master,
            extra_conf={
                "spark.driver.extraJavaOptions":
                    f"{opts} -Djava.io.tmpdir={self.tmp}",
                "spark.sql.warehouse.dir":
                    os.path.join(self.tmp, "warehouse")})
        return self.spark

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext
        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop the session and its JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext
        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


class Runner:
    def __init__(self, args, wl, session: Session):
        self.args = args
        self.wl = wl
        self.session = session
        self.me = os.getpid()
        self.tracer: tracing.Tracer | None = None
        self.ops: list[dict] = []
        self.op_dir = os.path.join(session.tmp, "op")

    def reference(self) -> dict:
        """Time the workload's reference query right before an op."""
        cpu0 = hostinfo.tree_cpu_s(self.me)
        t0 = time.perf_counter()
        self.wl.reference()
        wall = time.perf_counter() - t0
        return {"ref_wall_s": wall,
                "ref_cpu_s": hostinfo.tree_cpu_s(self.me) - cpu0}

    def op(self, phase: str, traced: bool = False) -> dict:
        wl, spark = self.wl, self.session.spark
        jvm = self.session.jvm_pid
        # what the previous op left cached or wrote is released here,
        # outside the timing, so the run ends with the last op's leftovers
        spark.catalog.clearCache()
        shutil.rmtree(self.op_dir, ignore_errors=True)
        # the warm-up rule watches the JVM over the reference and the op
        jvm0 = hostinfo.cpu_s(jvm)
        ref = self.reference() if phase in ("warmup", "timed") else {}
        cpu0 = hostinfo.tree_cpu_s(self.me)
        steal0 = hostinfo.steal_s()
        if traced:
            self.tracer.begin_op()
        t0 = time.perf_counter()
        err, res = None, None
        try:
            res = wl.run(self.op_dir, sink=wl.sink or phase == "sink")
        except Exception:
            err = traceback.format_exc(limit=3)
        wall = time.perf_counter() - t0
        if traced:
            self.tracer.end_op()
        rec = {"phase": phase, "wall_s": wall,
               "cpu_s": hostinfo.tree_cpu_s(self.me) - cpu0,
               "jvm_cpu_s": hostinfo.cpu_s(jvm) - jvm0,
               "steal_s": hostinfo.steal_s() - steal0, "traced": traced,
               **ref}
        if traced:
            rec["layers"] = tracing.summarize(self.tracer.collect())
        errs = [err] if err else wl.check(res, self.expected)
        rec["errors"] = errs
        if errs:
            log(f"{phase} op FAILED: {errs}")
        else:
            rec.update(wl.after_op(res, traced))
        rec["cache.rdds_after_op"] = \
            spark.sparkContext._jsc.getPersistentRDDs().size()
        self.ops.append(rec)
        log(f"{phase} op: {wall:.3f}s  jvm_cpu {rec['jvm_cpu_s']:.2f}s  "
            f"steal {rec['steal_s']:.2f}s")
        return rec

    def loop(self, t_start: float) -> None:
        args = self.args
        self.expected = self.wl.expected
        if args.miscount:
            self.expected = miscounted(self.expected)
        self.op("first")
        # warm up until JVM CPU per op stops falling
        t_warm = time.perf_counter()
        prev = self.ops[-1]["jvm_cpu_s"]
        while time.perf_counter() - t_warm < WARMUP_MAX_S:
            cur = self.op("warmup")["jvm_cpu_s"]
            if cur >= WARMUP_FLAT * prev:
                break
            prev = cur
        self.warmup_ops = sum(o["phase"] == "warmup" for o in self.ops)
        with hostinfo.RssSampler(self.me) as rss:
            t_win = time.perf_counter()
            n = 0
            min_ops = 2 * MIN_TIMED_OPS if args.trace else MIN_TIMED_OPS
            last = 0.0
            # no op starts that would end past the window, once the
            # minimum count is in
            while ((time.perf_counter() - t_win + last < args.seconds
                    or n < min_ops)
                   and time.perf_counter() - t_start < RUN_LIMIT_S):
                t_op = time.perf_counter()
                # the traced run alternates traced and untraced ops, so
                # their difference is the tracing overhead
                self.op("timed", traced=bool(args.trace) and n % 2 == 0)
                last = time.perf_counter() - t_op
                n += 1
            rss.sample()
            self.peak_rss_mb = rss.peak_mb
        if args.trace:
            # once, after the window: collecting between ops would reset
            # the collector's generation sizing before every timed op
            self.retained_heap_mb = retained_heap_mb(self.session.spark)
            # the traced run of the no-sink workload ends with ops of the
            # same runner writing to a sink, for the write-path layers
            for _ in range(self.wl.traced_sink_ops):
                if time.perf_counter() - t_start < RUN_LIMIT_S:
                    self.op("sink", traced=True)


def retained_heap_mb(spark) -> float:
    """JVM heap in use after a full collection: what the run's ops left
    live, the last op's cached blocks included.  Python's collector runs first, so JVM
    objects only garbage Python proxies still held are released; the
    JVM collects twice, so what Spark's cleaner thread frees after the
    first collection (shuffles and broadcasts of dropped plans) is gone
    too."""
    import gc
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(CLEANER_WAIT_S)
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def miscounted(expected: dict) -> dict:
    """Expected counts that no correct op can match (self-test hook)."""
    out = dict(expected)
    if "n_violations" in out:
        out["n_violations"] += 1
    else:
        out["planted"] = out["planted"] + [[0, 1, 1.0]]
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(r: Runner, setup_s: float) -> dict:
    timed = [o for o in r.ops if o["phase"] == "timed"]
    return {"setup_s": setup_s,
            "op_per_ref.p50": _median([o["wall_s"] / o["ref_wall_s"]
                                       for o in timed]),
            "cpu_per_ref": (sum(o["cpu_s"] for o in timed)
                            / sum(o["ref_cpu_s"] for o in timed)),
            "peak_rss_mb": r.peak_rss_mb}


def per_layer(r: Runner, session: Session, load: float) -> dict:
    timed = [o for o in r.ops if o["phase"] == "timed"]
    traced = [o for o in timed if o["traced"]]
    plain = [o for o in timed if not o["traced"]]
    sink = [o for o in r.ops if o["phase"] == "sink"]
    for o in traced:
        # share of the op wall, as the benchmark timed it, spent inside
        # a layer span or a Spark job
        o["layers"]["trace.coverage"] = (
            1 - o["layers"]["trace.unattributed_s"] / o["wall_s"])
    out = {k: _median([o["layers"][k] for o in traced if k in o["layers"]])
           for k in PER_LAYER}
    # the write-path spans come from the sink ops, if the run had any
    for k in PER_LAYER:
        if sink and k.startswith(tracing.WRITE_SPANS):
            out[k] = _median([o["layers"][k] for o in sink])
    cand = _median([o.get("dedup.candidate_pairs", 0) for o in traced])
    ver = _median([o.get("dedup.verified_pairs", 0) for o in traced])
    out.update({
        "trace.overhead_s": (_median([o["wall_s"] for o in traced])
                             - _median([o["wall_s"] for o in plain])),
        "dedup.candidate_pairs": cand,
        "dedup.verified_pairs": ver,
        "dedup.verify_yield": ver / cand if cand else 0.0,
        "dedup.dropped_buckets": _median(
            [o.get("dedup.dropped_buckets", 0) for o in traced]),
        "cache.rdds_after_op": _median(
            [o["cache.rdds_after_op"] for o in traced]),
        "op.first_s": r.ops[0]["wall_s"],
        # raw host-dependent figures, from the untraced ops
        "op.rows_per_s": r.wl.rows * len(plain)
        / sum(o["wall_s"] for o in plain),
        "op.cpu_s_per_mrow": sum(o["cpu_s"] for o in plain)
        / (r.wl.rows * len(plain) / 1e6),
        "session.heap_mb": session.heap,
        "session.cores": session.cores,
        "session.retained_heap_mb": r.retained_heap_mb,
        "host.steal_s": _median([o["steal_s"] for o in timed]),
        "host.loadavg_1m": load,
        "host.ref_s": _median([o["ref_wall_s"] for o in timed]),
        "warmup.ops": r.warmup_ops,
        "ops.timed": len(timed),
        "sink.op.wall_s": _median([o["wall_s"] for o in sink]),
        "sink.runner.run_validation.shuffle_write_mb": _median(
            [o["layers"]["runner.run_validation.shuffle_write_mb"]
             for o in sink]),
    })
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None,
                    help="input size per op (default: the workload's)")
    ap.add_argument("--miscount", action="store_true",
                    help="check against wrong expected counts; every op "
                         "must then fail (self-test)")
    ap.add_argument("--unwrap", action="append", default=[],
                    choices=sorted(tracing.PATCHES),
                    help="leave this layer unwrapped in the traced run; "
                         "coverage must then drop (self-test)")
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    load = hostinfo.loadavg_1m()

    sys.path.insert(0, ROOT)
    try:
        import data_validation_spark
    except ImportError as e:
        log(f"engine package not found under {ROOT}: {e}")
        return 2
    if not os.path.abspath(data_validation_spark.__file__).startswith(ROOT):
        log(f"engine package found outside {ROOT}; refusing to measure it")
        return 2
    session = Session(hostinfo.cpu_count(), heap_mb())

    cache = os.path.join(STATE, "cache")
    os.makedirs(cache, exist_ok=True)
    t_in = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](
        cache, args.seed, args.rows or ROWS[args.workload])
    log(f"input {args.workload} n={wl.rows} seed={args.seed} "
        f"{'generated' if wl.meta['generated'] else 'cached'} "
        f"in {time.perf_counter() - t_in:.2f}s")

    try:
        t0 = time.perf_counter()
        spark = session.start()
        wl.register(spark)
        setup_s = time.perf_counter() - t0
        log(f"setup: {setup_s:.3f}s")
        r = Runner(args, wl, session)
        if args.trace:
            r.tracer = tracing.Tracer(spark)
            r.tracer.install(skip=tuple(args.unwrap))
        wl.sink_class = tracing.table_provider(r.tracer)
        wl.tracer = r.tracer
        r.loop(t_start)
        if r.tracer is not None:
            r.tracer.uninstall()
    except Exception:
        log("run aborted:\n" + traceback.format_exc())
        session.stop()
        return 1
    session.stop()

    metrics = (per_layer(r, session, load) if args.trace
               else end_to_end(r, setup_s))
    units = PER_LAYER if args.trace else END_TO_END
    failed = sum(bool(o["errors"]) for o in r.ops)
    record = {
        "workload": args.workload, "seed": args.seed, "rows": wl.rows,
        "master": session.master, "heap_mb": session.heap,
        "mem_available_mb": hostinfo.mem_available_mb(),
        "loadavg_1m": load, "setup_s": setup_s,
        "warmup_ops": r.warmup_ops,
        "ops": [{k: o[k] for k in ("phase", "wall_s", "cpu_s", "jvm_cpu_s",
                                   "steal_s", "traced", "ref_wall_s",
                                   "ref_cpu_s") if k in o} for o in r.ops],
        "run_s": time.perf_counter() - t_start,
    }
    print(json.dumps({"run": record}))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(r.ops), "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

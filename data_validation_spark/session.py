"""SparkSession construction with the engine's scale-oriented defaults.

Single place that owns the configs the 100 TB plan depends on: AQE (for
skew-join splitting and runtime coalescing), Arrow (for the vectorized
pandas-UDF kernels), and sane shuffle-partition sizing for the local
sandbox.  On a real cluster these come from spark-submit conf; this
builder only fills in what is unset.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

#: floor and cap (MB) on the host-derived local-mode heap
_HEAP_FLOOR_MB, _HEAP_CAP_MB = 1024, 24 * 1024
_UNITS_MB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def _meminfo_mb() -> dict[str, int]:
    """MemTotal / MemAvailable of this host in MB ({} off Linux)."""
    out: dict[str, int] = {}
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                key, _, rest = line.partition(":")
                if key in ("MemTotal", "MemAvailable"):
                    out[key] = int(rest.split()[0]) // 1024
    except OSError:
        pass
    return out


def _default_driver_mem() -> str:
    """Local mode is one JVM whose heap is pinned and pre-touched below,
    so it must fit in the RAM the host has free: a third of
    MemAvailable (the rest is left to Python workers, the page cache
    and the shuffle files), at least the floor, at most the cap."""
    avail = _meminfo_mb().get("MemAvailable")
    if avail is None:
        return "4g"
    return f"{max(_HEAP_FLOOR_MB, min(_HEAP_CAP_MB, avail // 3))}m"


#: SPARK_GRAFT_DRIVER_MEM overrides the host-derived size (on a
#: cluster, executor memory comes from spark-submit instead)
_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()


def _heap_mb(size: str) -> float:
    """JVM memory-size string (``6g``, ``4096m``, bytes) in MB."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", size.strip().lower())
    if not m:
        raise ValueError(f"unparseable JVM memory size {size!r}")
    n, unit = int(m.group(1)), m.group(2)
    return n * _UNITS_MB[unit] if unit else n / (1024 * 1024)


def _heap_error(heap: str, why: str) -> RuntimeError:
    mem = _meminfo_mb()
    return RuntimeError(
        f"{why}: driver heap {heap} (pinned with -Xms and pre-touched), "
        f"host MemTotal={mem.get('MemTotal', '?')} MB, MemAvailable="
        f"{mem.get('MemAvailable', '?')} MB; set SPARK_GRAFT_DRIVER_MEM "
        f"to a smaller size")


def _check_heap(heap: str) -> None:
    """Fail before launching a JVM whose pre-touched heap cannot fit in
    the host's free RAM (it would die at startup or start swapping)."""
    avail = _meminfo_mb().get("MemAvailable")
    if avail is not None and _heap_mb(heap) > avail:
        raise _heap_error(heap, "cannot reserve the heap")


ENGINE_DEFAULTS = {
    "spark.driver.memory": _DRIVER_MEM,
    # measured (BENCH/BASELINE.md, "Tuning that mattered"): WITHOUT a
    # pinned pre-touched heap, array<int32>-heavy scans at 32 threads
    # spend ~35% of CPU in the kernel zeroing freshly-faulted heap pages
    # (lazy -Xms growth × 4× allocation rate) — queries randomly
    # degrade 10-30×.  Pinning -Xms to -Xmx with AlwaysPreTouch
    # pre-zeroes the heap once at startup and makes 32-thread runs stable and faster than 8-thread
    # runs.  GC choice and the nested vectorized reader were innocent
    # (confounded in early probes).
    "spark.driver.extraJavaOptions":
        f"-XX:+UseParallelGC -Xms{_DRIVER_MEM} -XX:+AlwaysPreTouch",
    # runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones — backs up the explicit salting we do for hot sources
    # engine-wide UTC: timestamp_ntz wall clocks read as UTC instants,
    # so epoch arithmetic is engine-portable (DuckDB epoch_us parity)
    # and independent of the host timezone
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow exchange for every pandas UDF / applyInPandas kernel
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # keep scans splittable at ~128 MB — the cluster sweet spot
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # quiet progress bars in test output
    "spark.ui.showConsoleProgress": "false",
}


def get_spark(app_name: str = "data-validation-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    in the sandbox; on a cluster, leave it unset and let spark-submit
    decide.
    """
    # make the package importable in Python workers regardless of the
    # driver's cwd (local mode inherits the env; on a cluster, ship the
    # package with spark-submit --py-files instead)
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (pkg_parent + os.pathsep + pp) if pp else pkg_parent

    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)
    conf = dict(ENGINE_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    elif master.startswith("local"):
        # Spark's default of 200 shuffle partitions is sized for a
        # cluster; in local mode it triples small-shuffle wall time
        # (200-way shuffle-writer fan-out per map task + 200 reduce
        # tasks — measured 2.07 s vs 0.60 s for a 400k-row groupBy at
        # local[32]).  Default to the local core count; AQE coalescing
        # still shrinks small exchanges below that.  On a cluster
        # (master unset / spark-submit) nothing is overridden.
        m = re.fullmatch(r"local\[(\d+|\*)\]", master)
        n = (os.cpu_count() or 8) if (not m or m.group(1) == "*") \
            else int(m.group(1))
        conf["spark.sql.shuffle.partitions"] = str(max(n, 4))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    from pyspark import SparkContext
    # the heap is reserved only when this call starts the local JVM
    launching = SparkContext._gateway is None and master.startswith("local")
    heap = conf["spark.driver.memory"]
    if launching:
        _check_heap(heap)
    try:
        spark = builder.getOrCreate()
    except Exception as e:
        if launching and "JAVA_GATEWAY_EXITED" in str(e):
            raise _heap_error(heap, "the driver JVM exited at start-up") \
                from e
        raise
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""Tiny-size self-test of the benchmark, from the root of a checkout:

    python3 perfbench/selftest.py

For every workload it runs ``run.py`` on a tiny input untraced, traced,
and traced against wrong expected counts, and checks that

* the last stdout line carries every metric name with its unit;
* all ops pass, and with wrong expected counts every op fails;
* the traced spans and Spark jobs explain the op wall: the time in
  which no layer span is open and no job runs stays within a tolerance,
  and leaving ``run_validation`` and the probe collects unwrapped
  breaks that tolerance;

and that a directory holding only the benchmark files makes ``run.py``
exit non-zero without printing a result.  Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

TINY = {"validate": 3000, "validate_sink": 3000, "neardup": 600}
COVERAGE_TOL = 0.05


def bench(cwd: str, *args: str) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1]) if lines and lines[-1].startswith("{") \
        else None
    if p.returncode and out is None and "--workload" in args:
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, out


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}", flush=True)


def check_result(out: dict | None, units: dict, what: str) -> None:
    check(out is not None and set(out) == {"correct", "attempted",
                                           "failed", "metrics"},
          f"{what}: result line has exactly the four keys")
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    check(got == units, f"{what}: every metric printed with its unit")
    check(all(isinstance(v["value"], (int, float))
              for v in out["metrics"].values()),
          f"{what}: every metric value is a number")


def main() -> None:
    for wl, rows in TINY.items():
        base = ["--workload", wl, "--seed", "7", "--seconds", "1",
                "--rows", str(rows)]
        code, out = bench(ROOT, *base, "--trace", "0")
        check(code == 0, f"{wl}: untraced run exits 0")
        check_result(out, run.END_TO_END, f"{wl} untraced")
        check(out["correct"] and out["failed"] == 0
              and out["attempted"] >= 1 + run.MIN_TIMED_OPS,
              f"{wl}: untraced ops all pass")
        check(all(out["metrics"][k]["value"] > 0 for k in run.END_TO_END),
              f"{wl}: end-to-end metrics are non-zero")

        code, out = bench(ROOT, *base, "--trace", "1")
        check(code == 0, f"{wl}: traced run exits 0")
        check_result(out, run.PER_LAYER, f"{wl} traced")
        check(out["correct"] and out["failed"] == 0,
              f"{wl}: traced ops all pass")
        cov = out["metrics"]["trace.coverage"]["value"]
        check(cov >= 1 - COVERAGE_TOL,
              f"{wl}: layer spans and jobs explain the op wall "
              f"(coverage {cov:.4f}, tolerance {COVERAGE_TOL})")
        if wl == "validate":
            code, out = bench(ROOT, *base, "--trace", "1",
                              "--unwrap", "runner.run_validation",
                              "--unwrap", "profile.single_job_limit_collect")
            cov = out["metrics"]["trace.coverage"]["value"]
            check(code == 0 and cov < 1 - COVERAGE_TOL,
                  f"{wl}: a missing wrapper shows as lost coverage "
                  f"(coverage {cov:.4f})")

        code, out = bench(ROOT, *base, "--trace", "1", "--miscount")
        check(code == 0 and out is not None
              and not out["correct"] and out["failed"] == out["attempted"],
              f"{wl}: wrong expected counts fail every op")

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, out = bench(bare, "--workload", "validate", "--seed", "1",
                      "--seconds", "1", "--trace", "0")
    shutil.rmtree(bare, ignore_errors=True)
    check(code != 0 and out is None,
          "benchmark files alone: non-zero exit, no result")
    print("selftest passed")


if __name__ == "__main__":
    main()

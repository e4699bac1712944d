"""Final hardening gate — ONE command, exit 0 only when everything is
green: dist zip rebuilt, plan audit all-✅, the full 135-oracle sweep
at 0 failures, and the full pytest suite with 0 failures AND 0
warnings (the r4 sessionize red survived three rounds because local
checks were scattered; this is the single do-everything switch).

    python tools/gate.py            # full gate (~45-60 min of Spark)
    python tools/gate.py --fast     # skip pytest (sweep + plans only)

Stages run SEQUENTIALLY — two concurrent Spark JVMs on this box double
every wall time (BASELINE.md finding), so the gate never parallelizes.
Each stage fails loud with the child's tail; the gate's own output is
a short per-stage PASS/FAIL ledger plus the final verdict line.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(label: str, cmd: list[str]) -> str:
    t0 = time.time()
    p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    dt = time.time() - t0
    out = (p.stdout or "") + (p.stderr or "")
    if p.returncode != 0:
        tail = "\n".join(out.splitlines()[-30:])
        print(f"FAIL  {label} (rc={p.returncode}, {dt:.0f}s)\n{tail}")
        sys.exit(1)
    print(f"ok    {label} ({dt:.0f}s)")
    return out


def main() -> None:
    fast = "--fast" in sys.argv

    # 0. dist zip must match the live package (editing source without
    #    rebuilding is the #1 local-red footgun — FIXTURES.md gotcha)
    run("dist zip rebuild", [sys.executable, "tools/make_pyfiles_zip.py"])

    # 1. plan audit: regenerates PLANS.md; any ❌ in the output is red
    run("plan audit (writes PLANS.md)",
        [sys.executable, "tools/plan_audit.py"])
    plans = open(f"{REPO}/PLANS.md").read()
    n_ok, n_bad = plans.count("✅"), plans.count("❌")
    if n_bad or not n_ok:
        print(f"FAIL  PLANS.md has {n_bad} red / {n_ok} green asserts")
        sys.exit(1)
    print(f"ok    PLANS.md asserts ({n_ok} green, 0 red)")

    # 2. full oracle sweep — every queries() entry vs its DuckDB oracle
    #    at sf0.01 (the local mimic of the driver's correctness gate)
    out = run("oracle sweep (check_entry, all queries)",
              [sys.executable, "tools/check_entry.py"])
    if "0 failures" not in out:
        print("FAIL  oracle sweep did not report '0 failures'")
        sys.exit(1)

    # 3. full pytest INCLUDING the paranoia suite (three value
    #    normalizers + the Arrow-schema fetch that catches HUGEINT/
    #    decimal oracle typing the fetchall path launders — the exact
    #    blind spot behind the 3-round sessionize red).  0 failures
    #    AND 0 warnings: warnings rot into the next round's red.
    if fast:
        out = run("paranoia suite (fast mode)",
                  [sys.executable, "-m", "pytest",
                   "tests/test_hasher_paranoia.py", "-q"])
    else:
        out = run("full pytest", [sys.executable, "-m", "pytest",
                                  "tests/", "-q"])
    summary = out.splitlines()[-1] if out.splitlines() else ""
    if not re.search(r"\bpassed\b", summary) \
            or re.search(r"\b(failed|error)\b", summary) \
            or "warning" in summary:
        print(f"FAIL  pytest summary not clean: {summary!r}")
        sys.exit(1)
    print(f"ok    pytest summary clean: {summary.strip()}")

    print("GATE: PASS" + (" (fast mode — rerun without --fast before "
                          "shipping)" if fast else ""))


if __name__ == "__main__":
    main()

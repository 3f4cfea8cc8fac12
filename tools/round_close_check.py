#!/usr/bin/env python
"""Pre-merge checklist runner: one command, one PASS/FAIL summary.

Each step shells out to the single-purpose tool, so the checklist
cannot diverge from what the tools actually do:

  1. full-registry parity at sf0.01 (every op against its DuckDB
     oracle, at the scale the driver contract certifies)
  2. full-registry parity at sf0.001 (the smallest fixture)
  3. driver-canonicalizer probe (sort + hash halves) on every op
  4. entry() smoke on a VANILLA local[8] session (rows + schema)
  5. pytest collect-only count >= EXPECTED_MIN_TESTS (the suite
     itself runs separately; this pins the COUNT, not just the exit
     code, so a silently dropped test file is loud)
  6. full-registry parity on the adversarial fixture: the
     hostile-values fixture is regenerated fresh (deterministic value
     pools) and every op must match DuckDB on it, so cross-engine
     agreement is shown to be a property of the expressions, not of
     the friendly fixture
  7. docs drift: regenerate OPERATORS.md + PLANS.md and fail if the
     working tree changes (a stale index must never ship)

Heavier evidence (sf0.1 sweeps, hostile session configs, bench) stays
manual: it needs judgment about machine load. This script is the
mechanical floor every change must clear.

Usage: python tools/round_close_check.py
Exit 0 = all steps green.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PY = sys.executable

# Floor for step 5: the suite had this many tests when the floor was
# last raised. Raise it whenever tests are added; a collect run BELOW
# it means a file silently fell out of collection.
EXPECTED_MIN_TESTS = 1061


def run(label: str, cmd: list[str]) -> tuple[str, bool, str]:
    try:
        p = subprocess.run(
            cmd, cwd=REPO, capture_output=True, text=True, timeout=7200
        )
    except subprocess.TimeoutExpired:
        # a hung step is a FAIL row, not a checklist crash
        return label, False, "timeout after 7200s"
    if p.returncode == 0:
        tail = (p.stdout or p.stderr).strip().splitlines()
        return label, True, tail[-1] if tail else ""
    # on failure the real error is usually on stderr — prefer it, but
    # keep the stdout tail too so a tool that reports failures on
    # stdout (e.g. parity_sweep's MISMATCH lines) stays visible
    err_tail = [ln for ln in p.stderr.strip().splitlines() if ln.strip()]
    out_tail = [ln for ln in p.stdout.strip().splitlines() if ln.strip()]
    parts = [t[-1] for t in (err_tail, out_tail) if t]
    return label, False, " | ".join(parts)


def main() -> None:
    steps = [
        (
            "full registry parity @ sf0.01",
            [PY, "tools/parity_sweep.py", "/root/testdata/sf0.01"],
        ),
        (
            "full registry parity @ sf0.001",
            [PY, "tools/parity_sweep.py", "/root/testdata/sf0.001"],
        ),
        (
            "driver canon probe (sort+hash)",
            [PY, "tools/driver_canon_probe.py", "/root/testdata/sf0.001"],
        ),
        (
            "entry() smoke (vanilla session)",
            [
                PY,
                "-c",
                (
                    "import sys; sys.path.insert(0, %r);\n"
                    "from pyspark.sql import SparkSession\n"
                    "s = SparkSession.builder.master('local[8]').getOrCreate()\n"
                    "s.sparkContext.setLogLevel('ERROR')\n"
                    "import __spark_entry__ as E\n"
                    "rows = E.entry(s).collect()\n"
                    "assert rows and len(rows[0]) >= 2, rows\n"
                    "print(f'entry ok: {len(rows)} rows')"
                )
                % REPO,
            ],
        ),
        (
            "pytest collection intact",
            [PY, "-m", "pytest", "tests/", "--collect-only", "-q"],
        ),
        (
            "regen adversarial fixture",
            [PY, "tools/adversarial_fixture.py", "/tmp/spark_graft_adversarial"],
        ),
        (
            "full registry parity @ adversarial",
            [PY, "tools/parity_sweep.py", "/tmp/spark_graft_adversarial"],
        ),
        ("regen OPERATORS.md", [PY, "tools/gen_operators_md.py"]),
        ("regen PLANS.md", [PY, "tools/gen_plans_md.py"]),
        (
            "docs drift (tree clean after regen)",
            ["git", "diff", "--stat", "--exit-code",
             "OPERATORS.md", "PLANS.md"],
        ),
    ]
    results = [run(label, cmd) for label, cmd in steps]
    print()
    ok = True
    for label, good, tail in results:
        if label == "pytest collection intact" and good:
            # exit 0 is not enough: compare the COLLECTED COUNT
            # against the pinned floor (a dropped file still exits 0)
            m = re.search(r"(\d+) tests collected", tail)
            count = int(m.group(1)) if m else -1
            good = count >= EXPECTED_MIN_TESTS
            tail = f"{count} tests collected (floor {EXPECTED_MIN_TESTS})"
        print(f"[{'PASS' if good else 'FAIL'}] {label}: {tail}")
        ok &= good
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

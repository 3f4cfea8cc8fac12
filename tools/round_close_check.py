#!/usr/bin/env python
"""Round-close checklist runner — one command, one PASS/FAIL summary.

Encodes the pre-close protocol SURVEY §7.4 hands from round to round
(so it stops drifting between sessions):

  1. driver-window parity (first N registry ops) at sf0.01
  2. full-registry parity at sf0.001 (cheap full-surface pass)
  3. driver-canonicalizer probe (sort + hash halves) on every op
  4. entry() smoke on a VANILLA local[8] session (rows + schema)
  5. pytest collect-only count >= EXPECTED_MIN_TESTS (the suite
     itself runs separately — this pins the COUNT, not just the exit
     code, so a silently-dropped test file is loud; round-7 ADVICE)
  6. adversarial-fixture parity over the certification window: the
     hostile-values fixture is regenerated fresh (deterministic value
     pools) and the window ops must match DuckDB on it, so the
     window's cross-engine agreement is re-proven each round to be a
     property of the EXPRESSIONS, not of the friendly fixture
     (round-8 addition; previously a manual sweep)
  7. docs drift: regenerate OPERATORS.md + PLANS.md and fail if the
     working tree changes (VERDICT r7 item 4 — two r7 commits were
     manual line-number refreshes; a stale index must never ship)
  8. cert-age ledger: recompute latest-green per op from the
     CORRECTNESS_r*.json files and fail if any op's cert age would
     exceed 6 rounds after the upcoming round, any latest row is red,
     or the staged front window deviates from the §7.4g rotation
     schedule (VERDICT r8 item 3 — the schedule can no longer drift
     silently between sessions; edited-op elevations are declared via
     CERT_AGE_ELEVATED, which this runner inherits from the env)
  9. edited-op elevation audit: hash every registered op's TRANSITIVE
     source (op function + package-internal helpers + oracle) against
     the previous driver drop's tree and fail if any changed-hash op
     is absent from CERT_AGE_ELEVATED ∪ the staged window (VERDICT r9
     item 3 — manual enumeration missed a shared-helper adopter;
     tools/op_change_check.py)

Heavier evidence (sf0.1 / adversarial sweeps, hostile combos, bench)
stays manual — it needs judgment about machine load; this script is
the mechanical floor every round must clear. Each step shells out to
the single-purpose tool so the checklist can't diverge from what the
tools actually do.

Usage: python tools/round_close_check.py [--window N]   (default 50)
Exit 0 = all steps green.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PY = sys.executable

# Floor for step 5: the suite had this many tests when the floor was
# last raised (r15: the pure-Python simhash reference, the
# connected-components star and long-path tests, and the registry
# import test). Raise it whenever tests are added; a collect run BELOW
# it means a file silently fell out of collection.
EXPECTED_MIN_TESTS = 1077

# Standing edited-op rule: ops whose CODE changed since the last driver
# drop sit in the window for a same-round re-cert; declared to
# cert_age_check (and to the live-repo tests in
# tests/test_cert_age_check.py and tests/test_op_change_check.py) via
# the CERT_AGE_ELEVATED env. tools/op_change_check.py computes the
# changed set mechanically. r15 (24 ops):
#   - the 21 r14 optimization/fix rewrites that got no r14 driver row:
#     the static spread_scan gate and single-evaluation pretrain dedup,
#     the occupancy-bounded candidate generators (llm/minhash.py,
#     sim_rp, incremental dedup), the fused batch_e2e audit, the fused
#     connected-components convergence flag, and the FLOOR(EPOCH) /
#     sql_epoch_s / CIK-residue fix wave;
#   - dedup_cluster_cc, dedup_eval_simhash_recall and
#     dedup_simhash_hamming: llm/simhash.py now builds the fingerprint
#     aggregates as SQL text, and llm/components.py folds the first
#     propagation step into the label init (dedup_simhash and
#     dedup_semantic_cluster, also affected, are among the 21).
ROUND_ELEVATIONS = (
    "dedup_cluster_cc,dedup_eval_simhash_recall,dedup_minhash_lsh,"
    "dedup_semantic_cluster,dedup_simhash,dedup_simhash_hamming,"
    "events_funnel,join_broadcast,join_range_between,"
    "pipeline_incremental_dedup,pipeline_pretrain_e2e,"
    "scan_python_datasource,sim_rp_lsh_cosine,"
    "stream_foreachbatch_upsert,stream_session_window,"
    "stream_watermark_late,tpcdi_batch_e2e,tpcdi_dim_trade,"
    "tpcdi_prospect_match,tpcdi_scd2_incremental,vec_covariance_matrix,"
    "vec_kmeans_refine,vec_pca_power_iteration,vec_pca_project"
)


def window_ops(n: int) -> list[str]:
    import __spark_entry__ as E

    return list(E.queries())[:n]


def run(label: str, cmd: list[str]) -> tuple[str, bool, str]:
    try:
        p = subprocess.run(
            cmd, cwd=REPO, capture_output=True, text=True, timeout=7200
        )
    except subprocess.TimeoutExpired:
        # a hung step is a FAIL row, not a checklist crash (r7 ADVICE)
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
    n = 50
    if "--window" in sys.argv:
        n = int(sys.argv[sys.argv.index("--window") + 1])
    ops = window_ops(n)

    steps = [
        (
            f"window[{n}] parity @ sf0.01",
            [PY, "tools/parity_sweep.py", "/root/testdata/sf0.01", *ops],
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
            f"window[{n}] parity @ adversarial",
            [PY, "tools/parity_sweep.py", "/tmp/spark_graft_adversarial", *ops],
        ),
        ("regen OPERATORS.md", [PY, "tools/gen_operators_md.py"]),
        ("regen PLANS.md", [PY, "tools/gen_plans_md.py"]),
        (
            "docs drift (tree clean after regen)",
            ["git", "diff", "--stat", "--exit-code",
             "OPERATORS.md", "PLANS.md"],
        ),
        (
            "cert-age ledger & rotation schedule",
            [PY, "tools/cert_age_check.py", "--window", str(n)],
        ),
        (
            "edited-op elevation audit",
            [PY, "tools/op_change_check.py", "--window", str(n)],
        ),
    ]
    os.environ.setdefault("CERT_AGE_ELEVATED", ROUND_ELEVATIONS)
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

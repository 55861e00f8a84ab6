"""One-command verification: every gate in the order the drivers run them.

Chains the seven checks documented in .claude/skills/verify/SKILL.md —
driver-contract simulation, full DuckDB oracle parity on the repo's
session, the same parity over every key under a VANILLA session
(``check_parity.py --vanilla``, the driver's session shape), the pytest
suite, the physical-plan audit, the docs-drift gate, and the same parity
over the ``SF01_KEYS`` at sf0.1 — each in a FRESH subprocess (the
external drivers are separate processes too, and a shared session would
mask conf-dependent bugs like the nanosAsLong runtime flip). Prints one
PASS/FAIL line per gate and exits non-zero if any gate fails. Runs are
sequential on purpose: scratch-dir materialization is safe per-process,
not cross-process.

Usage: python tools/verify_all.py [--fast]
  --fast skips the three long gates (parity, vanilla parity and
  parity-sf0.1) for a quick inner-loop check; a round must ship only
  after a FULL run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the keys whose plans earlier rounds tuned at sf0.1
SF01_KEYS = [
    "q_agg_groupby",
    "q_join_star",
    "q_agg_time_rollup",
    "q_stream_tumbling",
    "q_win_topk_group",
    "q_agg_count_distinct",
    "q_llm_exact_dedup",
    "q_llm_corpus_prep",
    "q_evt_sessionize",
    "q_llm_decontaminate",
    "q_cdc_merge",
    "q_llm_bigram_lm",
    "q_join_bloom",
    "q_llm_cms_topk",
    "q_evt_rfm",
    "q_llm_kl_divergence",
    "q_llm_pq_adc",
    "q_evt_survival",
    "q_stream_upsert_latest",
    "q_llm_span_removal",
    "q_tpch_q21ish",
    "q_llm_winnow",
    "q_llm_char_entropy",
    "q_llm_repetition",
    "q_tpch_q18_bucketed",
    "q_llm_minhash_bucketed",
]

_DRIVER_SIM = """
import sys
sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .appName("drv-sim").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
rows = e.entry(spark).collect()
assert len(rows) > 0, "entry() returned no rows"
qs, osql = e.queries(), e.oracle_sql()
assert set(osql) <= set(qs), "oracle keys not a subset of query keys"
missing = [k for k in qs if qs[k] is None]
assert not missing, missing
# one events-touching key through the vanilla session: exercises the
# nanosAsLong runtime conversion the real driver depends on
out = qs["q_agg_time_rollup"](spark, "/root/testdata/sf0.001").collect()
assert len(out) > 0
print(f"entry={len(rows)} rows, {len(qs)} queries, {len(osql)} oracles")
"""


def run(name: str, cmd: list[str], expect: str | None = None) -> bool:
    t0 = time.time()
    try:
        p = subprocess.run(
            cmd, cwd=REPO, capture_output=True, text=True, timeout=3600
        )
    except subprocess.TimeoutExpired:
        # a hung gate must report as FAIL, not abort the whole chain
        print(f"FAIL {name:12s} {time.time() - t0:6.1f}s  TIMEOUT (>3600s)")
        return False
    ok = p.returncode == 0 and (expect is None or expect in p.stdout)
    tail = (p.stdout.strip().splitlines() or [""])[-1]
    print(f"{'PASS' if ok else 'FAIL'} {name:12s} {time.time() - t0:6.1f}s  {tail}")
    if not ok and p.stderr:
        print((p.stderr.strip().splitlines() or [""])[-1])
    return ok


def main() -> int:
    fast = "--fast" in sys.argv
    py = sys.executable
    gates = [
        ("driver-sim", [py, "-c", _DRIVER_SIM % {"repo": REPO}], None),
        ("pytest", [py, "-m", "pytest", "tests/", "-x", "-q"], None),
        ("plan-audit", [py, "tools/audit_plans.py"], "0 flags"),
        ("docs-drift", [py, "tools/check_docs.py"], "0 undocumented, 0 stale"),
    ]
    if not fast:
        gates.insert(
            1, ("parity", [py, "tools/check_parity.py", "--strict-types"], " 0 fail")
        )
        # every key as the driver runs it (vanilla session, contract
        # import) — catches session-conf dependencies that get_spark-based
        # parity can mask
        gates.insert(
            2,
            (
                "vanilla",
                [py, "tools/check_parity.py", "--strict-types", "--vanilla"],
                " 0 fail",
            ),
        )
        gates.append(
            (
                "parity-sf0.1",
                [
                    "env",
                    "SF_DIR=/root/testdata/sf0.1",
                    py,
                    "tools/check_parity.py",
                    "--strict-types",
                    *SF01_KEYS,
                ],
                " 0 fail",
            )
        )
    results = [run(name, cmd, expect) for name, cmd, expect in gates]
    n_fail = results.count(False)
    print(json.dumps({"gates": len(results), "failed": n_fail, "fast": fast}))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

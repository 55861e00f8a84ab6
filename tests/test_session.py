"""Session construction: the generated-code cache holds the working set."""

from __future__ import annotations

import os
import subprocess
import sys

from token_burn_listener_spark.registry import QUERIES, load_all_modules

load_all_modules()

# The keys of perfbench's ``batch_mix`` workload.
BATCH_MIX_KEYS = (
    "q_agg_time_rollup",
    "q_evt_sessionize",
    "q_evt_gap_detection",
    "q_evt_chain_reorg",
    "q_evt_rfm",
    "q_evt_funnel",
    "q_llm_exact_dedup",
    "q_llm_corpus_prep",
    "q_llm_decontaminate",
)

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A fresh JVM whose first code generation runs on a thread that did not
# build the session, through ``df.rdd`` (``tables.spread_small_scan``
# takes that path): Spark plans and compiles it with no active session,
# so that thread sees Spark's default conf. Then 80 small queries, each
# compiling classes of its own, run twice; together they need more than
# Spark's default cache of 100 entries.
_SCRIPT = f"""
import sys, threading
sys.path.insert(0, {_ROOT!r})
from token_burn_listener_spark.session import get_spark

spark = get_spark("codegen-cache", cpus=2)
metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
compiles = metric.METRIC_COMPILATION_TIME()
parts = []
first = threading.Thread(
    target=lambda: parts.append(
        spark.range(8).selectExpr("id + 1").rdd.getNumPartitions()
    )
)
first.start()
first.join(timeout=300)
assert parts, "the first thread's Spark work did not finish"
deltas = []
for _ in range(2):
    before = compiles.getCount()
    for i in range(80):
        spark.range(8).selectExpr(f"id * {{i}} + {{i}} AS x").collect()
    deltas.append(compiles.getCount() - before)
print("deltas", *deltas)
"""


def test_codegen_cache_survives_first_touch_from_another_thread(tmp_path):
    """``get_spark`` sizes the code cache above 100 entries, and the size
    holds when a thread other than the session's builder is the first to
    generate code: a second run of the same queries compiles nothing."""
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    line = next(ln for ln in out.stdout.splitlines() if ln.startswith("deltas"))
    first, second = map(int, line.split()[1:])
    # the first run must overflow Spark's default cache, or the test
    # could not tell a sized cache from the default
    assert first > 100, line
    assert second == 0, line


def test_batch_mix_second_pass_compiles_nothing(spark, sf_dir, codegen_compiles):
    """A second pass of the ``batch_mix`` keys finds every generated class
    in the code cache."""

    def run_pass():
        for key in BATCH_MIX_KEYS:
            QUERIES[key](spark, sf_dir).toPandas()

    codegen_compiles(run_pass)
    _, second = codegen_compiles(run_pass)
    assert second == 0, f"second pass compiled {second} classes"

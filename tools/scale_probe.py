"""Empirical scale-up probe: do the headline plans scale linearly?

Synthesizes an N×-scaled copy of the sf0.1 fixtures in scratch (union of
N deterministic key-shifted copies — same value distributions, N× rows),
then times a set of headline queries at 1× and N× and reports the
wall-clock scaling factor per query. A plan that survives 100 TB should
scale ≈ linearly here (factor ≈ N on a fixed-core machine, < N when the
1× run underutilizes the cores); a super-linear factor exposes a hidden
O(n²), a broadcast that stopped fitting, or a skew collapse.

This is a MEASUREMENT tool, not a fixture: queries()/oracles never read
these copies (the driver contract still runs on /root/testdata only).

Usage: python tools/scale_probe.py [N] [key,key,...] [table,table,...]
                                   [--perturb-docs | --entropy-docs]
       (default N=10, all PROBE_KEYS, all tables)

``--perturb-docs`` builds the scaled ``documents`` copies with
CONTRACT-RESPECTING text (r10, VERDICT r9 #4): plain key-shifted copies
carry IDENTICAL text, so every shingle hash becomes duplicated and any
dup-DETECTION key degenerates to its output-bound worst case ("the
duplicated set is the minority" contracts are maximally violated —
the r9 dup_spans/span_removal readings). Under the flag, copy 0 keeps
the original text and every other copy keeps only the first ~7% of
tokens verbatim, tagging the rest with the copy ordinal — so each doc
contributes ONE duplicated span of ~7% of its length and the duplicated
shingle set stays the small minority the plans were shaped for.

``--entropy-docs`` (r11, VERDICT r10 #4) rebuilds the scaled
``documents`` text from a HIGH-ENTROPY vocabulary: every (doc, copy)
gets its own deterministic xxhash64 token ids from a 2^40 vocabulary, so
the background shingle Jaccard drops to the real-crawl regime the
banded-LSH contract assumes (MEASURED on the ×1 build, 120-doc sample,
all pairs: mean 0.0103 / p90 0.0168 / max 0.0254 — vs the fixture
prose's 0.17), while every 50th base doc plants one near-dup PAIR per
two copies (copies 2k/2k+1 share their first ~80% of tokens — measured
char-shingle J ≈ 0.688, above the 0.4 gate) so the true-positive set is
linear in N and never cliques. This is the ONLY corpus the banded
PRODUCTION keys (minhash_exact, minhash_steep) may be ×N-probed on; their
exact-twin AUDIT keys (jaccard_pairs, lsh_recall) stay out of ×N probes
entirely — their crossJoin pair grids are O(n²) BY DESIGN (the
documented fixture-scale oracle baseline, SURVEY §7.4). Under this flag
the 1× baseline is the ×1 entropy build, not SF_DIR, so both sides of
the factor see the same text distribution.

The optional 2nd/3rd args run a TARGETED probe: only the listed keys,
building only the listed tables in the N×-scaled root — the 100× probe
of the flagship text path (VERDICT r7 #5) scales documents alone
(sf0.1 ×100 ≈ 500k docs / ~500 MB text) instead of paying for a 60 M-row
lineitem nobody reads:

    python tools/scale_probe.py 100 q_llm_exact_dedup,q_llm_corpus_prep documents
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from token_burn_listener_spark.registry import QUERIES, load_all_modules
from token_burn_listener_spark.scratch import SCRATCH_ROOT
from token_burn_listener_spark.session import get_spark

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.1")

# (table, unique-key columns to shift per copy so keys stay unique)
TABLES = {
    "region": [],  # dims replicate unshifted (stay broadcast-sized)
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": [],
    # part replicates UNSHIFTED like the other dims: lineitem.l_partkey is
    # never shifted, so shifted part copies would be dangling and distort
    # any part-join probe's selectivity
    "part": [],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

PROBE_KEYS = [
    "q_agg_groupby",
    "q_join_star",
    "q_agg_time_rollup",
    "q_agg_count_distinct",
    "q_llm_exact_dedup",
    "q_llm_corpus_prep",
    "q_evt_sessionize",
    "q_cdc_merge",
    # r5 decimal-fold analytics: explode-heavy token shuffle (KL), per-user
    # window + bounded rollup (survival), broadcast-codebook encode (PQ)
    "q_llm_kl_divergence",
    "q_evt_survival",
    "q_llm_pq_adc",
    # r6 additions: the block-local gap detector (its output tracks MISSING
    # data, so the probe checks the detection machinery scales with input,
    # not gaps) and the first-seen cumulative-uniques (the documented
    # days×corpus trap — the probe proves the one-pass form stays linear)
    "q_evt_gap_detection",
    "q_evt_cumulative_uniques",
    # r7 (VERDICT r6 #7): the first STREAMING probe — keyed stateless
    # upsert through the real availableNow harness (4 rate-limited
    # micro-batches + merge-on-read compaction). Extends the empirical
    # scale record to the stream axis: per-batch work must scale with
    # batch rows while the ~2.2 s machinery floor (bench.py) stays fixed.
    "q_stream_upsert_latest",
    # r8 axes: the runtime-filter join (bitmap is fact-size-independent,
    # so its factor should stay ~flat), the salted skew join (event_type
    # is a FIXED 4-value domain, so ×N makes each hot key N× hotter —
    # the one probe where scaling INCREASES skew), and pivot over the
    # same fixed domain (map-side collapse into an unchanged grid)
    "q_join_bloom",
    "q_join_salted",
    "q_agg_pivot",
    # r9 (VERDICT r8 #3): extend the 1000× record to the streaming and
    # embedding axes — the windowed stateful stream (tumbling), and the
    # three embedding production paths (broadcast-query kNN, probe-2 IVF,
    # fixed-64-group centroids). embeddings is tiny at sf0.1 (2k rows),
    # so these probe at ×1000 = 2 M vectors routinely.
    "q_stream_tumbling",
    "q_llm_knn_query",
    "q_llm_ivf_search",
    "q_llm_centroids",
    # r10 (VERDICT r9 #5): the stateful-streaming tail — RocksDB-backed
    # state, event-time session windows, stream-stream interval join,
    # watermarked dedup. NOTE: the span dup-DETECTION keys (dup_spans,
    # span_removal, subdoc_dup, decontaminate) are probed TARGETED with
    # --perturb-docs only — on plain key-shifted copies every doc is
    # duplicated N× and the detection degenerates to its output-bound
    # worst case (a contract violation, not a plan). The banded-LSH keys
    # (minhash_exact, minhash_steep) must NOT be ×N-probed on key-shifted
    # prose copies, perturbed or not: the synthetic fixture's background
    # shingle Jaccard is 0.17 (measured, SCALE.md r10), so ~11% of ALL
    # pairs band-collide by spec and candidates are Θ(n²) at any N —
    # the corpus lacks the contrast the production contract assumes
    # (real-crawl J_bg ≈ 0.01). Since r11 they get honest ×N rows via
    # the TARGETED --entropy-docs corpus (see the module docstring and
    # q_llm_minhash_exact's docstring).
    "q_stream_rocksdb",
    "q_stream_session",
    "q_stream_stream_join",
    "q_stream_dedup",
]

# Streaming probes get one UNTIMED warm call per root first: the first
# invocation materializes the N×-scaled replay files (a one-time scratch
# build, not the plan under test); checkpoints are fresh per call
# (fresh_run_dir), so the timed run still replays the full stream.
# r10 (VERDICT r9 #5): the stateful tail — RocksDB state store, session
# windows, stream-stream join, and streaming dedup — joins the probe set.
STREAM_KEYS = {
    "q_stream_upsert_latest",
    "q_stream_tumbling",
    "q_stream_rocksdb",
    "q_stream_session",
    "q_stream_stream_join",
    "q_stream_dedup",
}


def build_scaled(
    spark,
    n: int,
    tables: dict[str, list[str]],
    perturb_docs: bool = False,
    entropy_docs: bool = False,
) -> str:
    # keyed on the SOURCE fixture path too: a cached copy built from a
    # different SF_DIR must never be silently reused; targeted builds
    # (table subset) get their own root so a later full build never
    # mistakes the subset dir for complete
    import hashlib

    tag = hashlib.sha1(os.path.abspath(SF_DIR).encode()).hexdigest()[:10]
    if set(tables) != set(TABLES):
        tag += "_" + "-".join(sorted(tables))
    if perturb_docs:
        tag += "_perturbed"
    if entropy_docs:
        tag += "_entropy"
    out = f"{SCRATCH_ROOT}/scale_probe_{tag}_x{n}"
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    for t, shift_cols in tables.items():
        df = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
        if not shift_cols:
            df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
            continue
        # key stride larger than any fixture key keeps copies disjoint;
        # the N copies come from ONE explode(sequence(0, N-1)) multiplier,
        # not an N-way union — a 1000-branch union plan takes Catalyst
        # minutes to analyze, while the explode form keeps the build plan
        # 2 nodes deep at any N (this is what unlocked the 1000x probes).
        # Repartition BEFORE the explode: a 10 MB fixture parquet scans as
        # ~3 tasks, and the ×N multiplication happens inside the scan
        # tasks — at N=1000 one straggler task was writing most of a
        # 600 M-row table (measured: lineitem build stuck >8 min at 3
        # tasks; 64-way pre-spread finishes in ~1 min and removes the
        # post-explode exchange, so each task writes its own ×N slice).
        stride = 10_000_000
        copies = df.repartition(64).select(
            F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("_copy"), "*"
        )
        for col in shift_cols:
            copies = copies.withColumn(
                col,
                F.col(col) + F.col("_copy").cast("long") * F.lit(stride),
            )
        if perturb_docs and t == "documents":
            # contract-respecting text (see module docstring): copy 0
            # verbatim; other copies share only the first ~7% of tokens
            # with it, the rest tagged per-copy so cross-copy shingles
            # in the tail can never collide. The token array is pinned
            # behind an explode(array(e)) Generate barrier so the
            # size()-derived keep count inside the lambda reads a bound
            # attribute (O(1)/element) instead of re-splitting the text
            # per token (O(L²)/doc at a 5 M-doc build).
            cols = [c for c in copies.columns if c != "text"]
            copies = copies.select(
                *cols,
                F.explode(F.array(F.split("text", " "))).alias("_toks"),
            ).withColumn(
                "text",
                F.when(
                    F.col("_copy") == 0, F.array_join("_toks", " ")
                ).otherwise(
                    F.expr(
                        "array_join(transform(_toks, (tok, i) ->"
                        " CASE WHEN i < ceil(size(_toks) * 0.07)"
                        "      THEN tok"
                        "      ELSE concat(tok, '~c', CAST(_copy AS STRING))"
                        " END), ' ')"
                    )
                ),
            ).drop("_toks")
        if entropy_docs and t == "documents":
            # high-entropy vocabulary (see module docstring): every
            # (base doc, copy) draws deterministic xxhash64 token ids
            # from a 2^40 vocabulary — background shingle Jaccard ~1e-3;
            # every 50th BASE doc plants a near-dup pair per two copies
            # (copies 2k/2k+1 hash with the same group id for the first
            # ~80% of positions). The original token array only supplies
            # realistic per-doc LENGTHS; it is pinned behind the same
            # Generate barrier as the perturb branch so size(_toks) in
            # the lambda is an O(1) attribute read. The base id strips
            # the copy shift (stride is a multiple of 50, so the plant
            # predicate is copy-invariant either way).
            cols = [c for c in copies.columns if c != "text"]
            copies = copies.select(
                *cols,
                F.explode(F.array(F.split("text", " "))).alias("_toks"),
            ).withColumn(
                "text",
                F.expr(
                    "array_join(transform(_toks, (tok, i) -> concat('w',"
                    " CAST(CASE WHEN (doc_id % 10000000) % 50 = 0"
                    "            AND i < ceil(size(_toks) * 0.8)"
                    "      THEN abs(xxhash64(doc_id % 10000000,"
                    "                        _copy div 2, i))"
                    "           % 1099511627776"
                    "      ELSE abs(xxhash64(doc_id % 10000000, _copy, i))"
                    "           % 1099511627776 END AS STRING))), ' ')"
                ),
            ).drop("_toks")
        copies.drop("_copy").write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )
    with open(os.path.join(out, "_DONE"), "w") as f:
        f.write("ok")
    return out


def _oldest_live_java_start() -> float | None:
    """Epoch start time of the OLDEST live JVM-ish process, via /proc
    (btime + stat field 22 / SC_CLK_TCK). None if no JVM is running.

    A process counts as JVM-ish if its comm is "java" OR its cmdline
    mentions java/spark — a Spark driver under a renamed launcher must
    still pin the cutoff (missing it would re-create the swept-live-JVM
    incident through a different blind spot). The inverse cost of the
    broad match — an ancient unrelated java daemon pinning the cutoff
    and disabling reclaim — errs in the safe direction (sweep less)."""
    import glob as _glob

    boot = None
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("btime"):
                boot = float(line.split()[1])
                break
    if boot is None:
        return 0.0  # can't date processes: treat every JVM as ancient
    hz = os.sysconf("SC_CLK_TCK")
    starts = []
    for pid_dir in _glob.glob("/proc/[0-9]*"):
        try:
            with open(os.path.join(pid_dir, "comm")) as f:
                is_jvm = f.read().strip() == "java"
            if not is_jvm:
                with open(os.path.join(pid_dir, "cmdline"), "rb") as f:
                    cmd = f.read().lower()
                is_jvm = b"java" in cmd or b"spark" in cmd
            if not is_jvm:
                continue
            if os.path.realpath(pid_dir) == f"/proc/{os.getpid()}":
                continue  # this probe's own cmdline mentions spark
            with open(os.path.join(pid_dir, "stat")) as f:
                # fields after the parenthesised comm; overall field 22
                # (starttime, clock ticks since boot) is index 19 here
                fields = f.read().rsplit(")", 1)[1].split()
            starts.append(boot + float(fields[19]) / hz)
        except (OSError, IndexError, ValueError):
            continue
    return min(starts) if starts else None


def preflight_sweep(tmp_root: str = "/tmp") -> None:
    """Sweep ORPHANED Spark scratch (blockmgr-*, spark-*) before a big
    build (VERDICT r12 #8): the r12 1 B-row events probe hit ENOSPC
    because a dead verification JVM had left ~35 GB of shuffle blocks in
    the JVM temp dir — Spark only cleans its local dirs on a clean JVM
    exit.

    Liveness rule (learned the hard way — an open-fd check alone swept a
    LIVE parity JVM's blockmgr mid-run and mass-failed it: an idle JVM
    holds no fds under its local dirs): Spark creates fresh-uuid local
    dirs at JVM startup and never adopts pre-existing ones, so a dir
    whose mtime predates the oldest live java process (60 s margin)
    provably belongs to a dead JVM — a dir's mtime is set at creation and
    only ever moves forward, so mtime < any live JVM's start means the
    dir was created before every live JVM existed. Only those are swept;
    with no JVM running, everything matches. Errors are non-fatal — the
    sweep is a best-effort disk reclaim, not a gate."""
    import glob as _glob
    import shutil as _shutil

    candidates = [
        d
        for pat in ("blockmgr-*", "spark-*")
        for d in _glob.glob(os.path.join(tmp_root, pat))
        if os.path.isdir(d)
    ]
    if not candidates:
        return
    oldest = _oldest_live_java_start()
    cutoff = time.time() if oldest is None else oldest - 60.0
    for d in candidates:
        try:
            st = os.stat(d)
            if st.st_mtime >= cutoff:
                continue  # could belong to a live JVM — never touch
        except OSError as exc:
            print(f"preflight: sweep of {d} failed: {exc}", file=sys.stderr)
            continue
        # size is log decoration only — a dangling symlink or unreadable
        # entry must never abort the reclaim itself
        size = 0
        for r, _, fs in os.walk(d):
            for f in fs:
                try:
                    size += os.lstat(os.path.join(r, f)).st_size
                except OSError:
                    pass
        _shutil.rmtree(d, ignore_errors=True)
        print(
            f"preflight: swept orphaned {d} ({size / 1e6:.0f} MB)",
            file=sys.stderr,
        )


def force(df) -> str:
    """Execute the FULL plan without driver-side row transfer: hash every
    output column of every row into one XOR-folded scalar. ``count()`` is
    not enough — Catalyst prunes columns a count never reads, so a
    pure-projection query optimizes to a parquet metadata count that
    evaluates nothing (the r9 methodology fix; see the timing-loop
    comment). xxhash64 over a struct of all columns forces every
    expression; the aggregate keeps rows distributed.

    The fold is ``bit_xor``, NOT ``sum`` (r10 fix, ADVICE r9): summing
    uniformly-distributed int64 hashes overflows almost immediately, and
    under this repo's ANSI sessions that throws ARITHMETIC_OVERFLOW —
    which the old broad except then "handled" by falling back to
    count(), silently reintroducing the exact column-pruning hole the r9
    fix existed to close (and folding the aborted attempt into the timed
    value). XOR is closed over int64, so the full-evaluation path can no
    longer fail by overflow; the count() fallback survives only for
    output types xxhash64 cannot hash (a MAP output would be one).

    Returns the action actually used ("xxhash64" | "count") so callers
    record it in the report JSON instead of trusting stderr scrollback.
    """
    try:
        df.select(F.bit_xor(F.xxhash64(F.struct(*df.columns)))).collect()
        return "xxhash64"
    except Exception as exc:
        print(f"force: xxhash64 fallback to count(): {exc}",
              file=sys.stderr)
        df.count()
        return "count"


def main() -> int:
    perturb = "--perturb-docs" in sys.argv
    if perturb:
        sys.argv.remove("--perturb-docs")
    entropy = "--entropy-docs" in sys.argv
    if entropy:
        sys.argv.remove("--entropy-docs")
    if perturb and entropy:
        print("--perturb-docs and --entropy-docs are exclusive corpus"
              " contracts", file=sys.stderr)
        return 2
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    keys = sys.argv[2].split(",") if len(sys.argv) > 2 else PROBE_KEYS
    # validate BEFORE the Spark session and the expensive N× build: a
    # typo'd key/table should fail in milliseconds, not after minutes
    bad_tables = (
        [t for t in sys.argv[3].split(",") if t not in TABLES]
        if len(sys.argv) > 3
        else []
    )
    if bad_tables:
        print(f"unknown tables: {bad_tables} (have: {sorted(TABLES)})",
              file=sys.stderr)
        return 2
    tables = (
        {t: TABLES[t] for t in sys.argv[3].split(",")}
        if len(sys.argv) > 3
        else TABLES
    )
    load_all_modules()
    bad_keys = [k for k in keys if k not in QUERIES]
    if bad_keys:
        print(f"unknown probe keys: {bad_keys}", file=sys.stderr)
        return 2
    preflight_sweep()  # reclaim dead-JVM scratch BEFORE the N× build
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    scaled = build_scaled(
        spark, n, tables, perturb_docs=perturb, entropy_docs=entropy
    )
    # the 1× side: SF_DIR normally; under --entropy-docs the ×1 entropy
    # build, so numerator and denominator see the same text distribution
    # (SF_DIR prose has J_bg 0.17 — comparing against it would divide an
    # entropy-corpus timing by a degenerate-corpus timing)
    base_root = (
        build_scaled(spark, 1, tables, entropy_docs=True) if entropy
        else SF_DIR
    )
    # warm both roots (footer/FS init outside the timings, like bench.py)
    for root in (base_root, scaled):
        for t in tables:
            spark.read.parquet(f"{root}/{t}.parquet").count()
    report = {}
    for k in keys:
        fn = QUERIES[k]
        if k in STREAM_KEYS:
            force(fn(spark, base_root))
            force(fn(spark, scaled))
        # force(), not collect() and not count() (r9 methodology fix):
        # - collect() would time driver-side row transfer for keys whose
        #   OUTPUT grows with input (sessionize/cdc_merge emit one row
        #   per (user, session)/key — measured: ~7 s of a 9 s "10x
        #   sessionize" was collecting 950k rows).
        # - count() has the OPPOSITE hole: Catalyst prunes columns the
        #   count doesn't need, so a pure-projection key (no
        #   filter/join/agg/generator above the scan) collapses to an
        #   empty Project over the parquet relation — a METADATA count
        #   that never evaluates the projected expressions (caught r9:
        #   quality_score "probed" 5 M docs in 0.33 s; the optimized
        #   count-plan was 3 lines with an empty Project).
        # force() hashes every output column into one sum — every
        # expression evaluates, rows stay distributed, one scalar moves.
        t0 = time.perf_counter()
        act_base = force(fn(spark, base_root))
        base = time.perf_counter() - t0
        t0 = time.perf_counter()
        act_big = force(fn(spark, scaled))
        big = time.perf_counter() - t0
        report[k] = {
            "t_1x": round(base, 3),
            f"t_{n}x": round(big, 3),
            "factor": round(big / base, 2),
            # which action each timing actually executed: a "count" here
            # means the reading may be hollow (column-pruned) — the JSON
            # carries it so a fallback can never hide in stderr scrollback
            "action": (
                act_base if act_base == act_big else f"{act_base}/{act_big}"
            ),
        }
        # an N×-run finishing faster than its own 1× run is the signature
        # of a hollow action (the r9 "CORRECTED" table was re-hollowed by
        # exactly this, via the overflow fallback) — flag it in the JSON
        if big < base:
            report[k]["hollow_flag"] = (
                f"{n}x ran faster than 1x — verify the action evaluates "
                "the full plan"
            )
        print(f"probe {k}: 1x={base:.2f}s {n}x={big:.2f}s "
              f"factor={big / base:.2f} action={report[k]['action']}",
              file=sys.stderr)
    print(json.dumps({"n": n, "perturb_docs": perturb, "queries": report}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Physical-plan audit: sweep every registered query for scale anti-patterns.

Flags, per key:
- ``Exchange SinglePartition`` — a global single-task shuffle (the r1
  weakness class). Allowed only where a bounded row count reaches it
  (documented top-k/limit shapes and tiny prefix-offset aggregates).
- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` on unbounded inputs —
  allowed only for the documented O(n²) exact-oracle keys and true
  theta-join demos.
- ``BatchEvalPython`` / ``ArrowEvalPython`` etc. outside the B11 UDF keys —
  Python in a hot path is an optimizer barrier.
- repeated same-table scans (≥4 in the STATIC plan) — a DataFrame
  referenced by several branches re-expands its whole subtree per
  reference, silently multiplying corpus scans at 100 TB. AQE's runtime
  exchange reuse merges only some duplicates (measured: 2 of 4 on the r5
  KL key), so single-scan must be a plan property: pin shared bounded
  intermediates with ``localCheckpoint(eager=False)`` (the Spark analog
  of a MATERIALIZED CTE). 2-3 static scans (data pass + bounds/point
  pass) are the accepted house shapes.

Streaming keys are skipped (their sinks execute eagerly; plan inspection
happens on the batch twins). Exit 1 if any UNDOCUMENTED pattern appears.

Usage: python tools/audit_plans.py [key_prefix ...]
"""

from __future__ import annotations

import collections
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from token_burn_listener_spark.operators.storage import _plan
from token_burn_listener_spark.registry import QUERIES, load_all_modules
from token_burn_listener_spark.session import get_spark

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")

# Keys whose plans legitimately contain a bounded single-partition exchange:
# a limit-k, 1-row-aggregate, or #partitions-row input reaches it (see each
# docstring). Three recurring shapes, each scale-safe by construction:
#   [final-agg]  partial→final global aggregate: ONE row per upstream
#                partition crosses the exchange (the partials), never data.
#   [prefix]     ranking.py prefix-offset machinery: the exchange carries
#                the #partitions-row count aggregate, not the ranked rows.
#   [rollup-win] a global window whose input is a bounded rollup (model /
#                vocabulary / grid), never the corpus rows.
ALLOW_SINGLE_PARTITION = {
    "q_limit",          # 100-row TakeOrderedAndProject result
    "q_topk_global",    # 10-row result
    "q_join_star",      # 10-row result
    "q_llm_cosine_topk",  # 20-row result
    "q_llm_knn_query",  # 10-row result
    "q_sort_multi",     # [prefix]
    "q_win_ntile",      # [prefix] + 1-row total-count broadcast
    "q_win_pct",        # [prefix]
    "q_llm_ann_lsh",    # approxNearestNeighbors internal bounded top-k
    # --- r5: the formatted-mode detector fix surfaced these (the literal
    # "Exchange SinglePartition" never appears in formatted explain output,
    # so the old check matched nothing). All verified bounded:
    "q_agg_global",     # [final-agg] the key IS a global aggregate
    "q_diag_join_skew",  # [final-agg] 1-row skew-metric summary
    "q_sub_scalar",     # [final-agg] the scalar subquery's 1-row agg
    "q_tpch_q6ish",     # [final-agg] 1-row revenue sum
    "q_tpch_q14ish",    # [final-agg] 1-row promo share
    "q_tpch_q19ish",    # [final-agg] 1-row bracket revenue
    "q_tpch_q11ish",    # [final-agg] 1-row value threshold
    "q_tpch_q15ish",    # [final-agg] 1-row max supplier revenue
    "q_tpch_q17ish",    # [final-agg] 1-row avg-qty threshold sum
    "q_tpch_q22ish",    # [final-agg] 1-row avg account balance
    "q_scan_text",      # [final-agg] round-trip count check
    "q_scan_csv_corrupt",  # [final-agg] quarantine-count summary
    "q_evt_funnel",     # [final-agg] one 1-row stage-count agg, inlined
                        # into the three stage rows
    "q_evt_resample",   # [final-agg] 1-row ts-bounds agg for the grid
    "q_evt_windowed_funnel",  # [final-agg] per-stage deadline counts
    "q_evt_rfm",        # [final-agg] 1-row max-ts + 6-value tercile row
    "q_evt_pareto",     # [final-agg] 1-row p90 threshold + total
    "q_diag_dq_checks",  # [final-agg] four 1-row contract checks
    "q_graph_triangles",  # [final-agg] 1-row triangle count
    "q_graph_pagerank",  # [final-agg] 1-row node count per iteration
    "q_llm_lsh_recall",  # [final-agg] two 1-row pair counts
    "q_llm_ann_recall",  # [final-agg] 1-row candidate/hit counts
    "q_llm_embedding_coverage",  # [final-agg] 1-row coverage counts
    "q_llm_lang_id",    # [final-agg] 1-row vocab-size agg
    "q_llm_heaps_law",  # [final-agg] quartile-boundary 1-row aggs
    "q_llm_leak_check",  # [final-agg] 1-row leakage summary
    "q_llm_tfidf_exact",  # [final-agg] 1-row corpus doc count
    "q_llm_bigram_lm",  # [rollup-win] smoothing window over charset² model
    "q_llm_dsir",       # [rollup-win] same bounded bigram-LR model
    "q_llm_zipf",       # [rollup-win] rank window over the vocab rollup
                        # (Heaps-bounded ~√corpus) + 1-row regression agg
    "q_llm_ccnet_buckets",  # [prefix] global_row_number offsets + model win
    "q_llm_global_shuffle",  # [prefix] the pattern's defining user
    "q_llm_curriculum",  # [prefix] two global_row_number passes + 3-row
                         # phase-offset broadcast
    "q_llm_temperature_mix",  # [final-agg] 1-row Σ√n denominator
    "q_llm_bm25",  # [final-agg] 1-row corpus stats (N, avgdl, df per term)
    "q_llm_dataset_card",  # [final-agg] the key IS a 1-row corpus datasheet
    "q_evt_funnel_latency",  # [final-agg] 1-row latency summary
    "q_llm_kl_divergence",  # [final-agg] 1-row corpus-total denominator
    "q_llm_pmi_collocations",  # [final-agg] 1-row bigram/unigram totals +
                               # rank window over the 20-row top slice
    "q_evt_survival",   # [rollup-win] cum windows over the bounded hour
                        # grid (≤ corpus-span hours) + 1-row corpus-end agg
    "q_llm_pq_adc",     # [final-agg] 10-row ADC result + 1-row hit count
    "q_evt_changepoint",  # [rollup-win] cum window over the bounded day
                          # grid + 1-row mean/max aggs
    "q_evt_chain_reorg",  # [final-agg] 1-row tip-height agg (the walk is
                          # one driver collect of the confirmation window)
    "q_evt_xcorr",        # [final-agg] 1-row grid bounds + 25-row lag dim;
                          # all windows on the calendar-bounded lag table
    "q_evt_profile_similarity",  # [final-agg] 1-row query-id/norm aggs +
                                 # 10-row top-k result
    "q_diag_table_stats",  # [final-agg] the key IS a 1-row wide profile
                           # aggregate, unioned per column
    "q_evt_gap_detection",  # [rollup-win] merge + rank windows over the
                            # SPARSE gap list (missing-data-sized) +
                            # 1-row bounds agg
    "q_diag_column_entropy",  # [final-agg] per-column totals over the
                              # NDV-sized count table
    "q_llm_kneser_ney",  # [final-agg] 3-row context slice (TakeOrdered)
                         # + 1-row bigram-type total
    "q_evt_cumulative_uniques",  # [rollup-win] cum window over the
                                 # calendar-bounded day grid + 1-row bounds
    "q_llm_matryoshka_recall",  # [final-agg] 1-row n_prefix_ranked/n_hits
                                # counts over the pinned skinny scores
    "q_llm_anisotropy",  # [final-agg] one 1-row agg over the 64-dim sums
                         # (ssq + diagonal + n in a single pass)
    "q_llm_vocab_coverage",  # [rollup-win] global_row_number's prefix-
                             # offset window over the <=32-row partition-
                             # count table (same shape as q_llm_zipf)
}

# Documented O(n²)/nested-loop keys (SURVEY.md §7.4 exceptions + theta demos).
ALLOW_NESTED_LOOP = {
    "q_join_cross",        # 5×25 dims
    "q_join_theta",        # banded inequality join demo (broadcast side small)
    "q_llm_cosine_topk",   # brute-force oracle baseline
    "q_llm_jaccard_pairs", # exact-Jaccard oracle baseline
    "q_llm_dedup_survivors",  # same exact pair join (LSH is the scale path)
    "q_llm_dup_clusters",  # exact cosine pair join feeding components
    "q_llm_emb_near_dup",  # exact-cosine oracle baseline
    "q_sub_scalar",        # scalar-subquery reuse joins as BNLJ on 1-row side
    "q_agg_global",        # 1-row agg × anything
    "q_win_ntile",         # broadcast crossJoin of a 1-row total-count agg
    "q_win_pct",           # same (ranking.py with_total_count)
    "q_llm_lang_id",       # broadcast crossJoin of 5-row lang dim + 1-row vocab
    "q_tpch_q11ish",       # broadcast crossJoin of the 1-row threshold agg
    "q_tpch_q22ish",       # broadcast crossJoin of the 1-row avg-balance agg
    "q_evt_resample",      # grid build: 1-row bounds × 5-row type dim
    "q_llm_kmeans",        # init: TakeOrdered k rows; centroids are literals
    "q_llm_knn_classify",  # bounded 20-row probe batch broadcasts vs corpus
    "q_llm_hard_negatives",  # bounded 50-anchor slice broadcasts vs corpus
    "q_llm_ccnet_buckets",   # broadcast crossJoin of the 1-row total-count agg
                             # (ranking.with_total_count, same as q_win_ntile)
    "q_graph_pagerank",      # broadcast crossJoin of the 1-row node-count agg
                             # per iteration (with_total_count); edge gen is
                             # the checkpointed exact-cosine oracle twin
    "q_evt_rfm",             # broadcast crossJoin of two 1-row aggs (corpus
                             # max-ts + the 6-value tercile boundary row)
    "q_evt_rolling_active",  # day-grid range join: the broadcast side is the
                             # bounded DISTINCT-days grid (<=7x fan-out)
    "q_diag_dq_checks",      # crossJoin of four broadcast 1-row check aggs
    "q_evt_pareto",          # broadcast crossJoin of the 1-row p90 threshold agg
    "q_llm_tfidf_exact",     # broadcast crossJoin of the 1-row corpus-count agg
    "q_llm_lsh_recall",      # recall audit: sampled exact-pair denominator is
                             # the documented fixture-scale brute force; the
                             # found side stays banded equi-joins
    "q_llm_ann_recall",      # recall audit: broadcast crossJoin of the 1-row
                             # query vector + brute-force top-10 denominator
    "q_llm_temperature_mix",  # broadcast crossJoin of the 1-row Σ√n agg
    "q_llm_bm25",  # broadcast crossJoin of the 1-row corpus-stats agg
    "q_llm_kl_divergence",  # broadcast crossJoin of the 1-row corpus total
    "q_llm_pmi_collocations",  # broadcast crossJoins of the two 1-row totals
    "q_evt_survival",  # broadcast crossJoin of the 1-row corpus-end bound
    "q_llm_pq_adc",    # broadcast crossJoins: 8-row subspace grid, 16-row
                       # codebook, 128-row LUT, 1-row query + hit count;
                       # exact-L2 denominator is the documented fixture-
                       # scale brute force (as q_llm_ann_recall)
    "q_evt_changepoint",  # broadcast crossJoins of the 1-row mean + max aggs
    "q_evt_chain_reorg",  # broadcast crossJoin of the 1-row tip-height agg
                          # (window filter + isin canonical flag on it)
    "q_evt_xcorr",        # broadcast crossJoin of the 25-row lag dim over
                          # the calendar-bounded hourly grid
    "q_evt_profile_similarity",  # broadcast crossJoins of the 1-row
                                 # query-id and query-norm aggs
    "q_llm_kneser_ney",  # broadcast crossJoin of the 1-row bigram-type
                         # total (the KN normalizer N)
    "q_llm_matryoshka_recall",  # broadcast crossJoins of the 1-row query
                                # vector and the 1-row hit count (same
                                # recall-audit shape as q_llm_ann_recall)
}

# Keys allowed to statically scan one table >= 4 times (each a by-design
# shape, not a shared-subtree blowup). Emptied in r6: q_cdc_merge and
# q_join_bloom — the former members — now pin their shared subtree with
# localCheckpoint (orders-projection / bloom bitmap built once), so any
# future >= 4x rescan is a regression this gate should flag again.
ALLOW_RESCAN: set[str] = set()

# B11 exists to prove the Python surface; Python eval is expected there.
# The q_src_* keys are the custom Python DataSource (sources/feed.py):
# Python at the INGEST BOUNDARY (the reference's RPC client analog), not a
# transform in the hot path — transforms downstream stay relational.
ALLOW_PYTHON = {
    "q_src_python_batch",
    "q_src_python_stream",
    "q_src_python_sink",
    "q_udf_python",
    "q_udf_pandas_scalar",
    "q_udf_pandas_agg",
    "q_udf_grouped_map",
    "q_udf_map_iter",
    "q_udf_cogroup",
    "q_udtf",
    "q_llm_multimodal",  # mapInPandas decode stub — the designed shape
    "q_llm_frames",      # mapInPandas frame-sample stub — same
    "q_llm_media_decode",  # mapInPandas REAL stdlib PPM/WAV decoders — the
                           # media-decode boundary is Python by definition
    "q_llm_tfidf",       # ml HashingTF/IDF pipeline
    "q_llm_ann_lsh",     # ml BucketedRandomProjectionLSH
    "q_llm_pack_sequences",  # applyInPandas: the one sequential-fold stage;
                             # only (doc_id, source, n_tokens) rows cross Arrow
    "q_llm_winnow",      # mapInPandas numpy kernel, promoted on MEASUREMENT
                         # (r10, VERDICT r9 #2): 24.5 s vs the best JVM
                         # form's 95.3 s at 5 M docs, value-identical —
                         # SCALE.md, Round 10
    "q_llm_char_entropy",  # mapInPandas INTEGER-ONLY counting kernel
                           # (r11, VERDICT r10 #2): 16.2 s vs the JVM
                           # fold's 104.7 s at 5 M docs; all float/decimal
                           # ops stay JVM-side — SCALE.md, Round 11
    "q_llm_repetition",  # mapInPandas INTEGER-ONLY trigram counts (r11,
                         # VERDICT r10 #3): 6.9 s vs 44.7 s at 5 M docs;
                         # ratio/round stay JVM-side — SCALE.md, Round 11
    "q_llm_pq_adc",      # mapInPandas encode kernel emitting INTEGER code
                         # ids only (r12, VERDICT r11 #1c): IEEE basic ops
                         # in the oracle's fold order, no libm; measured
                         # head-to-head vs the JVM min(struct) form in
                         # SCALE.md, Round 12
    "q_llm_training_manifest",  # composes pack_sequences' fold — same Arrow
                                # contract, same skinny (id, source, n) rows
    "q_llm_kmeans",      # mapInPandas assignment kernel emitting the INTEGER
                         # cluster id (r13, VERDICT r12 #3): embedding is
                         # pass-through transport, IEEE basic ops in the
                         # oracle's fold order, ~2x at 1000x — measured
                         # head-to-head vs the interpreted aggregate/zip_with
                         # form in SCALE.md, Round 13
    "q_llm_corpus_prep",  # mapInPandas INTEGER/HASH gate kernel (r13
                          # optimization): token/trigram counts + sha256
                          # per doc — the same measured trade as
                          # q_llm_repetition's kernel (6.5x at 5 M docs,
                          # SCALE.md, Round 11); rep ratio and all
                          # gate floats stay JVM-side
    # r14 (VERDICT r13 #1): the MinHash signature build is one Arrow
    # kernel (_minhash_sigs) emitting INTEGER sig columns only — bit-
    # exact vs the explode + min(conv(substring(sha2))) aggregate form
    # (proof in the docstring; identity asserted by
    # test_minhash_sig_kernel_exact, 47x at x10 corpus in OPTIMIZATION_r14.md)
    "q_llm_minhash_exact",
    "q_llm_minhash_steep",
    "q_llm_minhash_bucketed",
    "q_llm_lsh_recall",
}

PYTHON_OPS = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "PythonScan",  # custom Python data source (allowed only at ingest)
)


# Keys whose lambdas legitimately re-derive an outer expression (none
# today; add with a docstring-level justification if one ever appears).
ALLOW_LAMBDA_REDERIVE: set[str] = set()

# Expression heads that are O(input) per evaluation: re-deriving one of
# these from a non-lambda attribute INSIDE a lambda body multiplies the
# whole derivation by the lambda's invocation count.
# substring(col, i, n) is O(i) per call (UTF-8 re-scan to the offset), so
# a lambda sweeping i over the string is O(L^2)/row — the r10 shingles()
# finding; the others are O(input) outright.
_FAT_DERIVERS = ("split", "array_sort", "sentences", "sequence", "substring")


def _joins_two_local_relations(opt_plan: str) -> bool:
    """True when any Join node's BOTH immediate children are
    LocalRelations — the nested-loop stall shape recorded in
    OPTIMIZATION_r14.md §6 (16.4 s vs 0.2–0.6 s controls). Parses the
    optimized logical plan's tree text: each nesting level is one 3-char
    prefix group (':- ', '+- ', ':  ', '   '), so a node's immediate
    children are the next lines one level deeper."""
    infos = []
    for ln in opt_plan.splitlines():
        stripped = ln.lstrip(" :+-")
        infos.append(((len(ln) - len(stripped)) // 3, stripped))
    for i, (d, s) in enumerate(infos):
        if not s.startswith("Join"):
            continue
        kids: list[str] = []
        for d2, s2 in infos[i + 1 :]:
            if d2 == d + 1:
                kids.append(s2)
                if len(kids) == 2:
                    break
            elif d2 <= d:
                break
        if len(kids) == 2 and all(
            k.startswith("LocalRelation") for k in kids
        ):
            return True
    return False


def lambda_rederivations(opt_plan: str) -> list[str]:
    """Detect the r10 char_entropy defect CLASS in an optimized plan: a
    fat array derivation (split/array_sort/... of an OUTER attribute)
    sitting inside a ``lambdafunction`` body. CollapseProject happily
    inlines a projected kernel into every lambda that references it, so
    a fold's "constant" denominator like size(array_sort(split(text)))
    silently re-splits and re-sorts the document on every invocation —
    O(L) becomes O(k·L log L) per row with every value-level test green.
    Pinned kernels read a bound attribute (Generate-barrier idiom), which
    this scan cannot confuse with a re-derivation: lambda variables are
    declared as ``lambda name#id`` and anything not so declared that
    feeds a fat deriver inside a body is flagged."""
    # every lambda variable declared anywhere in the plan is exempt —
    # per-element work on a lambda's own binding is the HOF's job
    lam_vars = set(re.findall(r"lambda (\w+)#(\d+)", opt_plan))
    hits = []
    pat = re.compile(
        r"\b(" + "|".join(_FAT_DERIVERS) + r")\((\w+)#(\d+)"
    )
    i = 0
    while True:
        j = opt_plan.find("lambdafunction(", i)
        if j < 0:
            break
        depth, end = 0, j
        for end in range(j + len("lambdafunction") , len(opt_plan)):
            ch = opt_plan[end]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
        body = opt_plan[j:end + 1]
        i = j + len("lambdafunction(")
        for fn, var, vid in pat.findall(body):
            if (var, vid) not in lam_vars:
                hits.append(f"{fn}({var}#{vid}…) inside a lambda body")
    return sorted(set(hits))


def main() -> int:
    prefixes = sys.argv[1:]
    load_all_modules()
    keys = [
        k
        for k in QUERIES
        if (not prefixes or any(k.startswith(p) for p in prefixes))
        and not k.startswith("q_stream")
    ]
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    # The repeated-scan gate parses table names out of each node's
    # Location field; formatted explain truncates that field to
    # maxMetadataStringLength (default 100) and a longer fixture path
    # would silently blind the gate. Widen it, and hard-fail below if
    # the gate matched nothing at all (blindness must be loud).
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    problems = []
    total_scan_hits = [0]
    for k in keys:
        try:
            df = QUERIES[k](spark, SF_DIR)
            plan = _plan(df)
            opt = str(df._jdf.queryExecution().optimizedPlan())
        except Exception as exc:
            problems.append((k, f"explain failed: {exc}"))
            continue
        rederive = lambda_rederivations(opt)
        if rederive and k not in ALLOW_LAMBDA_REDERIVE:
            problems.append(
                (k, "fat derivation re-evaluated inside a lambda: "
                    + "; ".join(rederive))
            )
        # formatted mode prints the exchange node and its distribution on
        # separate lines ("Exchange (3)" ... "Arguments: SinglePartition"),
        # so match both spellings — the adjacent form alone detects nothing
        if (
            "Exchange SinglePartition" in plan
            or "Arguments: SinglePartition" in plan
        ) and k not in ALLOW_SINGLE_PARTITION:
            problems.append((k, "undocumented Exchange SinglePartition"))
        if (
            "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
        ) and k not in ALLOW_NESTED_LOOP:
            problems.append((k, "undocumented cartesian/nested-loop join"))
        # LocalRelation x LocalRelation join: the pathological shape the
        # r13 pq_adc rewrite hit (~15 s nested-loop stall on two tiny
        # driver-embedded tables; measured in OPTIMIZATION_r14.md §6). Flagged
        # REGARDLESS of the nested-loop allowlist — the allowlist vouches
        # for documented crossJoin cardinalities, not for this shape
        # (r14, VERDICT r13 #8).
        if _joins_two_local_relations(opt):
            problems.append(
                (k, "join with LocalRelation on BOTH sides (the "
                    "nested-loop stall shape) — pin one side or keep it "
                    "distributed")
            )
        if any(op in plan for op in PYTHON_OPS) and k not in ALLOW_PYTHON:
            problems.append((k, "Python eval outside the UDF surface"))
        scans = collections.Counter()
        for line in plan.splitlines():
            if "Location" in line:
                # findall: a multi-path Location line counts every path
                for t in re.findall(r"([a-z_0-9]+)\.parquet", line):
                    scans[t] += 1
        total_scan_hits[0] += sum(scans.values())
        if scans and max(scans.values()) >= 4 and k not in ALLOW_RESCAN:
            worst = max(scans, key=scans.get)
            problems.append(
                (k, f"table {worst} statically scanned {scans[worst]}x "
                    "(pin the shared intermediate)")
            )
    print(f"audited {len(keys)} plans at {SF_DIR}")
    for k, msg in problems:
        print(f"FLAG {k}: {msg}")
    # Blindness check only on FULL runs: a prefix-filtered run can
    # legitimately cover only keys whose plans read pinned RDDs
    # (localCheckpoint), which have no parquet Location lines at all.
    if not prefixes and keys and total_scan_hits[0] == 0:
        raise RuntimeError(
            "repeated-scan gate matched ZERO parquet Location paths across "
            "the whole audit — the Location parser is blind (truncated "
            "metadata or a changed explain format), not the plans clean"
        )
    print(f"{len(problems)} flags")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())

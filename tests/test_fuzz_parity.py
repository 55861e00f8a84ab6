"""Property-based cross-engine fuzzing: random tables through BOTH engines.

check_parity proves Spark ≡ DuckDB on the ONE driver-generated
distribution; test_degenerate.py proves hand-picked adversarial inputs.
This suite closes the space in between: hypothesis generates random
tables — with deliberately collision-prone domains — and asserts exact
parity on the keys whose semantics live at boundaries the fixture
rarely hits. Five suites (events, documents, orders, embeddings,
TPC-H), 256 keys, 1280 cross-engine runs per execution. Shared design
rules:

- timestamps quantized to 5-minute slots (events) or calendar month
  starts (TPC-H), so EXACT session gaps, as-of tolerance edges, and
  filter-cutoff instants are common rather than measure-zero;
- floats quantized to exact dyadic values (quarter prices, sixteenth
  discounts, quarter-step vector components), so sums are exact in ANY
  summation order and 6-dp rounding cannot straddle a half-ulp boundary
  differently per engine;
- degenerate slices are generated ON PURPOSE: all-zero embeddings,
  zero-revenue groups, empty pair samples, lineitem-less orders,
  duplicate rows — the branches the NULLIF/rejection guards exist for.
  This suite has caught real ANSI-mode crashes before any driver run
  (r6: pareto; r7: the cosine family, the recall denominator, two TPC-H
  shares, and the corr builtin).

Fuzz census — the 20 registered keys NOT in any corpus, with reasons
(all other keys ride a suite; test_fuzz_census_accounts_for_every_key
below machine-checks this arithmetic so the census cannot drift):

- 6 streaming keys (q_stream_*, minus the 19
  fuzzed ones): their correctness surface is multi-batch replay,
  watermarks, and checkpoint RESTARTS — properties of the trigger/state
  machinery, not of the input table's value distribution; the stateful
  semantics are proven in tests/test_stream_equivalence.py (batch-twin
  equivalence, genuine restarts, randomized file-replay-order runs)
  plus driver rows. The 18 oracle-bearing streaming keys whose VALUE
  semantics do depend on the distribution ride the events corpus —
  real availableNow replays per example: tumbling, sliding, session,
  dedup, watermark, late_data, static_join, stateful (r11) plus
  rocksdb, upsert_latest, chained, dynamic_session (r12), plus
  stream_stream_join and union (r12 second tranche: the single-file
  replay drains in ONE micro-batch, so the interval join and the
  two-feed rollup are deterministic vs their batch oracles at ANY
  input — what fuzzing adds is the value surface: interval edges at
  exactly-1-hour offsets on the quantized slots, doubled-sum rounding),
  plus the r13 restart-protocol tranche whose two-phase schedules are
  total at any corpus shape: foreachbatch, checkpoint, backfill,
  listener_e2e, and the custom-source cursor drain q_src_python_stream
  (VERDICT r12 #5 — see the _FUZZ_KEYS entries).
  The 6 remaining: rate_smoke/rate_limit/availablenow/source_replay
  (trigger and throttle machinery on synthetic payloads), reorg (its
  phase split needs >= 4 block heights, i.e. event_id >= 300; the
  chain walk itself is fuzzed via q_evt_chain_reorg), outer_join
  (rows-only: outer-null EMISSION TIMING is the semantics under test).
- 10 rows-only keys (q_agg_approx_distinct, q_agg_approx_percentile,
  q_agg_hll_union, q_hash_xxhash, q_llm_ann_lsh, q_llm_frames,
  q_llm_multimodal, q_llm_simhash, q_llm_tfidf, q_scan_binaryfile): no
  DuckDB oracle by design (sketch/LSH/binary output has no cross-engine
  twin), so _run_both has nothing to compare; each carries an
  exact-oracle twin or bound test that IS fuzzed or asserted (hll ≤2%
  bound, lsh/ann recall gates).
- q_llm_media_decode: oracle-checked, but its input is the in-key
  synthesized PPM/WAV binary corpus (closed-form pixels/samples) —
  there is no table input to randomize; parser exactness is pinned vs
  the generating formula in tests/test_llm.py.
- q_src_python_batch: the custom Python DataSource GENERATES its rows;
  no table input exists.
- q_sink_compaction / q_sink_zorder: their value is a LAYOUT assert
  (>=32 fragmented files -> exactly 4; 2-D footer min/max boxes) that
  assumes fixture-scale row counts and key spread — a 6-row random
  table fails the layout, not the semantics (measured: 7 files under
  the 32-file fragmentation floor). Content parity at random shapes is
  covered by the storage keys fuzzed below (partitioned, dpp,
  time_travel, schema_evolution, text, orc, csv_corrupt).

Derandomized (fixed seed) so CI stays deterministic.
"""

from __future__ import annotations

import os as _os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.test_degenerate import _run_both, _write_events

# CI runs 5 examples per suite (the derandomized head of each search
# space — ~20 min wall for the whole file). SPARK_GRAFT_FUZZ_EXAMPLES
# deepens a one-off adversarial session without touching CI time:
# derandomize=True makes each budget's example sequence deterministic
# PER HYPOTHESIS VERSION; Hypothesis does not contractually guarantee a
# larger budget is a prefix-extension of a smaller one, so read a deep
# run as "more coverage at the same determinism", not a strict superset
# (ADVICE r8). Malformed/non-positive env values fall back to the
# default rather than failing collection or silently disabling fuzz.
try:
    _EXAMPLES = max(1, int(_os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "5")))
except ValueError:
    _EXAMPLES = 5

_FIVE_MIN_US = 300_000_000
_DAY_SLOTS = 288  # 5-min slots per day

# (user_id, day, slot): small domains on purpose — ties and exact-gap
# collisions should be COMMON in the sample, not rare
_event = st.tuples(
    st.integers(0, 3),  # user_id
    st.integers(0, 13),  # day
    st.integers(0, 47),  # 5-min slot within the first 4 hours of the day
    st.sampled_from(["click", "purchase", "view", "signup"]),
    st.integers(0, 400),  # value = this / 4 (exact dyadic)
)

_FUZZ_KEYS = [
    "q_evt_sessionize",  # >= 30-min gap boundary (half-open session_window)
    "q_join_asof_forward",  # 1 h tolerance edge + equi-key tie-breaks
    "q_evt_streaks",  # consecutive-day islands with duplicate days
    "q_evt_transitions",  # per-user (ts, event_id) ordered lag pairs
    "q_evt_resample",  # dense hour grid between data-derived bounds
    "q_evt_cumulative_uniques",  # first-seen trick over the day grid
    "q_evt_dynamic_sessions",  # per-event dynamic gap (type-dependent)
    "q_evt_rolling_active",  # DAU/WAU day-grid range join
    "q_cdc_scd2",  # SCD2 interval tiling with ts ties
    "q_cdc_pit_join",  # AS OF version resolution at boundary instants
    "q_join_asof",  # backward as-of matching at exact-tie instants
    "q_evt_funnel",  # ordered step matching on sparse conversions
    "q_evt_funnel_latency",  # step-gap percentiles incl. zero gaps
    "q_evt_windowed_funnel",  # deadline boundary (gap == window edge)
    "q_evt_attribution",  # lookback boundary + same-instant touchpoints
    "q_evt_retention",  # day-grain cohort buckets
    "q_evt_cohort_ltv",  # week cohorts + cumulative curves
    "q_evt_rfm",  # ntile terciles over heavily-tied scores
    "q_evt_histogram",  # fixed-width value bins at bin edges
    "q_evt_anomaly",  # mean/stddev gate on tiny tied groups
    "q_evt_forecast_naive",  # 24 h self-join on sparse hour sets
    "q_evt_pareto",  # top-decile cutoff with tied totals
    "q_evt_paths",  # 3-step lead paths with ts ties
    "q_agg_time_rollup",  # hour-grain rollup (the batch twin)
    # B8 scalar keys reading events: date/unix conversions at quantized
    # instants, JSON parsing over the props column
    "q_date_unix",
    "q_map_json",
    "q_json_tuple",
    "q_json_to",
    # B5 window keys reading events: lag/lead and sliding frames over
    # the tie-heavy quantized timestamps
    "q_win_lag_lead",
    "q_win_sliding",
    # r8 census completion — remaining events-reading keys
    "q_evt_ab_test",  # Welch t on tiny/constant arms (NULLIF branches)
    "q_evt_anomaly_mad",  # MAD=0 collapse on random tied groups
    "q_evt_chain_reorg",  # chain walk on arbitrary event_id block shapes
    "q_evt_changepoint",  # CUSUM on short/constant daily series
    "q_evt_gap_detection",  # island/gap blocks over random sparse ids
    "q_evt_profile_similarity",  # hour-profile cosine with zero profiles
    "q_evt_survival",  # KM curve incl. all-censored users
    "q_evt_xcorr",  # lead-lag r incl. zero-variance series (NULL r)
    "q_agg_count_distinct",  # exact distinct over tiny tied domains
    "q_agg_percentile",  # exact percentile interpolation at ties
    "q_agg_pivot",  # pivot cells incl. empty (type, user) combos
    "q_join_interval",  # point-in-interval containment at edges
    "q_join_salted",  # salted repartition must not change results
    "q_join_range_bucketed",  # band-as-bucket join at bucket borders
    # B11 UDF surface on events: Arrow round-trips must agree with SQL
    # at random shapes (empty groups, single-row cogroup sides)
    "q_udf_cogroup",
    "q_udf_grouped_map",
    "q_udf_map_iter",
    "q_udf_pandas_agg",
    "q_src_python_sink",  # two-phase-commit sink round-trip, random feed
    # r11 census shrink (VERDICT r10 #7): the oracle-bearing streaming
    # keys whose VALUE semantics depend on the input distribution ride
    # the events corpus like any batch key — each runs its REAL
    # availableNow replay against the random table and must match the
    # DuckDB oracle exactly. The replay/restart machinery itself stays
    # covered by test_stream_equivalence.py (genuine restarts,
    # randomized file-replay permutations); what fuzzing adds is the
    # value-boundary surface: window edges at quantized instants,
    # session gaps exactly at the threshold, duplicate rows for dedup,
    # watermark cutoffs at tie-heavy timestamps. NOTE the corpus keeps
    # event_id unique (enumerate below) — it is the feed's KEY
    # (FIXTURES.md), and dedup/session contracts assume it.
    "q_stream_tumbling",
    "q_stream_sliding",
    "q_stream_session",
    "q_stream_dedup",
    "q_stream_watermark",
    "q_stream_late_data",
    "q_stream_static_join",
    "q_stream_stateful",
    # r12 census shrink (VERDICT r11 #7), same recipe — the next
    # oracle-bearing tranche whose VALUE semantics depend on the input:
    # RocksDB state store (same rollup values as the HDFS provider, plus
    # its in-key .zip layout assert), keyed upsert-latest (ts/event_id
    # tie-breaks at quantized instants), chained two-level windowed agg
    # (watermark bounds derived from the random table's own min/max —
    # often empty, the boundary the fixture never hits), and dynamic-gap
    # sessions (per-event gap expression at exact-gap boundaries).
    "q_stream_rocksdb",
    "q_stream_upsert_latest",
    "q_stream_chained",
    "q_stream_dynamic_session",
    # r12 second tranche: both drain the SINGLE-FILE replay in one
    # availableNow micro-batch, so the watermark never drops rows and
    # the output is deterministic vs the batch oracle at ANY input.
    # stream_stream_join's fuzz surface is the interval-join boundary
    # (v.ts BETWEEN p.ts - 1h AND p.ts is inclusive BOTH ends, and the
    # 5-min-slot quantization makes exactly-1-hour offsets COMMON);
    # union's is the doubled-sum 6-dp rounding on dyadic values.
    "q_stream_stream_join",
    "q_stream_union",
    # r13 tranche (VERDICT r12 #5): the restart-protocol keys whose
    # two-phase schedules are TOTAL at any corpus shape — each splits
    # the random table by event_id parity or the % 97 hole pattern, and
    # the fuzz corpus's enumerate()-assigned ids guarantee both phases
    # are non-empty from min_size=5 up (id 0 always exists for the
    # backfill's missing set; parity halves of 0..n-1 are non-empty).
    # What fuzzing adds on top of the fixture run: exactly-once identity
    # at arbitrary tiny/tied distributions (foreachbatch, checkpoint),
    # gap-census arithmetic when the front/back gaps the fixture never
    # has dominate (backfill), and decode/filter value parity incl. the
    # all-filtered empty-output path (listener_e2e). q_stream_reorg
    # stays in the census: its phase split needs >= 4 block heights
    # (event_id >= 3*_REORG_BLOCK = 300) or phase 1 is empty and the
    # 2-batch restart assert trips — the chain walk itself IS fuzzed
    # via q_evt_chain_reorg.
    "q_stream_foreachbatch",
    "q_stream_checkpoint",
    "q_stream_backfill",
    "q_stream_listener_e2e",
    # r13 second tranche: the custom Python streaming source's cursor
    # drain. Its >= 4-batch rate-limit assert holds at ANY corpus size
    # n >= 4: rows_per_batch = max(1, n // 4), so the drain takes
    # ceil(n / max(1, n // 4)) >= 4 non-empty polls. The fuzz surface is
    # the cursor's no-loss/no-double-delivery sum over random tiny
    # distributions (verified at n = 5/8/60 before inclusion).
    "q_src_python_stream",
]


@settings(
    max_examples=_EXAMPLES,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=st.lists(_event, min_size=5, max_size=60))
def test_random_events_tables_match_duckdb(spark, tmp_path_factory, events):
    rows = [
        (
            eid,
            (day * _DAY_SLOTS + slot) * _FIVE_MIN_US,
            uid,
            etype,
            val / 4.0,
        )
        for eid, (uid, day, slot, etype, val) in enumerate(events)
    ]
    sf = _write_events(str(tmp_path_factory.mktemp("fuzz")), rows)
    for key in _FUZZ_KEYS:
        _run_both(key, sf, spark)


# ---------------------------------------------------------------------------
# Documents fuzz: random word-salad corpora with deliberately SHORT texts,
# heavy word repetition, and exact duplicate documents — the branches the
# text-analytics guards exist for (texts narrower than the shingle/chunk
# width, 100%-repetition docs, duplicate fingerprints) but the fixture's
# 48..553-char texts never produce.

import os

import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = ["a", "bb", "the", "token", "burn", "of", "xylophone", "data"]


def _write_documents(dirpath: str, texts: list[str]) -> str:
    table = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                [["de", "en", "es", "fr", "zh"][i % 5] for i in range(len(texts))],
                pa.string(),
            ),
            "source": pa.array(
                [f"src{i % 4}" for i in range(len(texts))], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(dirpath, "documents.parquet"))
    return dirpath


_DOC_FUZZ_KEYS = [
    "q_llm_ngrams",  # 3-gram explode on possibly-1-token docs
    "q_llm_doc_stats",  # per-source aggregates over tiny corpora
    "q_llm_token_count",  # whitespace tokenization exactness
    "q_llm_repetition",  # distinct/total gram ratio, 100%-repeat docs
    "q_llm_fingerprint",  # rolling-hash fingerprints incl. exact dups
    "q_llm_chunk",  # stride chunking of docs shorter than one chunk
    "q_llm_quality_score",  # length/stopword ratio mix on short docs
    "q_llm_jaccard_pairs",  # shingle guard: texts narrower than 5 chars
    "q_llm_text_filter",  # gate predicates at their thresholds
    "q_llm_lang_id",  # n-gram heuristic on single-word docs
    "q_llm_winnow",  # winnowing windows wider than the token stream
    "q_llm_zipf",  # regr_slope with near-degenerate rank/freq variance
    "q_llm_ngram_novelty",  # first-occurrence ordering with dup docs
    "q_llm_length_buckets",  # bucket edges at exact multiples
    "q_llm_curriculum",  # length-staged phases over tiny corpora
    "q_llm_dup_rate_by_source",  # per-source dup fraction incl. 100%
    "q_llm_subdoc_dup",  # chunk-level duplication on sub-chunk docs
    "q_llm_heaps_law",  # vocab growth at corpus quartile boundaries
    "q_llm_source_overlap",  # pairwise vocab Jaccard incl. identical
    # corpus-prep pipeline: deterministic-hash assignment and the
    # sequential packing fold over arbitrary corpora
    "q_llm_split",  # sha-derived train/val/test membership
    "q_llm_global_shuffle",  # hash permutation must stay a bijection
    "q_llm_sample_stratified",  # sqrt-budget strata incl. 1-doc strata
    "q_llm_mix_domains",  # language-mix targets over skewed lang counts
    "q_llm_pack_sequences",  # next-fit fold vs the recursive-CTE oracle
    "q_llm_decontaminate",  # tiny/empty eval slices (doc_id % 37)
    "q_llm_corpus_prep",  # the gate->dedup composition end to end
    "q_llm_tokenize",  # token explode exactness
    "q_llm_term_stats",  # df/tf aggregates over tiny vocab
    "q_llm_inverted_index",  # posting lists with total-order asserts
    "q_llm_bigram_lm",  # self-trained char-bigram model on short text
    "q_llm_ccnet_buckets",  # perplexity terciles over tied scores
    # r7 additions: the exact-oracle dedup family, incl. corpora whose
    # sampled pair set is EMPTY (recall denominator = 0, the NULLIF
    # branch) and sub-shingle-width / fully-duplicated texts
    "q_llm_lsh_recall",  # banding recall vs exact pairs; n_exact=0 -> NULL
    "q_llm_minhash_exact",  # deterministic-hash LSH candidate pairs
    "q_llm_minhash_steep",  # 6x3 steep banding: same verify gate,
    # salted-digest signatures; tiny corpora exercise the all-collide
    # and no-collide band edges on both engines (r12)
    "q_llm_minhash_bucketed",  # the steep query over the bucketed
    # shingle layout (r13): fuzzing re-runs the layout build per random
    # corpus, so the content-addressed scratch + plan asserts are
    # exercised at every corpus shape alongside the value parity
    "q_llm_fuzzy_dup",  # ED-Join prefix buckets on tiny token streams
    "q_llm_delta_dedup",  # incl. the empty-delta (doc_id % 10) branch
    "q_llm_dedup_survivors",  # pairs -> components -> quality argmax
    # r8 census completion — remaining documents-reading keys
    "q_arr_basic",  # array ops over tokenized word-salad
    "q_diag_column_entropy",  # entropy folds on near-constant columns
    "q_hash_md5",  # digest exactness on arbitrary text
    "q_hash_sha2",
    "q_llm_bm25",  # idf/tf fold incl. every-doc terms (idf<=0)
    "q_llm_bpe_merges",  # first-merge pair stats on 1-char tokens
    "q_llm_cdc_chunking",  # rolling-hash cuts on sub-window texts
    "q_llm_cms_topk",  # CMS estimate vs exact top-k on tied counts
    "q_llm_dataset_card",  # one-row datasheet folds incl. empty langs
    "q_llm_dsir",  # bigram LR weights incl. unseen-bigram smoothing
    "q_llm_exact_dedup",  # sha256 canonical-survivor at 100% dup rate
    "q_llm_k_anonymity",  # sub-k quasi-identifier groups incl. k=1
    "q_llm_kl_divergence",  # KL folds incl. single-source corpora
    "q_llm_kneser_ney",  # KN smoothing at singleton continuation counts
    "q_llm_leak_check",  # cross-split dup leakage incl. empty splits
    "q_llm_pmi_collocations",  # PMI on pairs seen exactly once
    "q_llm_redact_pii",  # regex redaction on texts with no matches
    "q_llm_temperature_mix",  # alpha-mix weights on skewed lang counts
    "q_llm_tfidf_exact",  # vocabulary-keyed TF-IDF at tied scores
    "q_llm_topic_boundaries",  # weakest-seam on sub-window docs
    "q_llm_weighted_sample",  # ES top-k at duplicate weights
    "q_llm_training_manifest",  # prep -> split -> pack composition
    "q_llm_dup_spans",  # island merge on sub-gram/duplicate-heavy texts
    "q_llm_span_removal",  # strip-and-reassemble incl. fully-emptied docs
    "q_llm_char_entropy",  # per-doc char distribution on word-salad
    # texts (always non-empty here — the _doc strategy joins >= 1
    # words); the empty-text drop and the ndv=1 entropy-0 floor are
    # pinned by test_degenerate.test_char_entropy_empty_and_constant
    "q_llm_vocab_coverage",  # tiny-vocab identity case: <=8 distinct
    # tokens so the top-200 cut keeps everything and n_oov == 0 on both
    # engines; the rank-200 tie BOUNDARY is unreachable here and is
    # covered by test_degenerate.test_vocab_coverage_tie_at_the_cut
    "q_udf_python",  # row-at-a-time UDF vs SQL twin
    "q_udtf",  # table function explode vs SQL twin
    "q_scan_schema_evolution",  # mergeSchema union over random batches
    "q_scan_text",  # text-format round-trip of arbitrary lines
]

_doc = st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=12).map(
    " ".join
)


@settings(
    max_examples=_EXAMPLES,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(_doc, min_size=2, max_size=25))
def test_random_documents_tables_match_duckdb(spark, tmp_path_factory, texts):
    sf = _write_documents(str(tmp_path_factory.mktemp("docfuzz")), texts)
    for key in _DOC_FUZZ_KEYS:
        _run_both(key, sf, spark)


# ---------------------------------------------------------------------------
# Orders fuzz: the CDC keys synthesize their snapshots/changelogs from
# key-modulus arithmetic over orders (mod 2/3/10 for snapshot-diff,
# mod 2/5/7/11 for MERGE) — random unique key sets exercise every
# membership-combination branch (kept / inserted / updated / deleted /
# delete-then-reinsert), where the fixture's dense 0..N keys walk the
# residues in one fixed pattern.


_1995_MS = 788_918_400_000  # 1995-01-01 UTC — fixture o_orderdate is ms


def _write_orders(dirpath: str, keys: list[int], prices: list[float]) -> str:
    # dates fan out from 1995 at ~5-month steps per key residue, so the
    # incr-agg 1997-01-01 base/delta cutoff lands INSIDE the generated
    # range (both branches populated) for any non-tiny key set
    table = pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array([k % 6 for k in keys], pa.int64()),
            "o_orderstatus": pa.array(
                ["O" if k % 3 else "F" for k in keys], pa.string()
            ),
            "o_totalprice": pa.array(prices, pa.float64()),
            "o_orderdate": pa.array(
                [_1995_MS + (k % 12) * 13_000_000_000 for k in keys],
                pa.timestamp("ms"),
            ),
            "o_orderpriority": pa.array(
                [
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"][k % 5]
                    for k in keys
                ],
                pa.string(),
            ),
        }
    )
    pq.write_table(table, os.path.join(dirpath, "orders.parquet"))
    return dirpath


_ORDERS_FUZZ_KEYS = [
    "q_cdc_snapshot_diff",  # insert/delete/update branch per key residue
    "q_cdc_merge",  # latest-op-wins incl. delete-then-reinsert
    "q_cdc_incr_agg",  # partial-agg merge over random custkey groups
    # B5/B6 window-and-sort keys: the generator's duplicate o_orderdate
    # values (12 distinct dates) make RANGE-frame peer groups and ordering
    # ties COMMON, and the shrunk price lists make rank ties on
    # o_totalprice common — exactly where an under-specified total order
    # would diverge between engines
    "q_win_row_number",
    "q_win_running",
    "q_win_range_frame",
    "q_win_first_last",
    "q_win_topk_group",
    "q_topk_global",
    "q_limit",
    "q_agg_minmax_by",
    "q_agg_having",
    # B8 scalar keys reading orders: date parts/arithmetic at the
    # generator's duplicated dates, hex/struct round-trips on random keys
    "q_date_parts",
    "q_date_arith",
    "q_math_conv",
    "q_struct_ops",
    # B7 set ops: bag vs set semantics over random duplicate-heavy key
    # slices (the >350000 price side is often EMPTY here — a boundary of
    # its own for INTERSECT/EXCEPT ALL)
    "q_set_union_all",
    "q_set_union",
    "q_set_intersect",
    "q_set_intersect_all",
    "q_set_except",
    "q_set_except_all",
    # r8 census completion — remaining orders-reading keys, incl. the
    # storage round-trips (each materializes a per-fixture scratch copy;
    # the random tmp dirs key fresh cache entries, so every example
    # re-proves the write->read cycle on new data)
    "q_diag_table_stats",  # ANALYZE profile incl. all-NULL-free columns
    "q_filter_bool",  # boolean-logic filters on residue flags
    "q_filter_in",  # IN lists hitting 0..all of the random keys
    "q_proj_case_when",  # CASE arms incl. never-taken branches
    "q_proj_cast",  # cast round-trips on random prices/dates
    "q_proj_nullsafe",  # null-safe equality on synthesized NULLs
    "q_scan_csv_corrupt",  # PERMISSIVE quarantine on random rows
    "q_scan_dpp",  # dynamic partition pruning, random status mix
    "q_scan_time_travel",  # manifest-pinned snapshot on random tables
    "q_sink_partitioned",  # hive-layout write->read content parity
]


@settings(
    max_examples=_EXAMPLES,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.sets(st.integers(0, 154), min_size=3, max_size=60),
    price_seed=st.lists(st.integers(1, 4000), min_size=60, max_size=60),
)
def test_random_orders_tables_match_duckdb(
    spark, tmp_path_factory, keys, price_seed
):
    ks = sorted(keys)
    prices = [price_seed[i % len(price_seed)] / 4.0 for i in range(len(ks))]
    sf = _write_orders(str(tmp_path_factory.mktemp("ordfuzz")), ks, prices)
    for key in _ORDERS_FUZZ_KEYS:
        _run_both(key, sf, spark)


# ---------------------------------------------------------------------------
# Embeddings fuzz (VERDICT r6 #6): random 64-dim vector corpora that
# INCLUDE all-zero vectors — the cosine family's crash class (Spark 4's
# ANSI mode throws DIVIDE_BY_ZERO on the 0-norm division while DuckDB's
# list_cosine_similarity returns -1.0). The in-query contract enforcement
# (similarity.nonzero / nz_sql) must reject them IDENTICALLY on both
# engines; the L2/mean-based keys (centroids, kmeans, random projection,
# PQ) must accept them as ordinary points. Components are multiples of
# 0.25 (exact dyadic), so dots/distances/averages are exact in both
# engines' partial-aggregation orders and round(·, 6) cannot straddle a
# half-ulp boundary differently per engine. The vec_id 0 QUERY vector is
# pinned non-zero (part of the query-key operator spec, see l2()).

from tests.test_degenerate import _write_embeddings

_EMB_DIM = 64
_EMB_VALS = [-1.0, -0.5, 0.25, 0.5, 1.0, 2.0]

_emb_row = st.tuples(
    st.booleans(),  # True -> all-zero vector (the degenerate case)
    st.lists(
        st.sampled_from(_EMB_VALS), min_size=_EMB_DIM, max_size=_EMB_DIM
    ),
    st.integers(0, 2),  # label
)

_EMB_FUZZ_KEYS = [
    # cosine family: zero vectors must be rejected identically
    "q_llm_cosine_topk",  # all-pairs top-20 with rejected zero rows
    "q_llm_knn_query",  # query-vs-corpus scan after rejection
    "q_llm_knn_classify",  # probe batch and corpus both enforced
    "q_llm_hard_negatives",  # cross-label top-1 after rejection
    "q_llm_emb_near_dup",  # Spark scan-filter vs DuckDB's -1.0-below-threshold
    "q_graph_triangles",  # identical edge sets incl. rejected vertices
    "q_graph_pagerank",  # identical vertex/edge sets
    "q_llm_ivf_search",  # centroid training + probing on the enforced scan
    "q_llm_ann_recall",  # bucket bits + recall on the enforced scan
    "q_llm_dup_clusters",  # zero vec = singleton component (edges filtered,
    # vertices not) — the key the r7 review caught missing from the sweep
    "q_llm_semantic_prune",  # the NULL-yielding guard: degenerate row VISIBLE
    # L2/mean family: zero vectors are ordinary points, no rejection
    "q_llm_centroids",
    "q_llm_kmeans",  # incl. mid-iteration empty clusters (duplicate inits)
    "q_llm_random_projection",
    "q_llm_pq_adc",  # L2 codebooks/ADC; zero vectors quantize like any other
    # B8 array keys: higher-order folds/explodes/zips over the same
    # random vectors (total functions — zero vectors are ordinary input)
    "q_arr_hof",
    "q_arr_explode",
    "q_arr_zip",
    # r8 census completion
    "q_llm_quantize",  # int8 quantization of arbitrary (incl. zero) vectors
    "q_udf_pandas_scalar",  # Arrow-batched norm vs the SQL fold
    "q_llm_embedding_coverage",  # doc<->vec referential audit; the fuzz
    # writer derives a documents table with BOTH orphan directions
    "q_llm_matryoshka_recall",  # prefix-vs-full ranking on the enforced
    # scan; absent/zero query degrades to the (0, 0, 0.0) report
    "q_llm_dim_stats",  # per-dim decimal sums INCLUDING all-zero vectors
    "q_llm_anisotropy",  # normalized-sum identity on the nz scan; the
    # all-zero-corpus (n=0) and single-vector (n=1) NULL paths are
    # pinned by test_degenerate.test_anisotropy_degenerate_corpora
]


@settings(
    max_examples=_EXAMPLES,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(_emb_row, min_size=2, max_size=18))
def test_random_embeddings_tables_match_duckdb(
    spark, tmp_path_factory, rows
):
    recs = []
    for vid, (is_zero, vec, label) in enumerate(rows):
        if is_zero and vid != 0:
            vec = [0.0] * _EMB_DIM
        recs.append((vid, [float(x) for x in vec], label))
    sf = _write_embeddings(str(tmp_path_factory.mktemp("embfuzz")), recs)
    # Derived documents table for q_llm_embedding_coverage: even vec_ids
    # get a matching doc, odd ones are orphan vectors, and ids >= 1000
    # are unembedded docs — both referential-integrity directions are
    # populated in every example.
    doc_ids = [vid for vid, _, _ in recs if vid % 2 == 0] + [
        1000 + vid for vid, _, _ in recs if vid % 2 == 1
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(doc_ids, pa.int64()),
                "text": pa.array([f"doc {i}" for i in doc_ids], pa.string()),
                "lang": pa.array(["en"] * len(doc_ids), pa.string()),
                "source": pa.array(["src0"] * len(doc_ids), pa.string()),
                "n_chars": pa.array([5] * len(doc_ids), pa.int64()),
            }
        ),
        os.path.join(sf, "documents.parquet"),
    )
    for key in _EMB_FUZZ_KEYS:
        _run_both(key, sf, spark)


# ---------------------------------------------------------------------------
# TPC-H fuzz: random lineitem/orders/part/customer slices through the
# TPC-H-shaped keys reachable with those four tables. Every float is
# dyadic-exact by construction (quarter prices, {0, 1/16, 1/8, 1/4}
# discounts — 1/16 sits INSIDE Q6's [0.05, 0.07] discount window), so
# revenue sums are exact in any summation order and cross-engine rounding
# cannot flip. Orders span keys with NO lineitems and customers with NO
# orders (the EXISTS-false / zero-count / anti branches), quantities
# straddle the Q6/Q17/Q18 thresholds, dates land exactly on month
# boundaries (the filters' cutoff instants), and zero prices are common
# enough to hit the Q14 NULLIF share denominator.

# True calendar month starts 1995-01 .. 1998-05 in µs: ship/order dates
# land EXACTLY on the queries' month-boundary cutoff instants (>=/< edges)
import datetime as _dt

_MONTHS_US = [
    int(
        _dt.datetime(
            1995 + m // 12, m % 12 + 1, 1, tzinfo=_dt.timezone.utc
        ).timestamp()
        * 1_000_000
    )
    for m in range(41)
]

_TPCH_FUZZ_KEYS = [
    "q_tpch_q4ish",  # EXISTS lineitem per order, date-windowed
    "q_tpch_q6ish",  # BETWEEN discount window + qty threshold
    "q_tpch_q12ish",  # priority counts over the order join
    "q_tpch_q13ish",  # orders-per-customer incl. zero-order customers
    "q_tpch_q14ish",  # promo share incl. the zero-revenue NULLIF branch
    "q_tpch_q17ish",  # below-0.2x-avg-quantity trigger per part
    "q_tpch_q18ish",  # HAVING sum(qty) threshold at exact integer ties
    "q_tpch_q19ish",  # brand/size/qty band predicates
    "q_tpch_q22ish",  # zero-order (anti) customers with balance filter
    # full-dimension shapes (supplier/nation/region generated to the
    # fixture's value scheme so the region/nation filters stay live)
    "q_tpch_q2ish",  # min-cost supplier per part, region-filtered
    "q_tpch_q5ish",  # region revenue by nation
    "q_tpch_q7ish",  # cross-nation shipping volumes
    "q_tpch_q8ish",  # market share incl. the zero-volume NULLIF branch
    "q_tpch_q9ish",  # profit by nation and year
    "q_tpch_q10ish",  # returned-item revenue per customer
    "q_tpch_q11ish",  # inventory-value threshold slice
    "q_tpch_q15ish",  # top supplier(s) by revenue incl. exact ties
    "q_tpch_q16ish",  # supplier counts per part attribute
    "q_tpch_q20ish",  # suppliers above half-year part volume
    "q_tpch_q21ish",  # multi-supplier late-order anti/semi stack
    # subqueries + non-event joins + lineitem/orders aggregates: the
    # relational core over the same random slices (ties everywhere)
    "q_sub_scalar",
    "q_sub_in",
    "q_sub_correlated",
    "q_join_inner_broadcast",
    "q_join_inner_smj",
    "q_join_inner_shj",
    "q_join_left",
    "q_join_right",
    "q_join_full",
    "q_join_semi",
    "q_join_anti",
    "q_join_cross",
    "q_join_theta",
    "q_join_star",
    "q_join_bloom",
    "q_agg_global",
    "q_agg_groupby",
    "q_agg_sum_distinct",
    "q_agg_rollup",
    "q_agg_cube",
    "q_agg_grouping_sets",
    "q_agg_collect",
    "q_agg_stddev",
    "q_agg_corr",  # incl. zero-variance groups (the covar/NULLIF form)
    "q_agg_conditional",
    "q_diag_join_skew",
    "q_math_fns",  # round/floor/sqrt/ln over random non-negative prices
    "q_win_rank",  # rank/dense_rank ties on quantized lineitem prices
    "q_set_distinct",  # full-row dedup over the random lineitem slice
    # r8 census completion — remaining keys whose tables all exist in
    # this corpus. The dims these read are seed-varied per example (see
    # _write_tpch_fuzz) except the canonical 5-row region; the format
    # round-trips re-materialize their scratch copy every example (the
    # cache is keyed on file identity) and assert content parity
    "q_diag_dq_checks",  # contract checks incl. violated RI on purpose
    "q_filter_between",  # BETWEEN at quantized price edges
    "q_filter_cmp",  # comparison chains at exact ties
    "q_filter_null",  # IS [NOT] NULL on synthesized NULLs
    "q_filter_like",  # LIKE patterns over generated part names
    "q_str_basic",
    "q_str_regex",
    "q_str_split",
    "q_proj_select",
    "q_proj_arith",  # arithmetic projections on dyadic prices
    "q_win_ntile",  # tile edges on tiny tied customer sets
    "q_win_pct",  # percent_rank/cume_dist at 100% ties
    "q_sort_multi",  # mixed-direction NULLS LAST total order
    "q_scan_parquet",
    "q_scan_filter_pushdown",
    "q_scan_projection_pushdown",
    "q_scan_orc",  # ORC round-trip of the seed-varied nation dim
    "q_scan_json",  # JSON round-trip (region content-fixed: see writer)
    "q_scan_csv",  # CSV round-trip (region content-fixed: see writer)
    "q_join_bucketed",  # bucketed SMJ on seed-varied orders x customer
    "q_tpch_q18_bucketed",  # zero-exchange bucketed q18 incl. its plan
                            # assert, on per-example rebuilt bucket tables
]

# (orderkey, partkey, qty, price_quarters, discount_idx, ship_month, flag)
_line = st.tuples(
    st.integers(0, 24),
    st.integers(0, 5),
    st.integers(1, 60),
    st.sampled_from([0, 0, 4, 401, 1000, 3999]),  # /4; zeros common
    st.integers(0, 3),  # -> [0.0, 0.0625, 0.125, 0.25]
    st.integers(0, 40),
    st.sampled_from(["N", "R", "A"]),
)

_DISCOUNTS = [0.0, 0.0625, 0.125, 0.25]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _write_tpch_fuzz(dirpath: str, lines: list[tuple]) -> str:
    """All tables derive from the hypothesis draw. lineitem carries the
    sampled tuples directly; every DIMENSION's values (and, for
    orders/customer/nation, row counts) are varied by a seed folded from
    the draw, so the dim-reading keys see different inputs per example
    while the value SCHEMES the shape-queries' filters rely on stay live
    (Brand#1..3, PROMO/STANDARD types, 'bolt' name infixes, NATION_k with
    regionkey k % 5). region alone is content-fixed: its five rows ARE
    the canonical domain the region-name filters select on — its fuzz
    value is the per-example format round-trip (scratch copies are keyed
    on file identity, so each example re-materializes JSON/CSV/ORC)."""
    from tests.test_degenerate import write_tpch_tables

    seed = (
        len(lines) * 1_000_003
        + sum(l[0] * 31 + l[2] * 7 + l[3] * 3 + l[5] for l in lines)
    ) % 999_983
    # > max lineitem orderkey (24): some orders always have no lines
    n_orders = 26 + seed % 5
    n_cust = 10 + seed % 4  # o_custkey spans 0..8 -> some always orderless
    n_nation = 25 + seed % 4  # extra nations have no suppliers/customers
    return write_tpch_tables(
        dirpath,
        {
            "lineitem": {
                "l_orderkey": [l[0] for l in lines],
                "l_partkey": [l[1] for l in lines],
                "l_suppkey": [l[0] % 4 for l in lines],
                "l_linenumber": list(range(1, len(lines) + 1)),
                "l_quantity": [float(l[2]) for l in lines],
                "l_extendedprice": [l[3] / 4.0 for l in lines],
                "l_discount": [_DISCOUNTS[l[4]] for l in lines],
                "l_tax": [0.0] * len(lines),
                "l_returnflag": [l[6] for l in lines],
                "l_linestatus": ["O" if l[0] % 2 else "F" for l in lines],
                "l_shipdate": [_MONTHS_US[l[5]] for l in lines],
            },
            "orders": {
                "o_orderkey": list(range(n_orders)),
                "o_custkey": [k % 9 for k in range(n_orders)],
                "o_orderstatus": [
                    "O" if (k + seed) % 3 else "F" for k in range(n_orders)
                ],
                "o_totalprice": [
                    ((k * 397 + seed * 7) % 2000) / 4.0
                    for k in range(n_orders)
                ],
                "o_orderdate": [
                    _MONTHS_US[(k + seed) % 40] for k in range(n_orders)
                ],
                "o_orderpriority": [
                    _PRIORITIES[(k + seed) % 5] for k in range(n_orders)
                ],
            },
            "part": {
                "p_partkey": list(range(6)),
                # spaces feed q_str_split's tokenizer; the 'bolt' infix
                # keeps q_filter_like's %bolt% live with per-seed hit sets
                "p_name": [
                    f"part {k} bolt" if (k + seed) % 3 == 0 else f"part {k} nut"
                    for k in range(6)
                ],
                "p_brand": [f"Brand#{(k + seed) % 3 + 1}" for k in range(6)],
                "p_type": [
                    "PROMO" if (k + seed) % 2 else "STANDARD"
                    for k in range(6)
                ],
                "p_size": [(k * 9 + seed) % 50 + 1 for k in range(6)],
                "p_retailprice": [
                    ((k + 1) * 401 + (seed % 40) * 25) / 4.0
                    for k in range(6)
                ],
            },
            "customer": {
                "c_custkey": list(range(n_cust)),
                "c_name": [f"Customer#{k}" for k in range(n_cust)],
                "c_nationkey": [(k + seed) % 5 for k in range(n_cust)],
                "c_acctbal": [
                    ((k * 83 + seed * 13) % 160 - 40) / 4.0
                    for k in range(n_cust)
                ],
                "c_mktsegment": [
                    ["BUILDING", "AUTOMOBILE", "MACHINERY"][(k + seed) % 3]
                    for k in range(n_cust)
                ],
            },
            # s_nationkey spans an AMERICA nation (1) and NATION_7 so both
            # sides of q8's market share stay live
            "supplier": {
                "s_suppkey": list(range(4)),
                "s_name": [f"Supplier#{k}" for k in range(4)],
                "s_nationkey": [7, 3, 12, 1],
                "s_acctbal": [
                    ((k * 61 + seed * 11) % 120 - 20) / 4.0 for k in range(4)
                ],
            },
            "nation": {
                "n_nationkey": list(range(n_nation)),
                "n_name": [f"NATION_{k}" for k in range(n_nation)],
                "n_regionkey": [k % 5 for k in range(n_nation)],
            },
            "region": {
                "r_regionkey": list(range(5)),
                "r_name": [
                    "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"
                ],
            },
        },
    )


@settings(
    max_examples=_EXAMPLES,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lines=st.lists(_line, min_size=3, max_size=70))
def test_random_tpch_tables_match_duckdb(spark, tmp_path_factory, lines):
    sf = _write_tpch_fuzz(str(tmp_path_factory.mktemp("tpchfuzz")), lines)
    for key in _TPCH_FUZZ_KEYS:
        _run_both(key, sf, spark)


# ---------------------------------------------------------------------------
# Census drift guard: the module docstring's claim — every registered key
# either rides a corpus or appears in the documented 40-key census — is
# machine-checked, so adding a key without deciding its fuzz story fails
# here instead of silently widening the unfuzzed pool.

_CENSUS_STREAMING = 6  # q_stream_* + q_src_python_stream, minus the 19
                       # oracle-bearing keys fuzzed in the events suite
                       # (8 since r11, VERDICT r10 #7; +rocksdb/
                       # upsert_latest/chained/dynamic_session in r12,
                       # VERDICT r11 #7; +stream_stream_join/union in
                       # the r12 second tranche; +foreachbatch/
                       # checkpoint/backfill/listener_e2e +
                       # q_src_python_stream in r13, VERDICT r12 #5).
                       # The 6 remaining:
                       # rate_smoke/rate_limit/availablenow/
                       # source_replay (trigger/throttle machinery),
                       # reorg (phase split needs >= 4 block heights —
                       # the walk is fuzzed via q_evt_chain_reorg),
                       # outer_join (rows-only emission timing)
_CENSUS_ROWS_ONLY = {
    "q_agg_approx_distinct",
    "q_agg_approx_percentile",
    "q_agg_hll_union",
    "q_hash_xxhash",
    "q_llm_ann_lsh",
    "q_llm_frames",
    "q_llm_multimodal",
    "q_llm_simhash",
    "q_llm_tfidf",
    "q_scan_binaryfile",
}
_CENSUS_OTHER = {
    "q_llm_media_decode",  # input is in-key synthesized binary
    "q_src_python_batch",  # DataSource generates its own rows
    "q_sink_compaction",  # layout assert needs fixture-scale file counts
    "q_sink_zorder",  # footer-box assert needs fixture-scale key spread
}


def test_fuzz_census_accounts_for_every_key():
    from token_burn_listener_spark.registry import (
        QUERIES,
        load_all_modules,
    )

    load_all_modules()
    fuzzed = (
        set(_FUZZ_KEYS)
        | set(_DOC_FUZZ_KEYS)
        | set(_ORDERS_FUZZ_KEYS)
        | set(_EMB_FUZZ_KEYS)
        | set(_TPCH_FUZZ_KEYS)
    )
    assert fuzzed <= set(QUERIES), sorted(fuzzed - set(QUERIES))
    # census entries must exist too — a renamed/deleted key must not
    # leave a phantom row propping up the documented 40-key arithmetic
    stale = (_CENSUS_ROWS_ONLY | _CENSUS_OTHER) - set(QUERIES)
    assert not stale, sorted(stale)
    streaming = {
        k
        for k in QUERIES
        if k.startswith("q_stream_") or k == "q_src_python_stream"
    } - fuzzed
    assert len(streaming) == _CENSUS_STREAMING, sorted(streaming)
    census = streaming | _CENSUS_ROWS_ONLY | _CENSUS_OTHER
    assert not (census & fuzzed), sorted(census & fuzzed)
    unaccounted = set(QUERIES) - fuzzed - census
    assert not unaccounted, (
        "keys neither fuzzed nor in the documented census: "
        f"{sorted(unaccounted)}"
    )

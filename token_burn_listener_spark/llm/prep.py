"""Training-corpus preparation extras (round 3): decontamination, sequence
packing, stratified sampling, embedding quantization.

These are the pipeline stages that sit AROUND the cleaning/dedup core
(llm/dedup.py, llm/pipeline.py) in a real pretraining data flow:

- decontamination: drop training documents sharing any word 8-gram with a
  held-out benchmark slice (the standard n-gram-collision protocol);
- sequence packing: greedy next-fit packing of documents into fixed
  token-budget context windows — the one inherently sequential-per-group
  stage, isolated in ONE applyInPandas over bounded groups;
- stratified sampling: deterministic hash-ranked top-k per stratum (the
  reproducible alternative to rand()-based sampling — reruns and both
  engines agree exactly);
- quantization: per-vector affine int8 quantization of embeddings
  (min/max → scale/zero-point), pure array HOFs, no UDF.

Oracle discipline per SURVEY.md §5.3: the packing oracle is a DuckDB
recursive CTE replaying the same greedy fold (precedent: the
q_llm_dup_clusters oracle); quantization rounds via floor(x + 0.5) on BOTH
sides (Spark round() is HALF_UP BigDecimal, DuckDB round() is float-path —
they disagree on exact .5; floor(+0.5) is engine-identical).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from token_burn_listener_spark.registry import query
from token_burn_listener_spark.tables import load_table, spread_small_scan

# The held-out "benchmark" slice is carved deterministically from the corpus
# itself (no separate eval fixture exists): doc_id % 37 == 0 → ~2.7% of docs.
_EVAL_PRED = "doc_id % 37 = 0"


def _grams8(w: str = "w"):
    """Word 8-grams as an array column (JVM-side, no UDF), over a BOUND
    token-array attribute — callers pin the split behind a Generate
    barrier first. The r1–r9 form took the raw text column and split it
    INSIDE the expression; CollapseProject then inlined that split into
    the transform's lambda, re-tokenizing the document once per gram
    (O(L²)/doc — caught by the r10 plan-audit lambda-rederive gate).

    Texts shorter than 8 tokens emit ONE truncated gram (slice() stops at
    the array end); the oracle mirrors the guard with greatest() on the
    range bound — same convention as llm/dedup.py shingled().
    """
    return F.expr(
        f"transform(sequence(1, greatest(size({w}) - 7, 1)),"
        f" i -> array_join(slice({w}, i, 8), ' '))"
    )


@query(
    "q_llm_decontaminate",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), g AS (
      SELECT doc_id,
             unnest([array_to_string(w[i:i+7], ' ')
                     for i in range(1, greatest(len(w) - 6, 2))]) AS gram
      FROM w
    ), eg AS (
      SELECT DISTINCT gram FROM g WHERE {_EVAL_PRED}
    ), bad AS (
      SELECT DISTINCT g.doc_id FROM g JOIN eg USING (gram)
      WHERE NOT ({_EVAL_PRED.replace('doc_id', 'g.doc_id')})
    )
    SELECT doc_id, lang, source FROM documents
    WHERE NOT ({_EVAL_PRED})
      AND doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def q_llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs that share NO word 8-gram
    with the held-out slice survive.

    100 TB plan: the eval side is small by construction (benchmarks are
    MBs, corpora are TBs), so its distinct gram set broadcasts — but the
    broadcast is AQE's runtime decision, not a forced hint. A forced
    F.broadcast() here is an OOM cliff the day the held-out slice
    outgrows the driver (the r8 100× probe deliberately violated the
    small-eval contract and the hint still shipped a corpus-scale gram
    set to every task); unhinted, AQE broadcasts from MEASURED stats at
    the contract's shape and degrades to a shuffle semi join on the gram
    key past it — still no pairwise comparison anywhere. Measured
    (order-controlled, both scales): the hint buys nothing even when it
    wins the plan, so robustness is free. The final removal is an anti
    join on doc_id (contaminated ids ≪ corpus).
    """
    d = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 37 == 0
    # r14 (guide §2.5; VERDICT r13 #6): the gram explode+hash is the
    # key's dominant work and ran on the single scan partition of the
    # one-file fixture — the 0.95 core-scaling ratio in PERF_r13 was
    # this serial stage, not machinery. spread_small_scan round-robins
    # the docs across cores ONLY when the scan is sub-core-count (no-op
    # at real scale); projected to (doc_id, text) first so the spread
    # moves no unused columns (guide §2.3).
    toks = spread_small_scan(d.select("doc_id", "text")).select(
        "doc_id", F.explode(F.array(F.split("text", " "))).alias("w")
    )
    grams = toks.select("doc_id", F.explode(_grams8("w")).alias("gram"))
    eval_grams = grams.filter(is_eval).select("gram").distinct()
    contaminated = (
        grams.filter(~is_eval)
        .join(eval_grams, "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        d.filter(~is_eval)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
    )


_PACK_BUDGET = 256


@query(
    "q_llm_pack_sequences",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, source,
             len(string_split(text, ' '))::BIGINT AS n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ), packs AS (
      SELECT source, rn, doc_id, n_tokens,
             0::BIGINT AS pack_id, n_tokens AS fill
      FROM toks WHERE rn = 1
      UNION ALL
      SELECT t.source, t.rn, t.doc_id, t.n_tokens,
             CASE WHEN p.fill + t.n_tokens > {_PACK_BUDGET}
                  THEN p.pack_id + 1 ELSE p.pack_id END,
             CASE WHEN p.fill + t.n_tokens > {_PACK_BUDGET}
                  THEN t.n_tokens ELSE p.fill + t.n_tokens END
      FROM packs p JOIN toks t ON t.source = p.source AND t.rn = p.rn + 1
    )
    SELECT doc_id, source, n_tokens, pack_id FROM packs
    """,
)
def q_llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit sequence packing: per source, documents in doc_id
    order accumulate into context windows of {_PACK_BUDGET} tokens; a doc
    that would overflow starts the next pack (oversized docs get a pack of
    their own).

    The fold over each group is inherently sequential, so it runs as ONE
    applyInPandas (Arrow-batched) per group — but tokenization stays
    JVM-side: only (doc_id, source, n_tokens) enters Python, never text.

    100 TB plan: groups are bounded (a source-shard, not the corpus), and
    packing is embarrassingly parallel ACROSS groups; at real scale the
    group key becomes (source, shard) with shard = a hash/range split so
    no group exceeds one task, which changes pack boundaries only at shard
    seams — greedy packing is a per-shard streaming pass by definition.
    The oracle replays the identical fold as a DuckDB recursive CTE.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack_ids = []
        pack_id, fill = 0, 0
        for n in pdf["n_tokens"]:
            if fill + n > _PACK_BUDGET and fill > 0:
                pack_id += 1
                fill = 0
            fill += n
            pack_ids.append(pack_id)
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int64")
        return pdf[["doc_id", "source", "n_tokens", "pack_id"]]

    return d.groupBy("source").applyInPandas(
        pack, "doc_id long, source string, n_tokens long, pack_id long"
    )


@query(
    "q_llm_sample_stratified",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY sha256(doc_id::VARCHAR), doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, lang, rk FROM ranked WHERE rk <= 25
    """,
)
def q_llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sample: 25 docs per language, chosen by ranking on
    a cryptographic hash of the doc id — deterministic, uniform, and
    engine-independent (rand()-based sampling can never be oracle-checked;
    hash-ranked sampling is the reproducible production pattern).

    100 TB plan: the window partitions by stratum (bounded count), and
    rank ≤ k means each task only ever needs the k smallest hashes — at
    scale this becomes per-partition top-k + re-rank of #partitions × k
    survivors (the limit-before-rank pattern of sorts.py); the per-stratum
    window form is kept here because strata (languages) are few and the
    driver compares full output. No data-dependent skew: the hash is
    uniform by construction.
    """
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy(
        F.sha2(F.col("doc_id").cast("string"), 256), F.col("doc_id")
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 25)
    )


@query(
    "q_llm_quantize",
    oracle="""
    SELECT vec_id,
           round(mn, 6) AS zero_point,
           round((mx - mn) / 255.0, 9) AS scale,
           array_to_string(
             CASE WHEN mx = mn THEN [0 FOR x IN e]::BIGINT[]
                  ELSE [floor((x - mn) * 255.0 / (mx - mn) + 0.5)::BIGINT
                        FOR x IN e]
             END, ',') AS q
    FROM (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             list_min(embedding::DOUBLE[]) AS mn,
             list_max(embedding::DOUBLE[]) AS mx
      FROM embeddings
    )
    """,
)
def q_llm_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector affine int8 quantization of the embedding column:
    q[i] = round((x[i] - min) / scale) with scale = (max - min)/255 —
    the storage layout ANN systems ship to disk (4× smaller than float32,
    16× smaller than the double upcast).

    Pure map-side array HOFs (transform/array_min/array_max) inside
    whole-stage codegen — no UDF, no shuffle, no state. Rounds via
    floor(x + 0.5) on BOTH engines (module docstring: Spark's HALF_UP
    BigDecimal round() vs DuckDB's float round() diverge on exact .5).
    Floats upcast to double BEFORE arithmetic so both engines fold the
    identical IEEE sequence; mx = mn (constant vector) degenerates to
    all-zero codes on both sides.

    The code vector is emitted as a comma-joined STRING (not ArrayType):
    the driver's pandas canonicalizer cannot sort list cells (r03
    q_arr_basic RED row). Lossless — bigint→string is identical in both
    engines.
    """
    e = load_table(spark, sf_dir, "embeddings")
    d = F.expr("transform(embedding, x -> cast(x as double))")
    out = e.select(
        "vec_id",
        d.alias("e"),
        F.array_min(d).alias("mn"),
        F.array_max(d).alias("mx"),
    )
    q = F.expr(
        "CASE WHEN mx = mn THEN transform(e, x -> cast(0 as bigint)) "
        "ELSE transform(e, x -> cast(floor((x - mn) * 255.0 / (mx - mn) + 0.5)"
        " as bigint)) END"
    )
    return out.select(
        "vec_id",
        F.round("mn", 6).alias("zero_point"),
        F.round((F.col("mx") - F.col("mn")) / 255.0, 9).alias("scale"),
        F.array_join(F.transform(q, lambda x: x.cast("string")), ",").alias("q"),
    )


# ---------------------------------------------------------------------------
# Second prep batch: redaction, chunking, mixture sampling, global shuffle.
# ---------------------------------------------------------------------------

# The fixture corpus is clean word salad — no PII to find — so the redaction
# key INJECTS deterministic synthetic PII (email/phone/IP derived from
# doc_id) and then proves the scrubber removes every occurrence. Patterns
# are written in the common Java-regex/RE2 subset (no lookarounds, no \b).
_PII_EMAIL = "[a-z0-9.]+@[a-z.]+"
_PII_PHONE = "[+]1-555-[0-9]{4}"
_PII_IP = "10[.]0[.][0-9]+[.]1"


@query(
    "q_llm_redact_pii",
    oracle="""
    WITH dirty AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@mail.example.com or' ||
             ' +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
             ' ip 10.0.' || (doc_id % 256) || '.1' AS text
      FROM documents
    )
    SELECT doc_id,
           (len(regexp_extract_all(text, '[a-z0-9.]+@[a-z.]+'))
            + len(regexp_extract_all(text, '[+]1-555-[0-9]{4}'))
            + len(regexp_extract_all(text, '10[.]0[.][0-9]+[.]1')))::BIGINT
             AS n_pii,
           sha256(regexp_replace(regexp_replace(regexp_replace(text,
                    '[a-z0-9.]+@[a-z.]+', '<EMAIL>', 'g'),
                    '[+]1-555-[0-9]{4}', '<PHONE>', 'g'),
                    '10[.]0[.][0-9]+[.]1', '<IP>', 'g')) AS redacted_sha
    FROM dirty
    """,
)
def q_llm_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: inject deterministic synthetic email/phone/IP per doc
    (the fixture has none — SURVEY.md §0 honesty rule), then scrub with a
    regexp_replace chain and emit the match count plus a hash of the
    scrubbed text so the oracle verifies byte-identical redaction.

    100 TB plan: pure map-side string work inside whole-stage codegen — no
    UDF, no shuffle, no state; the regex set is a compile-time constant
    per task. This is exactly how a production scrubber runs: one pass,
    pattern count as the audit metric, content hash as the proof.
    """
    d = load_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".1"),
    )
    n_pii = (
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), F.lit(0)))
        + F.size(F.regexp_extract_all("text", F.lit(_PII_PHONE), F.lit(0)))
        + F.size(F.regexp_extract_all("text", F.lit(_PII_IP), F.lit(0)))
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE, "<PHONE>",
        ),
        _PII_IP, "<IP>",
    )
    return (
        d.select("doc_id", dirty.alias("text"))
        .select(
            "doc_id",
            n_pii.cast("long").alias("n_pii"),
            F.sha2(redacted, 256).alias("redacted_sha"),
        )
    )


_CHUNK_SIZE = 64
_CHUNK_STRIDE = 48


@query(
    "q_llm_chunk",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), starts AS (
      SELECT doc_id, w, unnest(range(1, len(w) + 1, {_CHUNK_STRIDE})) AS s
      FROM w
    )
    SELECT doc_id,
           ((s - 1) // {_CHUNK_STRIDE})::BIGINT AS chunk_id,
           len(w[s:s+{_CHUNK_SIZE - 1}])::BIGINT AS chunk_len,
           sha256(array_to_string(w[s:s+{_CHUNK_SIZE - 1}], ' ')) AS chunk_sha
    FROM starts
    """,
)
def q_llm_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking: {_CHUNK_SIZE}-token chunks every
    {_CHUNK_STRIDE} tokens (16-token overlap) — the standard long-document
    treatment before embedding or context-window training.

    100 TB plan: explode over a stepped sequence() of chunk starts — pure
    map-side array work, output rows ≈ input tokens / stride, no shuffle.
    The chunk content crosses to the oracle as a sha256, keeping the
    compared payload small while still proving byte-identical slicing.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    starts = F.sequence(F.lit(1), F.size(toks), F.lit(_CHUNK_STRIDE))
    chunk = F.expr(f"slice(split(text, ' '), s, {_CHUNK_SIZE})")
    return (
        d.select("doc_id", F.explode(starts).alias("s"))
        .join(d.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            F.floor((F.col("s") - 1) / _CHUNK_STRIDE).cast("long").alias("chunk_id"),
            F.size(chunk).cast("long").alias("chunk_len"),
            F.sha2(F.array_join(chunk, " "), 256).alias("chunk_sha"),
        )
    )


_MIX_TOKEN_BUDGET = 250


@query(
    "q_llm_mix_domains",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, len(string_split(text, ' '))::BIGINT AS n_tokens
      FROM documents
    ), ranked AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY source
               ORDER BY sha256(doc_id::VARCHAR), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM toks
    )
    SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ranked WHERE cum_tokens <= {_MIX_TOKEN_BUDGET}
    """,
)
def q_llm_mix_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing: every source contributes at most
    {_MIX_TOKEN_BUDGET} tokens, filled in deterministic hash order — the
    token-budget form of "equalize the training mixture across domains"
    (hash order ⇒ an unbiased, reproducible subsample of each domain).

    100 TB plan: one shuffle on the domain key, then a running sum inside
    each domain partition; the budget cut-off means downstream only ever
    sees ~budget × #domains tokens regardless of corpus size. Domains are
    bounded and the hash order is uniform, so no skew amplification; at
    real scale the same shape runs per (domain, shard) with per-shard
    budgets, exactly like the packing operator.
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.sha2(F.col("doc_id").cast("string"), 256), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= _MIX_TOKEN_BUDGET)
    )


@query(
    "q_llm_global_shuffle",
    oracle="""
    SELECT doc_id,
           row_number() OVER (ORDER BY sha256(doc_id::VARCHAR), doc_id)
             AS position
    FROM documents
    """,
)
def q_llm_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets a
    unique position in a pseudorandom (hash-ordered) total order — the
    reproducible alternative to orderBy(rand()) for fixing an epoch's
    sample order.

    100 TB plan: built on ranking.global_row_number (repartitionByRange on
    the hash + per-partition row_number + broadcast prefix offsets), so
    there is NO single-task global sort anywhere — the exact pattern that
    replaced round 1's bare Window.orderBy. The hash key is uniform by
    construction, which makes the range partitioning perfectly balanced.
    (Also a live regression probe for ranking.py's exchange-reuse fix: this
    caller projects a column — doc_id — that is not the leading sort key.)
    """
    from token_burn_listener_spark.operators.ranking import global_row_number

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.sha2(F.col("doc_id").cast("string"), 256).alias("_h")
    )
    ranked = global_row_number(
        d, [F.col("_h").asc(), F.col("doc_id").asc()], "position"
    )
    return ranked.select("doc_id", F.col("position").cast("long").alias("position"))


@query(
    "q_llm_inverted_index",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), p AS (
      SELECT doc_id,
             unnest([{'tok': w[i], 'pos': i} for i in range(1, len(w)+1)]) AS u
      FROM w
    )
    SELECT u.tok AS term,
           count(*) AS tf,
           count(DISTINCT doc_id) AS df,
           string_agg(lpad(doc_id::VARCHAR, 12, '0') || ':' ||
                      lpad((u.pos)::VARCHAR, 7, '0'),
                      ',' ORDER BY doc_id, u.pos) AS postings
    FROM p GROUP BY u.tok
    """,
)
def q_llm_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: term → (term freq, doc freq, positional
    posting list) — the search-engine core structure, built relationally:
    posexplode positions, one group-by on the term, posting lists as
    zero-padded `doc:pos` strings so lexicographic sort ≡ (doc_id, pos)
    numeric order (making the list oracle-comparable byte-for-byte).

    100 TB plan: one shuffle keyed on the term. Hot terms (stopwords) make
    posting lists that cannot live in one aggregation buffer at corpus
    scale — the production layout shards the key to (term, doc_id range)
    so each shard's list is bounded, and readers merge shards lazily;
    same plan shape, bounded state. df via count(DISTINCT doc_id) folds
    into the same aggregation.
    """
    d = load_table(spark, sf_dir, "documents")
    p = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    # Pad widths 12/7 keep the encoding injective (lpad TRUNCATES overlong
    # strings, silently breaking lexicographic==numeric order) up to 1e12
    # docs / 1e7 token positions — far beyond any 100 TB corpus partition.
    entry = F.concat(
        F.lpad(F.col("doc_id").cast("string"), 12, "0"),
        F.lit(":"),
        F.lpad((F.col("pos") + 1).cast("string"), 7, "0"),
    )
    return (
        p.select(F.col("tok").alias("term"), "doc_id", entry.alias("e"))
        .groupBy("term")
        .agg(
            F.count("*").alias("tf"),
            F.count_distinct("doc_id").alias("df"),
            F.array_join(F.array_sort(F.collect_list("e")), ",").alias("postings"),
        )
    )


def _winnow_batches(it):
    """Arrow-batched winnowing kernel (see q_llm_winnow): numpy rolling
    polynomial + window-min per document. Code points come from a
    utf-32-le reinterpret of the encoded text — exact ord() values with
    zero per-char Python, matching the oracle's ord(substring(...)).
    int64 is safe without intermediate mods: max code point 0x10FFFF
    × 31⁴ ≈ 1.03e12 per term, ~5.2e12 per gram sum."""
    import numpy as np
    import pandas as pd

    p = 2147483647
    for pdf in it:
        out_n, out_w = [], []
        for text in pdf["text"]:
            if text is None:
                # Out-of-contract input (the documents fixture guarantees
                # non-null text): fail legibly instead of an AttributeError
                # aborting the stage — the JVM form this kernel replaced
                # degraded null-safely, so the contract must be explicit.
                raise ValueError(
                    "q_llm_winnow: null text violates the documents "
                    "contract (non-null text); filter nulls upstream"
                )
            codes = np.frombuffer(
                text.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            if len(codes) == 0:
                # split('') on empty text yields [''] with ascii('') = 0
                # on the SQL side; mirror that single zero code
                codes = np.zeros(1, dtype=np.int64)
            if len(codes) >= 5:
                h = (
                    codes[:-4] * 923521
                    + codes[1:-3] * 29791
                    + codes[2:-2] * 961
                    + codes[3:-1] * 31
                    + codes[4:]
                ) % p
            else:
                acc = 0
                for c in codes:  # < 5 iterations by construction
                    acc = (acc * 31 + int(c)) % p
                h = np.array([acc], dtype=np.int64)
            if len(h) >= 4:
                m = np.minimum.reduce([h[:-3], h[1:-2], h[2:-1], h[3:]])
            else:
                m = h.min(keepdims=True)
            out_n.append(len(h))
            out_w.append(",".join(map(str, np.unique(m))))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "n_grams": out_n, "winnow": out_w}
        )


@query(
    "q_llm_winnow",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             [ord(substring(text, i, 1))::BIGINT
              for i in range(1, length(text) + 1)] AS codes
      FROM documents
    ), h AS (
      SELECT doc_id,
             [list_reduce([0::BIGINT] || codes[i:i+4],
                          (a, b) -> (a * 31 + b) % 2147483647)
              for i in range(1, greatest(len(codes) - 3, 2))] AS h
      FROM c
    )
    SELECT doc_id, len(h)::BIGINT AS n_grams,
           array_to_string(list_sort(list_distinct(
             [list_min(h[j:j+3])
              for j in range(1, greatest(len(h) - 2, 2))])), ',') AS winnow
    FROM h
    """,
)
def q_llm_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint (the MOSS algorithm): hash every 5-gram with
    the deterministic polynomial hash, slide a window of 4 hashes, keep
    each window's minimum — the guaranteed-coverage robust fingerprint
    (any match of ≥ window+gram-1 chars shares a selected hash).

    Complements q_llm_fingerprint (whole-doc hash: exact dup only) and
    q_llm_simhash (seeded, rows-only): winnowing is positional, local, and
    oracle-exact because the hash is the same integer fold on both engines
    (the numpy polynomial defers the mod — exact in int64, see the kernel).

    100 TB plan: map-only, zero shuffle — mapInPandas over the scan, the
    one declared Python kernel outside B11, promoted on MEASUREMENT
    (VERDICT r9 #2 prescribed trying both): at 5 M docs the r9
    aggregate-over-slice HOF form cost 335.7 s, the r10 flat-polynomial
    SQL form (one expanded mod-deferred polynomial per gram, least() over
    element_at for the window min; SCALE.md, "Round 10 runs") cut it to
    95.3 s, and this Arrow kernel to 24.5 s (factor 20.9 vs 44.5 at
    1000×), value-identical on all three. Interpreted per-char lambda dispatch is the cost the JVM forms
    cannot shed — winnowing is ~10·L scalar ops per doc and the
    vectorized numpy pipeline amortizes them to ~5 array ops per doc.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        _winnow_batches, schema="doc_id bigint, n_grams bigint, winnow string"
    )


_PRUNE_SIM = 0.35


@query(
    "q_llm_semantic_prune",
    oracle=f"""
    WITH cent AS (
      SELECT label, pos, round(avg(val), 6) AS c FROM (
        SELECT label, unnest(range(len(embedding))) AS pos,
               unnest(embedding::DOUBLE[]) AS val
        FROM embeddings) x
      GROUP BY 1, 2
    ), v AS (
      SELECT vec_id, label, unnest(range(len(embedding))) AS pos,
             unnest(embedding::DOUBLE[]) AS val
      FROM embeddings
    )
    SELECT vec_id, v.label,
           round(sum(val * c)
                 / NULLIF(sqrt(sum(val * val)) * sqrt(sum(c * c)), 0), 6)
             AS centroid_sim,
           (sum(val * c)
            / NULLIF(sqrt(sum(val * val)) * sqrt(sum(c * c)), 0)
            >= {_PRUNE_SIM}) AS pruned
    FROM v JOIN cent ON v.label = cent.label AND v.pos = cent.pos
    GROUP BY 1, 2
    """,
)
def q_llm_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning: score every embedding by cosine to
    its own cluster centroid and flag near-centroid vectors (≥ {_PRUNE_SIM})
    as redundant — the "drop semantically duplicated training points"
    technique, here with the fixture's label column as the cluster
    assignment (the k-means step at scale).

    100 TB plan: fully relational — vectors posexplode to 64 skinny rows,
    join the 640-row centroid table (broadcast), and fold back to one row
    per vector in a single aggregation; no UDF, no driver-side vectors.
    Centroids are rounded to 6 dp on BOTH engines (the q_llm_centroids
    convention) so the downstream float products start from identical
    inputs.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id",
        "label",
        F.posexplode(F.expr("transform(embedding, x -> cast(x as double))")).alias(
            "pos", "val"
        ),
    )
    cent = (
        v.groupBy(F.col("label").alias("cl"), F.col("pos").alias("cp"))
        .agg(F.round(F.avg("val"), 6).alias("c"))
    )
    # NULLIF (both engines): an all-zero vector or centroid would zero the
    # denominator — Spark 4's ANSI mode THROWS on the double division
    # (the q_evt_pareto crash class) where DuckDB yields NULL; cosine is
    # undefined there, so both sides yield a deterministic NULL (and a
    # NULL `pruned` flag — such vectors need an explicit policy upstream).
    # Unlike the top-k/pair keys (which REJECT zero vectors at the scan,
    # similarity.nonzero), this audit keeps the degenerate row VISIBLE —
    # proven by tests/test_degenerate.py.
    sim = F.sum(F.col("val") * F.col("c")) / F.nullif(
        F.sqrt(F.sum(F.col("val") * F.col("val")))
        * F.sqrt(F.sum(F.col("c") * F.col("c"))),
        F.lit(0.0),
    )
    return (
        v.join(
            F.broadcast(cent),
            (v["label"] == F.col("cl")) & (v["pos"] == F.col("cp")),
        )
        .groupBy("vec_id", "label")
        .agg(
            F.round(sim, 6).alias("centroid_sim"),
            (sim >= _PRUNE_SIM).alias("pruned"),
        )
    )


@query(
    "q_llm_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN b < 230 THEN 'train'
                WHEN b < 243 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 CAST(('0x' || substr(sha256(doc_id::VARCHAR), 1, 2)) AS BIGINT) AS b
          FROM documents)
    """,
)
def q_llm_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (~90/5/5) from the first
    byte of sha256(doc_id): the split of a document never changes as the
    corpus grows or is re-partitioned — the property that keeps eval sets
    leak-free across pipeline re-runs (random splits re-shuffle membership
    every run and silently contaminate eval).

    100 TB plan: pure map-side projection — no shuffle, no state; the split
    can be consumed as a partition column by the sink.
    """
    d = load_table(spark, sf_dir, "documents")
    b = F.conv(F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 2), 16, 10).cast("long")
    return d.select(
        "doc_id",
        F.when(b < 230, "train").when(b < 243, "val").otherwise("test").alias("split"),
    )


_BUCKET_TOKENS = 64  # length-bucket width (tokens)
_BATCH_DOCS = 16  # docs per training batch within a bucket


@query(
    "q_llm_length_buckets",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           n_tokens // {_BUCKET_TOKENS} AS bucket,
           CAST((row_number() OVER (
              PARTITION BY n_tokens // {_BUCKET_TOKENS}
              ORDER BY sha256(doc_id::VARCHAR), doc_id) - 1)
             // {_BATCH_DOCS} AS BIGINT) AS batch_id
    FROM toks
    """,
)
def q_llm_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assignment: docs are grouped into fixed-width
    token-length buckets (floor(n_tokens / 64)), then packed into training
    batches of 16 docs in deterministic hash order within each bucket —
    the standard padding-minimization trick (batching similar lengths cuts
    pad-token waste) with reproducible batch membership.

    100 TB plan: bucketing is map-only (fixed-width, no quantile pass);
    the per-bucket window shuffles once on the bucket key. Buckets are
    bounded (max doc length / 64) but individually large — at scale the
    within-bucket rank swaps to ranking.global_row_number applied per
    bucket (repartitionByRange on (bucket, hash)), same composition as
    q_llm_global_shuffle; the window form is kept where the driver
    compares full output.
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    bucket = (F.col("n_tokens") / _BUCKET_TOKENS).cast("long")
    w = Window.partitionBy("bucket").orderBy(
        F.sha2(F.col("doc_id").cast("string"), 256), F.col("doc_id")
    )
    return (
        toks.withColumn("bucket", bucket)
        .withColumn(
            "batch_id",
            ((F.row_number().over(w) - 1) / _BATCH_DOCS).cast("long"),
        )
    )


@query(
    "q_llm_leak_check",
    oracle="""
    WITH assigned AS (
      SELECT sha256(text) AS sha,
             CASE WHEN CAST(('0x' || substr(sha256(doc_id::VARCHAR), 1, 2))
                            AS BIGINT) < 230 THEN 'train'
                  WHEN CAST(('0x' || substr(sha256(doc_id::VARCHAR), 1, 2))
                            AS BIGINT) < 243 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ), groups AS (
      SELECT sha, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT split) AS BIGINT) AS n_splits
      FROM assigned GROUP BY sha
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_groups,
           CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_leaked_groups,
           CAST(sum(CASE WHEN n_splits > 1 THEN n_docs ELSE 0 END) AS BIGINT)
             AS n_leaked_docs
    FROM groups
    """,
)
def q_llm_leak_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit: exact-duplicate text groups whose members
    land in DIFFERENT splits under the deterministic sha256(doc_id)
    assignment (q_llm_split). The hash split is content-blind by design —
    byte-identical duplicates CAN straddle the eval boundary, and this is
    the check that catches them before they inflate eval numbers (the fix:
    dedup before splitting, or split on sha256(text) instead).

    100 TB plan: one shuffle on the content sha aggregating (count,
    distinct-split count) per group; the report is a 1-row rollup of the
    group table. Nothing but hashes and split labels moves.
    """
    d = load_table(spark, sf_dir, "documents")
    byte = F.conv(
        F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 2), 16, 10
    ).cast("long")
    split = (
        F.when(byte < 230, "train").when(byte < 243, "val").otherwise("test")
    )
    groups = (
        d.select(F.sha2("text", 256).alias("sha"), split.alias("split"))
        .groupBy("sha")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("split").alias("n_splits"),
        )
    )
    return groups.agg(
        F.count("*").alias("n_groups"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias("n_dup_groups"),
        F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0)).alias(
            "n_leaked_groups"
        ),
        F.sum(
            F.when(F.col("n_splits") > 1, F.col("n_docs")).otherwise(0)
        ).alias("n_leaked_docs"),
    )


@query(
    "q_llm_curriculum",
    oracle="""
    WITH staged AS (
      SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,
             ntile(3) OVER (ORDER BY len(string_split(text, ' ')), doc_id)
               AS phase
      FROM documents
    )
    SELECT doc_id, n_tokens, phase,
           row_number() OVER (PARTITION BY phase
                              ORDER BY sha256(doc_id::VARCHAR), doc_id)
             AS rank_in_phase
    FROM staged
    """,
)
def q_llm_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning order: three length-staged phases (short docs
    first — the classic easy→hard schedule), with a DETERMINISTIC
    pseudo-random order inside each phase (rank over sha256(doc_id), the
    same hash-ranked trick as q_llm_global_shuffle) so re-runs reproduce
    the exact same training order.

    100 TB plan: NTILE semantics without a single-task window — both
    ranks ride ranking.global_row_number (range-partition + per-partition
    rank + broadcast prefix offsets), the phase derives from the global
    rank via ntile_from_rank arithmetic, and the within-phase rank is the
    second global rank minus a broadcast 3-row phase-offset join. The
    only single-partition exchanges left carry #partitions-row count
    aggregates (the documented prefix-offset shape).
    """
    from token_burn_listener_spark.operators.ranking import (
        global_row_number,
        ntile_from_rank,
        with_total_count,
    )

    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    staged = d.select("doc_id", n_tokens.alias("n_tokens"))
    ranked = with_total_count(
        global_row_number(staged, [F.col("n_tokens"), F.col("doc_id")], "_g")
    )
    phased = ranked.select(
        "doc_id",
        "n_tokens",
        ntile_from_rank(F.col("_g"), F.col("_n"), 3).alias("phase"),
    ).withColumn("_h", F.sha2(F.col("doc_id").cast("string"), 256))
    g2 = global_row_number(
        phased, [F.col("phase"), F.col("_h"), F.col("doc_id")], "_g2"
    )
    counts = g2.groupBy("phase").agg(F.count("*").alias("_cnt"))
    prefix = Window.orderBy("phase").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "phase", F.coalesce(F.sum("_cnt").over(prefix), F.lit(0)).alias("_off")
    )
    return (
        g2.join(F.broadcast(offsets), "phase")
        .select(
            "doc_id",
            "n_tokens",
            "phase",
            (F.col("_g2") - F.col("_off")).cast("int").alias("rank_in_phase"),
        )
    )


_MIX_N = 200  # total docs the temperature-mixed sample targets
_MIX_DENOM_DP = 6  # denominator rounding: kills summation-order ulps


@query(
    "q_llm_temperature_mix",
    oracle=f"""
    WITH c AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
    den AS (SELECT round(sum(sqrt(n_l)), {_MIX_DENOM_DP}) AS denom FROM c),
    tg AS (
      SELECT lang, CAST(floor({_MIX_N} * sqrt(n_l) / denom) AS BIGINT)
               AS target
      FROM c, den
    ),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY sha256(doc_id::VARCHAR), doc_id)
               AS sel_rank
      FROM documents
    )
    SELECT doc_id, lang, sel_rank
    FROM r JOIN tg USING (lang) WHERE sel_rank <= target
    """,
)
def q_llm_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted (α = 0.5) language mixing — the standard
    multilingual-pretraining sampler: per-language budget ∝ n_lang^α, so
    low-resource languages are up-weighted relative to their corpus share
    without drowning the high-resource head. Selection inside each
    language is the deterministic sha-ranked sample (re-runs reproduce
    the exact mixture).

    α = 0.5 is written as sqrt(), never pow(x, 0.5): sqrt is
    correctly-rounded IEEE on both engines, pow is not guaranteed to be.
    The Σ√n denominator is rounded before use so aggregation-order ulps
    cannot shift a floor() boundary.

    100 TB plan: budgets come from a languages-sized aggregate
    (broadcast). The per-language rank window is exact here; at corpus
    scale selection switches to the map-only hash-threshold form (keep
    doc if sha prefix < target/n_l as a 64-bit fraction — no rank, no
    shuffle) at the cost of ±binomial jitter around the budget.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_l"))
    denom = counts.agg(
        F.round(F.sum(F.sqrt("n_l")), _MIX_DENOM_DP).alias("denom")
    )
    targets = counts.crossJoin(F.broadcast(denom)).select(
        "lang",
        F.floor(_MIX_N * F.sqrt("n_l") / F.col("denom"))
        .cast("long")
        .alias("target"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.sha2(F.col("doc_id").cast("string"), 256), "doc_id"
    )
    return (
        d.select("doc_id", "lang")
        .withColumn("sel_rank", F.row_number().over(w))
        .join(F.broadcast(targets), "lang")
        .filter(F.col("sel_rank") <= F.col("target"))
        .select("doc_id", "lang", "sel_rank")
    )


_WS_K = 50  # sample size

# Efraimidis-Spirakis key in log space: ln(u)/w for a hash-derived
# uniform u in (0,1] — monotone in u^(1/w), so top-k by this key IS the
# weighted sample; per-row float math on shared expression text.
_WS_U = (
    "(CAST(conv(substring(sha2(CAST(doc_id AS STRING), 256), 1, 12), 16, 10)"
    " AS DOUBLE) + 1.0) / 281474976710656.0"
)
_WS_U_DUCK = (
    "(CAST(('0x' || substr(sha256(doc_id::VARCHAR), 1, 12)) AS BIGINT)"
    "::DOUBLE + 1.0) / 281474976710656.0"
)


@query(
    "q_llm_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source,
             len(string_split(text, ' '))::BIGINT AS w,
             round(ln({_WS_U_DUCK})
                   / len(string_split(text, ' ')), 12) AS es_key
      FROM documents
    ), top AS (
      SELECT doc_id, source, w, es_key FROM keyed
      ORDER BY es_key DESC, doc_id LIMIT {_WS_K}
    )
    SELECT doc_id, source, w, es_key,
           row_number() OVER (ORDER BY es_key DESC, doc_id) AS rnk
    FROM top
    """,
)
def q_llm_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement via Efraimidis-Spirakis:
    each doc gets key u^(1/w) (computed in log space: ln(u)/w) for a
    sha-derived uniform u and weight w = token count; the global top-50
    keys ARE the weighted sample — longer documents proportionally more
    likely, no sequential pass, no rejection loop. THE algorithm for
    distributed weighted sampling: the top-k is mergeable across
    partitions, so a 1000-executor corpus samples in one
    TakeOrderedAndProject with zero coordination. sha-derived uniforms
    (vs real RNG) make the sample reproducible across engines and runs
    — a lineage property a training-data pipeline wants anyway.

    Exactness: u is an exact 48-bit dyadic rational (exact in double),
    w an exact integer; ln and the division are per-row with shared
    expression text, rounded to 12 dp (the key only RANKS — its digits
    don't feed downstream math). Unique doc_id tie-break totalizes the
    order.

    100 TB plan: map-only key computation (predicate-free scan,
    projection-pruned to doc_id/source/text), then one global top-50 —
    a TakeOrderedAndProject whose per-partition heaps never exceed k.
    """
    d = load_table(spark, sf_dir, "documents")
    w = F.size(F.split("text", " ")).cast("long")
    keyed = d.select(
        "doc_id",
        "source",
        w.alias("w"),
        F.round(F.log(F.expr(_WS_U)) / w, 12).alias("es_key"),
    )
    top = keyed.orderBy(F.desc("es_key"), "doc_id").limit(_WS_K)
    rnk = Window.orderBy(F.desc("es_key"), "doc_id")
    return top.withColumn("rnk", F.row_number().over(rnk))

"""B10 — text analytics for training-data pipelines (SURVEY.md §2.B10).

Tokenization here is plain SQL ``split`` (whitespace corpus fixture), so
every operator except the hash-based TF-IDF stays exactly oracle-checkable.
All shapes are the standard corpus-prep passes: token stats, document
frequency, n-grams, quality filtering, per-slice corpus stats.

Scale notes (100 TB): explode multiplies rows ~60× here (tokens/doc), so
each aggregation is partial+final on (small-cardinality) token keys —
map-side combine collapses the blow-up before the shuffle. The quality
filter is a pure scan-side predicate (pushdown-friendly). Nothing collects
to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from token_burn_listener_spark.registry import query
from token_burn_listener_spark.tables import load_table, spread_small_scan

def _tokens():
    """Lazy: building a Column requires an active SparkContext."""
    return F.split("text", " ")


@query(
    "q_llm_tokenize",
    oracle="""
    WITH tok AS (
      SELECT lang, doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    )
    SELECT lang, count(*) AS n_tokens,
           count(DISTINCT token) AS n_distinct_tokens,
           count(DISTINCT doc_id) AS n_docs
    FROM tok GROUP BY lang
    """,
)
def q_llm_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization + per-language token statistics."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", "doc_id", F.explode(_tokens()).alias("token"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.countDistinct("token").alias("n_distinct_tokens"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


@query(
    "q_llm_term_stats",
    oracle="""
    WITH tok AS (
      SELECT source, doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    df AS (SELECT token, count(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY token),
    tc AS (SELECT source, token, count(*) AS cnt FROM tok GROUP BY source, token),
    ranked AS (
      SELECT tc.source, tc.token, tc.cnt, df.doc_freq,
             row_number() OVER (PARTITION BY tc.source
                                ORDER BY tc.cnt DESC, tc.token) AS rnk
      FROM tc JOIN df USING (token)
    )
    SELECT source, token, cnt, doc_freq, rnk FROM ranked WHERE rnk <= 5
    """,
)
def q_llm_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per source with corpus-wide document frequency.

    The TF-IDF precursor, exact: per-(source, token) counts, corpus df via
    a broadcastable (token, doc_freq) dim, per-source top-k via a
    partitioned rank window (WindowGroupLimit prunes at scale).
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", "doc_id", F.explode(_tokens()).alias("token"))
    df_ = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("doc_freq"))
    tc = tok.groupBy("source", "token").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), "token")
    return (
        tc.join(df_, "token")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("source", "token", "cnt", "doc_freq", "rnk")
    )


@query("q_llm_tfidf")  # rows-only: HashingTF bucket ids are engine-specific
def q_llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF via HashingTF + IDF (hash-based, so no cross-engine oracle).

    Emits per-doc summary stats of the tf-idf vector (nnz, L2 norm) rather
    than raw bucket ids, keeping the output stable under rehashing.
    """
    from pyspark.ml.feature import IDF, HashingTF
    from pyspark.ml.functions import vector_to_array

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tokens")
    )
    tf = HashingTF(inputCol="tokens", outputCol="tf", numFeatures=4096)
    tfd = tf.transform(d)
    idf = IDF(inputCol="tf", outputCol="tfidf").fit(tfd)
    arr = vector_to_array(F.col("tfidf"))
    return idf.transform(tfd).select(
        "doc_id",
        F.size(F.filter(arr, lambda x: x != 0)).cast("long").alias("nnz"),
        F.round(
            F.sqrt(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x)), 6
        ).alias("l2_norm"),
    )


@query(
    "q_llm_ngrams",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w,
             unnest(range(len(string_split(text, ' ')))) AS i
      FROM documents
    )
    SELECT a.w || ' ' || b.w AS bigram, count(*) AS cnt
    FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    GROUP BY 1
    """,
)
def q_llm_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word bigram counts, array-native (no self-join on the Spark side).

    The bigram array is built in-row with transform(sequence(...)) — the
    oracle's positional self-join computes the same pairs relationally.
    pyspark.ml.feature.NGram produces the identical result; the SQL
    formulation is used so the key stays exactly oracle-checkable.
    """
    d = load_table(spark, sf_dir, "documents")
    # zip_with over two shifted slices, NOT element_at(split(...), i) inside
    # a transform lambda: subexpression elimination only runs OUTSIDE
    # lambdas, so the lambda form re-splits the text once per gram —
    # O(tokens²) per doc (measured 4.5 s → 2.4 s at sf0.1; the remainder
    # is the legitimate explode+groupBy over ~600 k bigrams).
    bigrams = F.expr(
        "zip_with("
        "  slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 1, 0)),"
        "  slice(split(text, ' '), 2, greatest(size(split(text, ' ')) - 1, 0)),"
        "  (a, b) -> concat(a, ' ', b))"
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "q_llm_text_filter",
    oracle="""
    SELECT doc_id, lang, n_chars,
           len(string_split(text, ' ')) AS n_tokens
    FROM documents
    WHERE lang <> 'zh'
      AND n_chars BETWEEN 80 AND 500
      AND len(string_split(text, ' ')) >= 15
      AND n_chars::DOUBLE / len(string_split(text, ' ')) <= 8.0
    """,
)
def q_llm_text_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filtering: language, length bounds, token count, avg word len.

    The canonical corpus-cleaning predicate stack — all scan-side, no
    shuffle; at 100 TB this is a pushed-down filter over the whole corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(_tokens())
    return (
        d.filter(
            (F.col("lang") != "zh")
            & F.col("n_chars").between(80, 500)
            & (n_tokens >= 15)
            & (F.col("n_chars") / n_tokens <= 8.0)
        )
        .select("doc_id", "lang", "n_chars", n_tokens.cast("long").alias("n_tokens"))
    )


@query(
    "q_llm_doc_stats",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(n_chars), 6) AS avg_chars,
           round(quantile_cont(n_chars, 0.9), 6) AS p90_chars
    FROM documents GROUP BY lang, source
    """,
)
def q_llm_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus analytics per (lang, source): counts, char volume, percentiles."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.percentile("n_chars", 0.9), 6).alias("p90_chars"),
    )


@query(
    "q_llm_quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             len([w for w in string_split(text, ' ')
                  if w = 'a' OR w = 'the']) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           floor((0.5 * least(n_chars / 500.0, 1.0)
                  + 0.3 * (1.0 - n_stop::DOUBLE / n_tokens)
                  + 0.2 * least(n_tokens / 100.0, 1.0)) * 1000000 + 0.5)
             / 1000000 AS quality
    FROM t
    """,
)
def q_llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality score: length, stopword ratio, token volume (extra,
    beyond §2.B10 — the scoring twin of q_llm_text_filter).

    The standard corpus-quality heuristic stack as one scan-side expression;
    weights are illustrative, the shape (bounded sub-scores, weighted sum)
    is the production pattern.

    Rounding note: the blend produces EXACT decimal values (rationals over
    500/n_tokens/100), which land on .5 rounding boundaries where Spark's
    BigDecimal HALF_UP and DuckDB's float rounding disagree — so both sides
    round via the identical float expression floor(x*1e6 + 0.5)/1e6.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda w: (w == "a") | (w == "the")))
    score = (
        0.5 * F.least(F.col("n_chars") / 500.0, F.lit(1.0))
        + 0.3 * (1.0 - n_stop.cast("double") / n_tokens)
        + 0.2 * F.least(n_tokens / 100.0, F.lit(1.0))
    )
    quality = F.floor(score * 1000000 + 0.5) / 1000000
    return d.select("doc_id", quality.alias("quality"))


@query(
    "q_llm_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
             [0::BIGINT] || [ord(substring(text, i, 1))::BIGINT
                             for i in range(1, length(text) + 1)],
             (a, b) -> (a * 31 + b) % 2147483647) AS fp
    FROM documents
    """,
)
def q_llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint (extra, beyond §2.B10).

    The Rabin-Karp-style content fingerprint (base 31, Mersenne-prime
    modulus) computed as a pure integer fold over character codes — exactly
    reproducible in any engine, unlike the seeded xxhash64 fingerprints
    (q_llm_simhash), which is why this one is oracle-checked.
    """
    d = load_table(spark, sf_dir, "documents")
    # Char codes via split('') — per-position substring(text, i, 1) would
    # re-scan the UTF8 string to each offset (O(len²) per doc; measured 4×
    # slower at sf0.1).
    fp = F.expr(
        "aggregate(transform(split(text, ''),"
        "                    c -> CAST(ascii(c) AS BIGINT)),"
        " 0L, (a, b) -> (a * 31 + b) % 2147483647)"
    )
    return d.select("doc_id", fp.alias("fp"))


@query(
    "q_llm_lang_id",
    oracle="""
    WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
                 FROM documents),
    langs AS (SELECT DISTINCT lang AS cand FROM documents),
    profile AS (SELECT lang AS cand, token, count(*) AS cnt FROM tok GROUP BY 1, 2),
    totals AS (SELECT lang AS cand, count(*) AS total FROM tok GROUP BY 1),
    vocab AS (SELECT count(DISTINCT token) AS v FROM tok),
    terms AS (
      SELECT t.doc_id, l.cand,
             ln((coalesce(p.cnt, 0) + 1)::DOUBLE / (tt.total + vocab.v)) AS term
      FROM (SELECT doc_id, token FROM tok) t
      CROSS JOIN langs l
      LEFT JOIN profile p ON p.cand = l.cand AND p.token = t.token
      JOIN totals tt ON tt.cand = l.cand
      CROSS JOIN vocab
    ),
    scored AS (SELECT doc_id, cand, round(sum(term), 6) AS score
               FROM terms GROUP BY 1, 2),
    ranked AS (SELECT doc_id, cand, score,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, cand) AS rn
               FROM scored)
    SELECT r.doc_id, r.cand AS pred_lang, d.lang AS true_lang,
           (r.cand = d.lang) AS correct
    FROM ranked r JOIN documents d ON d.doc_id = r.doc_id
    WHERE r.rn = 1
    """,
)
def q_llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via corpus-learned token profiles (extra, beyond §2.B10).

    The n-gram-profile method (naive-Bayes over unigram log-frequencies,
    Laplace-smoothed), learned from the labeled corpus and applied back to
    it — fully relational: profile build is two aggregations, scoring is a
    broadcast join of the (lang, token) profile, argmax is a per-doc rank
    window. NOTE: the fixture's languages share one vocabulary, so accuracy
    is near-chance BY CONSTRUCTION — what the oracle verifies is the exact
    scoring pipeline, which is the part that transfers to a real corpus.

    Scale: profile and totals are tiny dims (V × #langs) → broadcast; the
    scored fact is tokens × #langs, aggregated partial+final per (doc, lang).
    Caveat (VERDICT r2): broadcasting the (lang, token) profile is bounded
    by vocabulary size — fine for a fixed-vocab profile table, but at a
    real 100 TB corpus vocabulary (or open-vocab profiles) it outgrows the
    broadcast threshold and the profile join must become a shuffle hash
    join on token (drop the F.broadcast hint; Spark/AQE picks SHJ).
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(_tokens()).alias("token"))
    # pin the (lang, token) profile and derive langs/totals/vocab FROM it
    # (same sets/sums — profile covers every (lang, token) pair), so the
    # corpus is scanned once for the model build instead of once per
    # derived table (6 static scans measured before the pin)
    profile = (
        tok.groupBy(F.col("lang").alias("cand"), "token")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    langs = profile.select("cand").distinct()
    totals = profile.groupBy("cand").agg(F.sum("cnt").alias("total"))
    vocab = profile.agg(F.countDistinct("token").alias("v"))
    terms = (
        tok.select("doc_id", "token")
        .crossJoin(F.broadcast(langs))
        .join(F.broadcast(profile), ["cand", "token"], "left")
        .join(F.broadcast(totals), "cand")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "cand",
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double")
                / (F.col("total") + F.col("v"))
            ).alias("term"),
        )
    )
    scored = terms.groupBy("doc_id", "cand").agg(
        F.round(F.sum("term"), 6).alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "cand")
    pred = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return pred.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        F.col("cand").alias("pred_lang"),
        F.col("lang").alias("true_lang"),
        (F.col("cand") == F.col("lang")).alias("correct"),
    )


@query(
    "q_llm_token_count",
    oracle=r"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[^aeiou ]*[aeiou]+[^aeiou ]*')) AS n_subwords
    FROM documents
    """,
)
def q_llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + a BPE-ish regex (extra, beyond §2.B10).

    The second count approximates subword units (consonant-vowel-consonant
    chunks) with a greedy regex — the shape a byte-pair/unigram tokenizer
    cost model needs (token-count budgeting per doc) without shipping a
    vocab. Same RE2-compatible pattern on both engines.
    """
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_tokens()).cast("long").alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit(r"[^aeiou ]*[aeiou]+[^aeiou ]*"), 0)
        )
        .cast("long")
        .alias("n_subwords"),
    )


def _trigram_count_batches(it):
    """Arrow-batched trigram-duplication kernel (see q_llm_repetition):
    INTEGER work only — per doc, total and distinct word-trigram counts
    via zip/set over the split token list. Trigram identity as a token
    TUPLE is equivalent to the oracle's space-joined string: split(' ')
    tokens can never contain a space, so ' '-joining is injective. The
    ratio/round float math stays JVM-side (the q_llm_char_entropy
    hybrid split), so cross-engine float identity is untouched."""
    import pandas as pd

    for pdf in it:
        ids, ng, nd = [], [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            if text is None:
                raise ValueError(
                    "q_llm_repetition: null text violates the documents "
                    "contract (non-null text); filter nulls upstream"
                )
            toks = text.split(" ")
            n = len(toks) - 2
            if n <= 0:  # <3 tokens: no trigrams, no row (both engines)
                continue
            ids.append(doc_id)
            ng.append(n)
            nd.append(len(set(zip(toks, toks[1:], toks[2:]))))
        yield pd.DataFrame({"doc_id": ids, "n_grams": ng, "n_distinct": nd})


@query(
    "q_llm_repetition",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             [t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
              for i in range(1, len(t) - 1)] AS grams
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    )
    SELECT doc_id,
           round(1.0 - len(list_distinct(grams))::DOUBLE / len(grams), 6)
           AS rep_ratio
    FROM g WHERE len(grams) > 0
    """,
)
def q_llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition ratio: fraction of duplicate word trigrams per document
    (extra, beyond §2.B10) — the Gopher/C4-style repetitiousness signal
    used to drop boilerplate and degenerate generations from a corpus.

    Per-document work, no shuffle at all: at 100 TB this is a pure
    map-side scan like the other quality signals, and the ratio composes
    with q_llm_text_filter's predicate stack. The counting runs in an
    Arrow mapInPandas kernel emitting exact INTEGERS only (total and
    distinct trigram counts); the 1 - d/n ratio and round(6) stay in the
    JVM with expression text unchanged from the r5–r10 all-JVM form, so
    the oracle argument (identical integer inputs → identical doubles)
    is untouched. Promoted r11 under the SURVEY §6 measurement rule
    (VERDICT r10 #3): the zip_with-over-shifted-slices JVM form — itself
    the measured winner over the element_at-in-lambda O(tokens²) form —
    recorded 65.5 s at 5 M docs in r10 (44.7 s re-measured same-session)
    with its interpreted per-gram concat lambdas; the set-of-tuples
    kernel cuts it to 6.9 s — 6.5× (SCALE.md, "Round 11 runs",
    value-identical on all 5000 fixture rows).
    """
    d = load_table(spark, sf_dir, "documents")
    counted = d.select("doc_id", "text").mapInPandas(
        _trigram_count_batches,
        schema="doc_id bigint, n_grams bigint, n_distinct bigint",
    )
    return counted.select(
        "doc_id",
        F.round(
            1.0 - F.col("n_distinct") / F.col("n_grams"), 6
        ).alias("rep_ratio"),
    )


@query(
    "q_llm_bigram_lm",
    oracle="""
    WITH bi AS (
      SELECT doc_id,
             unnest([substring(text, i, 2) for i in range(1, length(text))])
               AS bg
      FROM documents WHERE length(text) >= 2
    ), c AS (
      SELECT bg, count(*) AS c FROM bi GROUP BY bg
    ), t AS (
      SELECT count(*)::DOUBLE AS total FROM bi
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           round(avg(log10(c / total)), 6) AS lm_score
    FROM bi JOIN c USING (bg), t
    GROUP BY doc_id
    """,
)
def q_llm_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-bigram language-model scoring (extra, beyond §2.B10): train a
    corpus-level character-bigram frequency model, then score every
    document by its mean log10 bigram probability — the KenLM-style
    perplexity filter that corpus pipelines run to drop gibberish and
    off-distribution text, reduced to its self-trained bigram core (no
    external model files in the container).

    100 TB plan (r13 single-pass form, guide §2.3/§2.4): the corpus is
    read and exploded ONCE into per-doc bigram counts — one shuffle on
    (doc_id, bg), partial-aggregated map-side, whose output is ≤
    min(|doc|, charset²) rows per doc (≪ the text bytes for real
    documents). Both the model (a further groupBy on bg over those
    counts — charset²-bounded) and the scoring join consume that ONE
    exchange: the two subtrees are canonically identical, so Spark's
    ReuseExchange materializes the scan+explode+partial-agg once
    (verified in plans/r13/q_llm_bigram_lm_after.txt). The r4–r12 form
    instead read + exploded the corpus TWICE (train pass, score pass) to
    keep zero corpus shuffles; at 100 TB one read + a counts-sized
    shuffle strictly dominates two full reads. The corpus total still
    folds out of the bounded model table (global window over model rows,
    never a corpus rescan, never a driver collect), and the trained
    counts still BROADCAST into the scoring join. Scoring aggregates
    sum(k·log10(p))/sum(k) per doc — the same multiset of log10 terms
    the per-occurrence avg folds, regrouped; round(6) absorbs FP
    regrouping noise exactly as it already absorbs Spark's
    partial-aggregation order (|score| ≈ 4, tail error ≈ 1e-12).
    """
    # r14 (guide §2.5): spread the sub-core-count one-file scan so the
    # char-bigram explode + map-side partial agg parallelize (no-op at
    # real scale — see tables.spread_small_scan); the length gate stays
    # below the spread, so it still pushes to the parquet reader.
    d = spread_small_scan(
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= 2)
        .select("doc_id", "text")
    )
    # Bigrams via zip_with over two shifted char-array slices, NOT
    # substring(text, i, 2) per position: each substring call re-scans the
    # UTF8 string to its offset (O(pos) each → O(len²) per doc); the
    # one-time split('') + shifted zip_with is O(len) and measured 2×
    # faster at sf0.1. Both split() calls sit OUTSIDE the lambda, where
    # codegen's subexpression elimination evaluates them once per row
    # (the q_llm_repetition lesson).
    bi = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(split(text, ''), 1, length(text) - 1),"
                "         slice(split(text, ''), 2, length(text) - 1),"
                "         (a, b) -> concat(a, b))"
            )
        ).alias("bg"),
    )
    # The explicit isnotnull(bg) is vacuously true (bg concatenates
    # non-null chars) but load-bearing for plan shape: the scoring join
    # pushes exactly this filter below ITS copy of percnt, and without
    # the same filter under the model's copy the two subtrees stop being
    # canonically equal — ReuseExchange then can't dedupe them and the
    # corpus scans+explodes twice (verified on the AQE final plan).
    percnt = (
        bi.filter(F.col("bg").isNotNull())
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("k"))
    )
    # Global window is safe here: it runs over the model table (charset²
    # rows, bounded), not over any corpus-sized input.
    model = percnt.groupBy("bg").agg(F.sum("k").alias("c")).withColumn(
        "total", F.sum("c").over(Window.partitionBy()).cast("double")
    )
    logp = F.log10(F.col("c") / F.col("total"))
    return (
        percnt.join(F.broadcast(model), "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.round(
                F.sum(F.col("k") * logp) / F.sum("k").cast("double"), 6
            ).alias("lm_score"),
        )
    )


@query(
    "q_llm_zipf",
    oracle="""
    WITH freq AS (
      SELECT lower(tok) AS token, CAST(count(*) AS BIGINT) AS freq
      FROM documents, unnest(string_split(text, ' ')) AS u(tok)
      WHERE tok <> '' GROUP BY 1
    ), ranked AS (
      SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rank
      FROM freq
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vocab,
           CAST(sum(freq) AS BIGINT) AS total_tokens,
           round(regr_slope(ln(freq), ln(rank)), 4) AS zipf_slope
    FROM ranked WHERE rank <= 500
    """,
)
def q_llm_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-frequency law check: the Zipf slope — the log-log
    linear-regression slope of frequency against rank over the top 500
    token types (natural text sits near -1; a corpus that drifts far off
    signals boilerplate or spam contamination, so this is a cheap
    whole-corpus quality gate).

    100 TB plan: token counting is the standard explode + partial/final
    agg (one shuffle on the token, map-side combine absorbs the heavy
    hitters); the rank is computed by ranking.global_row_number over the
    VOCABULARY (sublinear in corpus size, and truncated to 500 before the
    regression) — no corpus-sized data ever crosses a single-partition
    boundary. regr_slope is a built-in streaming aggregate on both engines.
    """
    from token_burn_listener_spark.operators.ranking import global_row_number

    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy(F.lower("tok").alias("token"))
        .agg(F.count("*").alias("freq"))
    )
    ranked = global_row_number(
        freq, [F.desc("freq"), F.col("token")], "rank"
    ).filter(F.col("rank") <= 500)
    return ranked.agg(
        F.count("*").alias("n_vocab"),
        F.sum("freq").alias("total_tokens"),
        F.round(F.expr("regr_slope(ln(freq), ln(rank))"), 4).alias("zipf_slope"),
    )


_VOCAB_TOP = 200  # vocabulary size for the OOV-coverage gate


@query(
    "q_llm_vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lower(tok) AS token
      FROM documents, unnest(string_split(text, ' ')) AS u(tok)
      WHERE tok <> ''
    ), freq AS (
      SELECT token, count(*) AS freq FROM tok GROUP BY 1
    ), vocab AS (
      SELECT token FROM (
        SELECT token, row_number() OVER (ORDER BY freq DESC, token) AS rank
        FROM freq)
      WHERE rank <= {_VOCAB_TOP}
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS oov_rate
    FROM tok t LEFT JOIN vocab v USING (token)
    GROUP BY t.doc_id
    """,
)
def q_llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage / OOV audit (extra, beyond §2.B10): build the
    top-_VOCAB_TOP token vocabulary from the corpus itself (count-desc,
    token tiebreak — a total order, so the cut is deterministic on both
    engines), then score every document by the fraction of its tokens
    OUTSIDE that vocabulary. This is the tokenizer-fit check run before
    committing a vocab size: a corpus slice with a high OOV rate will
    fragment into byte-fallback tokens and train poorly, and per-doc OOV
    is also a cheap gibberish signal the quality gate can consume.

    Documents with zero (non-empty) tokens have no defined OOV rate and
    produce no row on either engine (the group-by runs over the token
    table, so n_tokens >= 1 by construction — no division guard needed).

    100 TB plan: token counting is the standard explode + partial/final
    agg (one shuffle on the token); the vocabulary cut uses
    ranking.global_row_number over the VOCABULARY (sublinear in corpus
    size — the zipf pattern), and the resulting <= _VOCAB_TOP-row vocab
    BROADCASTS into the scoring join, so the exploded corpus never
    shuffles for membership; the per-doc aggregation partial-combines
    map-side (a doc's tokens are colocated with the doc). Corpus read
    exactly twice — once to count, once to score — like q_llm_bigram_lm.
    """
    from token_burn_listener_spark.operators.ranking import global_row_number

    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .select("doc_id", F.lower("tok").alias("token"))
    )
    freq = tok.groupBy("token").agg(F.count("*").alias("freq"))
    vocab = (
        global_row_number(freq, [F.desc("freq"), F.col("token")], "rank")
        .filter(F.col("rank") <= _VOCAB_TOP)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            oov.alias("n_oov"),
            F.round(oov.cast("double") / F.count("*"), 6).alias("oov_rate"),
        )
    )


_CMS_W = 512  # slots per row
_CMS_D = 4  # hash rows (disjoint 8-hex-char windows of sha256)


@query(
    "q_llm_cms_topk",
    oracle=f"""
    WITH tok AS (
      SELECT lower(tok) AS token
      FROM documents, unnest(string_split(text, ' ')) AS u(tok)
      WHERE tok <> ''
    ), cnt AS (
      SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt FROM tok GROUP BY 1
    ), pairs AS (
      SELECT token, exact_cnt, h,
             CAST(('0x' || substr(sha256(token), 1 + 8 * h, 8)) AS BIGINT)
               % {_CMS_W} AS slot
      FROM cnt CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS h)
    ), sketch AS (
      SELECT h, slot, sum(exact_cnt) AS c FROM pairs GROUP BY 1, 2
    ), top AS (
      SELECT token, exact_cnt FROM cnt ORDER BY exact_cnt DESC, token LIMIT 20
    )
    SELECT t.token, t.exact_cnt, CAST(min(s.c) AS BIGINT) AS est_cnt
    FROM top t
    JOIN pairs p USING (token)
    JOIN sketch s ON p.h = s.h AND p.slot = s.slot
    GROUP BY 1, 2
    """,
)
def q_llm_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters: a _CMS_D × _CMS_W CMS over corpus
    tokens, then point-estimates (min over rows of the hashed slot's
    counter) for the top-20 tokens next to their exact counts — est_cnt >=
    exact_cnt always (counters only over-count), the CMS guarantee the
    parity check exercises on every row.

    Unlike binary-sketch builtins (q_agg_hll_union), this CMS is pure
    relational algebra on a deterministic hash (disjoint sha256 windows),
    so BOTH engines build bit-identical sketch tables and the key is
    exactly oracle-checked, not rows-only.

    100 TB plan: the sketch build is one partial+final agg into d×w = 2048
    counters — constant size regardless of vocabulary; per-shard sketches
    ADD (sum per (h, slot)), which is why production pipelines keep CMS
    columns per partition and merge at read. Candidate top-k via
    sort+limit (TakeOrdered); estimates join the KB-sized broadcast
    sketch.
    """
    d = load_table(spark, sf_dir, "documents")
    # (r14: spread_small_scan tried here and REVERTED after the A/B —
    # the token explode is too light to amortize the round-robin
    # shuffle: median 0.54 -> 0.77 s at sf0.1, same-process interleaved
    # arms. The keys that kept the spread do 8-gram joins / shingling /
    # salted digests per row; this one splits on spaces.)
    cnt = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy(F.lower("tok").alias("token"))
        .agg(F.count("*").alias("exact_cnt"))
        # pinned: cnt feeds the sketch build, the estimate join, and the
        # top-k — unpinned, the token explode+shuffle re-runs per branch
        .localCheckpoint(eager=False)
    )
    sha = F.sha2("token", 256)
    hs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(h).alias("h"),
                    (
                        F.conv(F.substring(sha, 1 + 8 * h, 8), 16, 10).cast("long")
                        % _CMS_W
                    ).alias("slot"),
                )
                for h in range(_CMS_D)
            ]
        )
    )
    pairs = cnt.select("token", "exact_cnt", hs.alias("p")).select(
        "token", "exact_cnt", F.col("p.h").alias("h"), F.col("p.slot").alias("slot")
    )
    sketch = pairs.groupBy("h", "slot").agg(F.sum("exact_cnt").alias("c"))
    top = cnt.orderBy(F.desc("exact_cnt"), "token").limit(20)
    # The top-20's (h, slot) probes are RECOMPUTED on the 20 rows rather
    # than equi-joined out of the full-vocabulary pairs table (r13
    # optimization, guide §2.3): (h, slot) is a deterministic function
    # of the token, so the rows are identical, but the join used to
    # shuffle vocabulary×4 probe rows to look up 80 — at 100 TB a
    # vocab-sized exchange for a constant-sized answer. The sketch side
    # is unchanged (it must fold the FULL vocabulary by definition).
    return (
        top.select("token", "exact_cnt", hs.alias("p"))
        .select("token", "exact_cnt", "p.h", "p.slot")
        .join(F.broadcast(sketch), ["h", "slot"])
        .groupBy("token", "exact_cnt")
        .agg(F.min("c").alias("est_cnt"))
    )


_DSIR_TARGET = "src0"  # the "high-quality target domain" stand-in


@query(
    "q_llm_dsir",
    oracle=f"""
    WITH bi AS (
      SELECT doc_id, source,
             unnest([substring(text, i, 2) for i in range(1, length(text))])
               AS bg
      FROM documents WHERE length(text) >= 2
    ), m AS (
      SELECT bg, count(*) AS cc,
             count(*) FILTER (source = '{_DSIR_TARGET}') AS ct
      FROM bi GROUP BY bg
    ), g AS (
      SELECT sum(cc)::DOUBLE AS nc, sum(ct)::DOUBLE AS nt,
             count(*)::DOUBLE AS v
      FROM m
    ), lr AS (
      SELECT bg, log10((ct + 1) / (nt + v)) - log10((cc + 1) / (nc + v)) AS lr
      FROM m, g
    )
    SELECT doc_id, source,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(lr), 6) AS dsir_weight
    FROM bi JOIN lr USING (bg)
    GROUP BY doc_id, source
    """,
)
def q_llm_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023): score every document
    by the mean log-likelihood RATIO of its char-bigrams under a target-
    domain model vs the whole-corpus model (add-1 smoothed over the shared
    bigram vocabulary). High weight = looks like the target domain;
    importance resampling then samples the corpus proportionally — the
    principled alternative to hard quality-classifier cuts.

    100 TB plan (r13 single-pass form — the q_llm_bigram_lm restructure):
    the corpus is read and exploded ONCE into per-(doc, source, bigram)
    counts; both models live in one charset²-bounded count table derived
    from those counts (target counts via a conditional agg — no second
    corpus scan), and the scoring join consumes the SAME exchange via
    ReuseExchange (the explicit isnotnull(bg) keeps the two subtrees
    canonically equal). Normalizers and vocabulary size fold out of the
    bounded model table with a global window over model rows only; the
    log-ratio table BROADCASTS into the scoring join; per-doc weighting
    sums k·lr / k over the counts (the same multiset of lr terms the
    per-occurrence avg folds, regrouped — inside the round(6) envelope
    exactly as Spark's own partial-agg order already is). The r5–r12
    form read + exploded the corpus twice to keep zero corpus shuffles;
    one read + a counts-sized exchange dominates at scale.
    """
    # r14 (guide §2.5): spread as in q_llm_bigram_lm (same one-read shape)
    d = spread_small_scan(
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= 2)
        .select("doc_id", "source", "text")
    )
    bi = d.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "zip_with(slice(split(text, ''), 1, length(text) - 1),"
                "         slice(split(text, ''), 2, length(text) - 1),"
                "         (a, b) -> concat(a, b))"
            )
        ).alias("bg"),
    )
    percnt = (
        bi.filter(F.col("bg").isNotNull())
        .groupBy("doc_id", "source", "bg")
        .agg(F.count("*").alias("k"))
    )
    m = percnt.groupBy("bg").agg(
        F.sum("k").alias("cc"),
        # coalesce: a bigram with no target-domain occurrences must count
        # 0 (as the old per-occurrence count() did), not NULL-poison lr
        F.coalesce(
            F.sum(F.when(F.col("source") == _DSIR_TARGET, F.col("k"))),
            F.lit(0).cast("long"),
        ).alias("ct"),
    )
    w = Window.partitionBy()
    lr = (
        m.withColumn("nc", F.sum("cc").over(w).cast("double"))
        .withColumn("nt", F.sum("ct").over(w).cast("double"))
        .withColumn("v", F.count("*").over(w).cast("double"))
        .select(
            "bg",
            (
                F.log10((F.col("ct") + 1) / (F.col("nt") + F.col("v")))
                - F.log10((F.col("cc") + 1) / (F.col("nc") + F.col("v")))
            ).alias("lr"),
        )
    )
    return (
        percnt.join(F.broadcast(lr), "bg")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.round(
                F.sum(F.col("k") * F.col("lr")) / F.sum("k").cast("double"), 6
            ).alias("dsir_weight"),
        )
    )


@query(
    "q_llm_ccnet_buckets",
    oracle="""
    WITH bi AS (
      SELECT doc_id,
             unnest([substring(text, i, 2) for i in range(1, length(text))])
               AS bg
      FROM documents WHERE length(text) >= 2
    ), c AS (
      SELECT bg, count(*) AS c FROM bi GROUP BY bg
    ), t AS (
      SELECT count(*)::DOUBLE AS total FROM bi
    ), scored AS (
      SELECT doc_id, round(avg(log10(c / total)), 6) AS lm_score
      FROM bi JOIN c USING (bg), t
      GROUP BY doc_id
    )
    SELECT doc_id, lm_score,
           CASE ntile(3) OVER (ORDER BY lm_score DESC, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM scored
    """,
)
def q_llm_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: rank every document by its bigram
    LM score and split the corpus into head / middle / tail terciles —
    the protocol CCNet used to grade CommonCrawl by Wikipedia-LM
    perplexity, with the self-trained bigram model standing in for the
    external KenLM.

    100 TB plan: scoring is q_llm_bigram_lm's broadcast-model shape; the
    corpus-wide tercile rank uses ranking.global_row_number
    (repartitionByRange + local rank + broadcast prefix offsets) and
    ntile_from_rank — NO corpus-sized data crosses a single-partition
    window, unlike a naive ntile() OVER (ORDER BY ...). Ranking on the
    ROUNDED score (both engines round to 6 first, doc_id tiebreak) keeps
    the tercile boundaries engine-identical.
    """
    from token_burn_listener_spark.operators.ranking import (
        global_row_number,
        ntile_from_rank,
        with_total_count,
    )

    scored = q_llm_bigram_lm(spark, sf_dir).select("doc_id", "lm_score")
    ranked = with_total_count(
        global_row_number(scored, [F.desc("lm_score"), F.col("doc_id")], "rk")
    )
    tier = ntile_from_rank(F.col("rk"), F.col("_n"), 3)
    return ranked.select(
        "doc_id",
        "lm_score",
        F.when(tier == 1, "head")
        .when(tier == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


@query(
    "q_llm_bpe_merges",
    oracle="""
    WITH w AS (
      SELECT lower(tok) AS word, CAST(count(*) AS BIGINT) AS cnt
      FROM documents, unnest(string_split(text, ' ')) AS u(tok)
      WHERE tok <> '' GROUP BY 1
    ), p AS (
      SELECT unnest([substring(word, i, 2)
                     for i in range(1, length(word))]) AS pair, cnt
      FROM w WHERE length(word) >= 2
    )
    SELECT pair, CAST(sum(cnt) AS BIGINT) AS freq
    FROM p GROUP BY pair
    ORDER BY freq DESC, pair LIMIT 10
    """,
)
def q_llm_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge iteration of tokenizer training: adjacent
    character-pair frequencies weighted by word frequency, top-10 merge
    candidates. Full BPE repeats this after applying the winning merge;
    the ITERATION SHAPE is what matters at scale and it is identical every
    round — this key pins that one round exactly against the oracle
    (iterating is a driver loop over the same plan, the q_llm_kmeans
    pattern).

    100 TB plan: the word-frequency table is vocabulary-sized (Heaps-law
    sublinear), so the pair pass explodes the VOCABULARY, not the corpus —
    the corpus is read once for word counts, and every BPE round after
    that costs one vocab-sized explode + partial/final agg + TakeOrdered.
    This is why production BPE trainers count words first.
    """
    d = load_table(spark, sf_dir, "documents")
    w = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy(F.lower("tok").alias("word"))
        .agg(F.count("*").alias("cnt"))
        .filter(F.length("word") >= 2)
    )
    pairs = w.select(
        "cnt",
        F.explode(
            F.expr(
                "zip_with(slice(split(word, ''), 1, length(word) - 1),"
                "         slice(split(word, ''), 2, length(word) - 1),"
                "         (a, b) -> concat(a, b))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("freq"))
        .orderBy(F.desc("freq"), "pair")
        .limit(10)
    )


@query(
    "q_llm_source_overlap",
    oracle="""
    WITH v AS (
      SELECT DISTINCT source, lower(tok) AS token
      FROM documents, unnest(string_split(text, ' ')) AS u(tok)
      WHERE tok <> ''
    ), sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_tokens FROM v GROUP BY source
    ), inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM v a JOIN v b ON a.token = b.token AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b, i.n_common,
           round(i.n_common::DOUBLE
                 / (sa.n_tokens + sb.n_tokens - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """,
)
def q_llm_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity matrix: pairwise vocabulary Jaccard between every
    pair of sources — near-1 pairs are the same feed ingested twice (drop
    one), near-0 pairs are the diversity a mixture actually buys. The
    upstream sanity check before q_llm_mix_domains allocates budgets.

    100 TB plan: everything happens on the DISTINCT (source, token) table
    — vocabulary-sized (Heaps-sublinear), not corpus-sized; the pair
    counts come from a self-equi-join ON THE TOKEN (shared tokens only —
    never a source × source cross join), and per-source sizes broadcast
    into the final ratio. With S sources the output is S(S-1)/2 rows —
    trivial at any corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    # pin the vocabulary-sized distinct table: it feeds the sizes agg and
    # BOTH sides of the token self-join — unpinned, each reference
    # re-scans + re-explodes the corpus (4 static scans measured)
    v = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .select("source", F.lower("tok").alias("token"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = v.groupBy("source").agg(F.count("*").alias("n_tokens"))
    inter = (
        v.select(F.col("source").alias("source_a"), "token")
        .join(v.select(F.col("source").alias("source_b"), "token"), "token")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_tokens").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_tokens").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "q_llm_heaps_law",
    oracle="""
    WITH tok AS (
      SELECT CAST(('0x' || substr(sha256(doc_id::VARCHAR), 1, 2)) AS BIGINT)
               AS b,
             lower(tok) AS token
      FROM documents, unnest(string_split(text, ' ')) AS u(tok)
      WHERE tok <> ''
    )
    SELECT CAST(count(DISTINCT CASE WHEN b < 64 THEN token END) AS BIGINT)
             AS vocab_q1,
           CAST(count(DISTINCT CASE WHEN b < 128 THEN token END) AS BIGINT)
             AS vocab_q2,
           CAST(count(DISTINCT CASE WHEN b < 192 THEN token END) AS BIGINT)
             AS vocab_q3,
           CAST(count(DISTINCT token) AS BIGINT) AS vocab_full,
           CAST(count(*) AS BIGINT) AS total_tokens
    FROM tok
    """,
)
def q_llm_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law measurement: vocabulary size at 25 / 50 / 75 / 100 % of
    the corpus (hash-ordered prefixes, so the growth curve is sampling-
    order independent and reproducible). Sub-linear growth
    (vocab_full / vocab_q2 well under 2) is the signature of natural
    text; near-linear growth flags ID-like noise flooding the vocabulary
    — the capacity-planning input for q_llm_bpe_merges' vocab table and
    every broadcast-the-vocab decision in this repo.

    100 TB plan: a single pass — four conditional count-distincts over
    the exploded token stream, each rewritten by Catalyst into
    expand + partial/final two-phase distinct aggregation; no joins, no
    windows, nothing driver-side. At extreme cardinality the same
    measurement swaps to four HLL sketches (q_agg_hll_union pattern) for
    a fixed-memory approximate curve.
    """
    d = load_table(spark, sf_dir, "documents")
    b = F.conv(
        F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 2), 16, 10
    ).cast("long")
    tok = (
        d.select(b.alias("b"), F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .select("b", F.lower("tok").alias("token"))
    )
    return tok.agg(
        F.count_distinct(F.when(F.col("b") < 64, F.col("token"))).alias("vocab_q1"),
        F.count_distinct(F.when(F.col("b") < 128, F.col("token"))).alias("vocab_q2"),
        F.count_distinct(F.when(F.col("b") < 192, F.col("token"))).alias("vocab_q3"),
        F.count_distinct("token").alias("vocab_full"),
        F.count("*").alias("total_tokens"),
    )


@query(
    "q_llm_tfidf_exact",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lower(tok) AS term
      FROM documents, unnest(string_split(text, ' ')) AS u(tok)
      WHERE tok <> ''
    ), n AS (
      SELECT count(DISTINCT doc_id)::DOUBLE AS n_docs FROM tok
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY 1, 2
    ), df AS (
      SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok GROUP BY term
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * (ln((n.n_docs + 1) / (df.df + 1)) + 1), 6)
               AS tfidf
      FROM tf JOIN df USING (term), n
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rk
      FROM scored
    )
    SELECT doc_id, term, tf, tfidf FROM ranked WHERE rk <= 3
    """,
)
def q_llm_tfidf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vocabulary-keyed TF-IDF — the oracle-checkable twin of
    q_llm_tfidf (whose HashingTF buckets are engine-private, forcing a
    rows-only check): smooth idf = ln((N+1)/(df+1)) + 1 on real terms,
    top-3 terms per document. The per-doc top terms ARE the product —
    keyword extraction for search/labeling — and every number is exact
    on both engines.

    100 TB plan: tf is one partial+final agg on (doc, term) and is
    PINNED (r12 review): df and the corpus count both DERIVE from it —
    tf holds exactly one row per (doc, term), so count(*) per term over
    tf == distinct docs per term over tok, and distinct doc_id over tf
    == distinct doc_id over tok (a doc with ≥1 token has ≥1 tf row).
    Previously n/tf/df were three independent subtrees, each replaying
    the corpus scan + explode (the q_llm_lang_id lesson: '6 static
    scans measured before the pin') — MEASURED at 100× docs (3 reps
    each): ~7 s pinned vs 35-37 s unpinned on two of three unpinned
    reps (the triple explode+agg replay), the r12 review sweep's
    biggest win. df is vocabulary-sized and
    BROADCASTS into the scoring join along with the 1-row corpus count;
    the per-doc top-3 window prunes via WindowGroupLimit. Hashing
    (q_llm_tfidf) trades this exactness for a fixed-width vector when
    the vocabulary itself is the memory problem.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .select("doc_id", F.lower("tok").alias("term"))
    )
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    n = tf.agg(F.count_distinct("doc_id").cast("double").alias("n_docs"))
    df_ = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "tfidf")
    )


@query(
    "q_llm_dup_rate_by_source",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT sha256(text)) AS n_unique,
           round(1.0 - count(DISTINCT sha256(text))::DOUBLE / count(*), 6)
             AS dup_rate
    FROM documents GROUP BY source
    """,
)
def q_llm_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-governance report: per-source exact-duplicate rate.

    The first question a data curator asks of a new source: how much of
    it is copies. One groupBy on the low-cardinality source key with a
    count-distinct over the sha256 fingerprint.

    100 TB plan: partial aggregation makes this two map-side passes — the
    distinct-sha count expands to (source, sha) partial groups (uniform,
    hash-keyed) then re-aggregates per source; the text column itself
    never shuffles, only 64-hex fingerprints.
    """
    d = load_table(spark, sf_dir, "documents")
    sha = F.sha2("text", 256)
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(sha).alias("n_unique"),
        F.round(
            1.0 - F.count_distinct(sha).cast("double") / F.count("*"), 6
        ).alias("dup_rate"),
    )


@query(
    "q_llm_ngram_novelty",
    oracle="""
    WITH g AS (
      SELECT doc_id, unnest(list_distinct(
               [t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
                for i in range(1, greatest(len(t) - 1, 1))])) AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      WHERE len(t) >= 3
    ), first_seen AS (
      SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram
    )
    SELECT g.doc_id,
           count(*) AS n_grams,
           count(CASE WHEN f.first_doc = g.doc_id THEN 1 END) AS n_novel,
           round(count(CASE WHEN f.first_doc = g.doc_id THEN 1 END)::DOUBLE
                 / count(*), 6) AS novelty
    FROM g JOIN first_seen f ON f.gram = g.gram
    GROUP BY g.doc_id
    """,
)
def q_llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct token
    3-grams whose FIRST occurrence (by min doc_id, the ingestion order)
    is this document. Low-novelty tails are what near-dedup thresholds
    miss — boilerplate reuse below the pair threshold — and dropping or
    downweighting them is a standard curation step.

    100 TB plan: one explode of distinct per-doc grams, one (gram) min-agg
    (partial map-side; gram keys are uniform), one equi-join back on the
    gram key, one (doc_id) count-agg. No pair joins anywhere — novelty is
    a corpus-global property computed in linear posting-list passes.
    """
    d = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    grams = F.expr(
        "array_distinct(zip_with("
        "  slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 2, 0)),"
        "  zip_with("
        "    slice(split(text, ' '), 2, greatest(size(split(text, ' ')) - 2, 0)),"
        "    slice(split(text, ' '), 3, greatest(size(split(text, ' ')) - 2, 0)),"
        "    (b, c) -> concat(b, ' ', c)),"
        "  (a, bc) -> concat(a, ' ', bc)))"
    )
    g = (
        d.filter(F.size(t) >= 3)
        .select("doc_id", F.explode(grams).alias("gram"))
    )
    first_seen = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        g.join(first_seen, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
            F.round(
                F.sum(
                    F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("novelty"),
        )
    )


_BM25_TERMS = ("data", "scan", "hash")  # fixed query, mixed selectivity
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_term_sql(t: str) -> str:
    """One term's BM25 contribution — identical expression text on both
    engines (fixed left-assoc arithmetic, ln/exact-int inputs)."""
    return (
        f"ln((n_docs - df_{t} + 0.5) / (df_{t} + 0.5) + 1)"
        f" * tf_{t} * ({_BM25_K1} + 1)"
        f" / (tf_{t} + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * len_d / avgdl))"
    )


@query(
    "q_llm_bm25",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    per_doc AS (
      SELECT doc_id, count(*)::BIGINT AS len_d,
             {", ".join(
                 f"count(CASE WHEN t = '{t}' THEN 1 END)::BIGINT AS tf_{t}"
                 for t in _BM25_TERMS)}
      FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT count(*)::BIGINT AS n_docs,
             sum(len_d)::DOUBLE / count(*) AS avgdl,
             {", ".join(
                 f"count(CASE WHEN tf_{t} > 0 THEN 1 END)::BIGINT AS df_{t}"
                 for t in _BM25_TERMS)}
      FROM per_doc
    ),
    scored AS (
      SELECT doc_id,
             round({" + ".join(_bm25_term_sql(t) for t in _BM25_TERMS)}, 6)
               AS bm25
      FROM per_doc, stats
    ),
    top AS (
      SELECT doc_id, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20
    )
    SELECT doc_id, bm25,
           row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
    FROM top
    """,
)
def q_llm_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson k1=1.2, b=0.75, Lucene-style
    idf) for a fixed 3-term query — the sparse-retrieval scorer every
    corpus search/labeling pipeline needs next to the dense ANN path.

    Exactness: per-term scores are summed in a FIXED left-associative
    column order (never a term-row aggregate, whose summation order is
    engine-internal), and every input to the float math is an exact
    integer (tf, df, N, Σlen) — so both engines fold the identical IEEE
    sequence and the rounded scores are bit-identical.

    100 TB plan: one explode + per-doc conditional-count aggregate
    (partial map-side; the explode never shuffles raw tokens — only
    per-doc counters), a 1-row corpus-stats broadcast, and a global
    top-20 TakeOrderedAndProject. Query terms are literals here; a real
    query batch broadcasts its (term, idf) table instead.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    per_doc = tok.groupBy("doc_id").agg(
        F.count("*").alias("len_d"),
        *[
            F.count(F.when(F.col("t") == t, 1)).alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        (F.sum("len_d").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.count(F.when(F.col(f"tf_{t}") > 0, 1)).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        F.round(
            F.expr(" + ".join(_bm25_term_sql(t) for t in _BM25_TERMS)), 6
        ).alias("bm25"),
    )
    top = scored.orderBy(F.desc("bm25"), "doc_id").limit(20)
    w = Window.orderBy(F.desc("bm25"), "doc_id")
    return top.withColumn("rnk", F.row_number().over(w))


@query(
    "q_llm_dataset_card",
    oracle="""
    SELECT count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT source) AS n_sources,
           count(DISTINCT sha256(text)) AS n_unique_texts,
           round(1.0 - count(DISTINCT sha256(text))::DOUBLE / count(*), 6)
             AS dup_rate,
           round(count(CASE WHEN lang = 'en' THEN 1 END)::DOUBLE
                 / count(*), 6) AS en_share,
           round(sum(len(string_split(text, ' ')))::DOUBLE / count(*), 6)
             AS mean_tokens
    FROM documents
    """,
)
def q_llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row corpus datasheet a dataset release ships with: volume
    (docs/tokens/chars), composition (languages, sources, English share),
    and integrity (unique texts, exact-dup rate) — every number an exact
    integer count or a rounded ratio of exact integers, so the card is
    reproducible to the digit on any engine.

    100 TB plan: a single partial+final aggregate pass; the only
    wide-ish piece is the three count-distincts, which expand to their
    (key) partial groups map-side — uniform hash keys, no text shuffled
    beyond the 64-hex sha.
    """
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    sha = F.sha2("text", 256)
    return d.agg(
        F.count("*").alias("n_docs"),
        F.sum(n_tokens).alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct(sha).alias("n_unique_texts"),
        F.round(
            1.0 - F.count_distinct(sha).cast("double") / F.count("*"), 6
        ).alias("dup_rate"),
        F.round(
            F.count(F.when(F.col("lang") == "en", 1)).cast("double")
            / F.count("*"),
            6,
        ).alias("en_share"),
        F.round(F.sum(n_tokens).cast("double") / F.count("*"), 6).alias(
            "mean_tokens"
        ),
    )


# Per-token KL contribution. Identical expression TEXT on both engines so
# the per-row IEEE float sequence is bit-identical; the cross-engine sum is
# then made order-independent by folding in DECIMAL(28,12) (exact integer
# arithmetic — summation order cannot change the result), a trick the
# per-row-rounding keys can't use because their answer IS a float sum.
_KL_TERM = (
    "(c_st / CAST(n_s AS DOUBLE))"
    " * ln((c_st / CAST(n_s AS DOUBLE)) / (c_t / CAST(n AS DOUBLE)))"
)


@query(
    "q_llm_kl_divergence",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
    ), st AS (
      SELECT source, t, count(*)::BIGINT AS c_st FROM tok GROUP BY source, t
    ), s_tot AS (
      SELECT source, sum(c_st)::BIGINT AS n_s FROM st GROUP BY source
    ), ct AS (
      SELECT t, sum(c_st)::BIGINT AS c_t FROM st GROUP BY t
    ), tot AS (
      SELECT sum(c_t)::BIGINT AS n FROM ct
    )
    SELECT source, n_s AS n_tokens, count(*) AS n_terms,
           round(CAST(sum(CAST({_KL_TERM} AS DECIMAL(28,12))) AS DOUBLE), 6)
             AS kl_nats
    FROM st
    JOIN s_tot USING (source) JOIN ct USING (t) CROSS JOIN tot
    GROUP BY source, n_s
    """,
)
def q_llm_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture drift gauge: KL(source ‖ corpus) over unigram
    distributions, per source. The number a mixture tuner watches — a
    source whose token distribution diverges from the blend it feeds is
    over- or under-represented, and reweighting (cf. q_llm_dsir,
    q_llm_mix_domains) moves exactly this quantity. KL is finite by
    construction: every source token appears in the corpus distribution.

    Exactness: each term's float math is per-row on exact integer counts
    with identical expression text both engines; the ~vocab-sized SUM is
    folded in DECIMAL(28,12), so summation ORDER (engine-internal, plan-
    dependent) cannot perturb the result. Rounded to 6 dp after the fold.

    100 TB plan: one explode into a (source, token) partial+final agg —
    map-side combine collapses the token blow-up before the shuffle; the
    corpus marginal is a re-agg of those counts (never a second corpus
    scan); the join back is on the uniform token key and the 1-row total
    broadcasts. Nothing is quadratic, nothing collects.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(_tokens()).alias("t"))
    # pin the bounded (source, token) counts: three downstream branches
    # (per-source totals, corpus marginal, the join input) would otherwise
    # each re-scan + re-explode the corpus — AQE's runtime exchange reuse
    # only merged 2 of the 4 duplicate subtrees (measured r5); the
    # checkpoint makes "one corpus scan" a plan property, not an AQE maybe
    st = (
        tok.groupBy("source", "t")
        .agg(F.count("*").alias("c_st"))
        .localCheckpoint(eager=False)
    )
    s_tot = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    ct = st.groupBy("t").agg(F.sum("c_st").alias("c_t"))
    tot = ct.agg(F.sum("c_t").alias("n"))
    return (
        st.join(s_tot, "source")
        .join(ct, "t")
        .crossJoin(F.broadcast(tot))
        .groupBy("source", "n_s")
        .agg(
            F.count("*").alias("n_terms"),
            F.round(
                F.sum(F.expr(f"CAST({_KL_TERM} AS DECIMAL(28,12))")).cast(
                    "double"
                ),
                6,
            ).alias("kl_nats"),
        )
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            "n_terms",
            "kl_nats",
        )
    )


_PMI_MIN_COUNT = 5  # ignore pairs too rare to estimate

# Pointwise mutual information of an adjacent pair: per-row float math on
# exact integer counts, identical expression text on both engines.
_PMI_EXPR = (
    "ln((c_ab / CAST(n_bi AS DOUBLE))"
    " / ((c_a / CAST(nu AS DOUBLE)) * (c_b / CAST(nu AS DOUBLE))))"
)


@query(
    "q_llm_pmi_collocations",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ), uni AS (
      SELECT t, count(*)::BIGINT AS c FROM tok GROUP BY t
    ), nu_t AS (
      SELECT sum(c)::BIGINT AS nu FROM uni
    ), big AS (
      SELECT unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))])
               AS gram
      FROM (SELECT string_split(text, ' ') AS t FROM documents)
      WHERE len(t) >= 2
    ), bc AS (
      SELECT string_split(gram, ' ')[1] AS w1,
             string_split(gram, ' ')[2] AS w2,
             count(*)::BIGINT AS c_ab
      FROM big GROUP BY gram
    ), nb AS (
      SELECT sum(c_ab)::BIGINT AS n_bi FROM bc
    ), scored AS (
      SELECT w1, w2, c_ab, round({_PMI_EXPR}, 6) AS pmi
      FROM bc
      JOIN (SELECT t AS w1, c AS c_a FROM uni) u1 USING (w1)
      JOIN (SELECT t AS w2, c AS c_b FROM uni) u2 USING (w2)
      CROSS JOIN nb CROSS JOIN nu_t
      WHERE c_ab >= {_PMI_MIN_COUNT}
    ), top AS (
      SELECT w1, w2, c_ab, pmi FROM scored
      ORDER BY pmi DESC, w1, w2 LIMIT 20
    )
    SELECT w1, w2, c_ab, pmi,
           row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rnk
    FROM top
    """,
)
def q_llm_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 adjacent-token pairs by pointwise
    mutual information (min count 5). PMI surfaces multi-word units
    ("new york", "machine learning") that tokenizer vocab builds, quality
    filters, and dedup shingles all want to treat as one unit; it's the
    classic corpus-statistics companion to q_llm_bpe_merges (frequency-
    driven) — PMI finds RARE-but-exclusive pairs frequency misses.

    Exactness: PMI is per-row arithmetic on exact integer counts — no
    float aggregation at all — with expression text shared across engines;
    rounded to 6 dp. (w1, w2) is unique per row, so (pmi DESC, w1, w2) is
    a total order and the top-20 + materialized rank are deterministic.

    100 TB plan: bigram construction is an O(len) per-doc array zip (no
    self-join); both count tables are partial+final aggs on uniform token
    keys; the two dictionary joins are vocab-sized (broadcast-eligible)
    and the 1-row totals broadcast; the global top-20 is a
    TakeOrderedAndProject, never a full sort.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(_tokens()).alias("t"))
    # both count tables feed multiple branches (totals + joins); pin them
    # so the corpus is scanned once per table, not once per branch
    uni = (
        tok.groupBy("t").agg(F.count("*").alias("c")).localCheckpoint(eager=False)
    )
    nu_t = uni.agg(F.sum("c").alias("nu"))
    grams = F.expr(
        "zip_with("
        "  slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 1, 0)),"
        "  slice(split(text, ' '), 2, greatest(size(split(text, ' ')) - 1, 0)),"
        "  (a, b) -> concat(a, ' ', b))"
    )
    bc = (
        d.filter(F.size(_tokens()) >= 2)
        .select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("c_ab"))
        .select(
            F.split("gram", " ").getItem(0).alias("w1"),
            F.split("gram", " ").getItem(1).alias("w2"),
            "c_ab",
        )
        .localCheckpoint(eager=False)
    )
    nb = bc.agg(F.sum("c_ab").alias("n_bi"))
    scored = (
        bc.filter(F.col("c_ab") >= _PMI_MIN_COUNT)
        .join(uni.select(F.col("t").alias("w1"), F.col("c").alias("c_a")), "w1")
        .join(uni.select(F.col("t").alias("w2"), F.col("c").alias("c_b")), "w2")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nu_t))
        .select("w1", "w2", "c_ab", F.round(F.expr(_PMI_EXPR), 6).alias("pmi"))
    )
    top = scored.orderBy(F.desc("pmi"), "w1", "w2").limit(20)
    w = Window.orderBy(F.desc("pmi"), "w1", "w2")
    return top.withColumn("rnk", F.row_number().over(w))


_KANON_K = 5  # minimum safe group size


@query(
    "q_llm_k_anonymity",
    oracle=f"""
    WITH qi AS (
      SELECT source, lang, n_chars // 100 AS len_bucket,
             count(*)::BIGINT AS group_size
      FROM documents GROUP BY 1, 2, 3
    )
    SELECT source, lang, len_bucket, group_size,
           (group_size < {_KANON_K}) AS risky
    FROM qi
    """,
)
def q_llm_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification audit: group sizes over the quasi-identifier
    tuple (source, lang, 100-char length bucket). A corpus release is
    k-anonymous on these QIs iff no group is smaller than k — documents
    in sub-k groups are linkable by metadata alone even after PII
    redaction (q_llm_redact_pii removes the direct identifiers; THIS
    catches the indirect ones). The full group-size table ships, with
    the sub-k groups flagged, so the release decision is auditable.

    100 TB plan: one partial+final aggregate on a low-cardinality
    composite key — map-side combine collapses everything; no joins, no
    windows, nothing driver-side. Generalizing a QI (coarser buckets)
    to repair a risky release is a one-line change to the same plan.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(
            "source",
            "lang",
            F.expr("n_chars div 100").alias("len_bucket"),
        )
        .agg(F.count("*").alias("group_size"))
        .withColumn("risky", F.col("group_size") < _KANON_K)
    )


# Shannon-entropy term over exact integer counts: shared expression
# text; the vocabulary-sized sum folds in DECIMAL(28,12).
_ENTROPY_TERM = (
    "(c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE))"
)


def _char_count_batches(it):
    """Arrow-batched char-counting kernel (see q_llm_char_entropy):
    INTEGER work only — per doc, exact distinct-char counts via
    np.unique over a utf-16-le reinterpret (Spark's split('') code-unit
    semantics, the winnow kernel's trick at 16 bits) plus the total
    length. Every transcendental/decimal op stays JVM-side, so the
    bit-exactness argument of the all-JVM form carries over verbatim;
    numpy only ever produces integers here."""
    import numpy as np
    import pandas as pd

    for pdf in it:
        ids, counts, ns = [], [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            if text is None:
                raise ValueError(
                    "q_llm_char_entropy: null text violates the documents "
                    "contract (non-null text); filter nulls upstream"
                )
            arr = np.frombuffer(text.encode("utf-16-le"), dtype=np.uint16)
            if len(arr) == 0:  # filtered upstream (length(text) > 0)
                continue
            _, c = np.unique(arr, return_counts=True)
            ids.append(doc_id)
            counts.append(c.astype(np.int64))
            ns.append(len(arr))
        yield pd.DataFrame({"doc_id": ids, "counts": counts, "n_chars": ns})


@query(
    "q_llm_char_entropy",
    oracle=f"""
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS chr FROM documents
    ), chf AS (
      SELECT doc_id, chr FROM ch WHERE chr <> ''
    ), counts AS (
      SELECT doc_id, chr, count(*)::BIGINT AS c FROM chf GROUP BY 1, 2
    ), tot AS (
      SELECT doc_id, sum(c)::BIGINT AS n, count(*)::BIGINT AS ndv
      FROM counts GROUP BY doc_id
    )
    SELECT counts.doc_id, ndv, n AS n_chars,
           round(CAST(-sum(CAST({_ENTROPY_TERM} AS DECIMAL(28,12)))
                      AS DOUBLE), 6) AS entropy_nats,
           round(ln(ndv), 6) AS max_entropy_nats
    FROM counts JOIN tot USING (doc_id)
    GROUP BY counts.doc_id, ndv, n
    """,
)
def q_llm_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy (extra, beyond
    §2.B10): the information-theoretic gibberish detector that
    complements the heuristic stack (q_llm_quality_score's ratios,
    q_llm_repetition's duplicate trigrams) — base64 blobs and
    minified/encoded payloads sit near the ln(ndv) ceiling while
    keyboard-mash and single-char padding collapse toward 0, and both
    tails get dropped by the C4/Gopher-style filters this score feeds.
    Output per doc: char count, distinct chars, entropy in nats next to
    its ln(ndv) ceiling (the q_diag_column_entropy report shape, per
    document instead of per column).

    Exactness (the r11 hybrid split): the Arrow kernel does INTEGER
    WORK ONLY — np.unique counts over a utf-16-le reinterpret of the
    text (exactly Spark's split('') code-unit semantics) yield the same
    exact counts DuckDB's GROUP BY computes — and every float and
    decimal op stays in the JVM with the expression text unchanged from
    the r8–r10 forms: per count, (c/n)*ln(c/n) as doubles (identical
    doubles at identical integers on both engines), each term cast to
    DECIMAL(28,12) and summed in a decimal accumulator — decimal
    addition is exact, so the fold equals the oracle's
    order-independent decimal SUM bit-for-bit regardless of count
    order. numpy never touches a float (the r10 non-promotion reason —
    numpy log may differ from JVM/DuckDB libm by 1 ulp and flip the
    DECIMAL round — is structurally avoided, not waived). Empty-text
    docs have no defined distribution and produce no row on either
    engine (both engines split '' into ['']; the row filter is
    length(text) > 0 on the text itself). Fixture/fuzz text is ASCII;
    non-BMP text splits into UTF-16 code units on Spark vs codepoints
    on DuckDB and is out of contract.

    100 TB plan: ZERO shuffles — mapInPandas over the scan emitting
    (doc_id, counts array, n) with ndv ≤ charset elements per row, then
    a JVM decimal fold over that BOUNDED array. The r10 all-JVM
    sorted-run fold was correct and linear but carried the record's
    worst constant (350.8 s / 5 M docs — ~L decimal struct ops per doc,
    VERDICT r10 #1); moving the counting to numpy and folding charset-
    not-length many terms cut it to 16.2 s at 5 M docs — 6.4× vs the
    same-session JVM-fold re-measure of 104.7 s, ~21× vs the r10 SCALE
    row's 350.8 s recorded under round-10 load
    (SCALE.md, "Round 11 runs", value-identical on all 5000 fixture
    rows).
    """
    d = load_table(spark, sf_dir, "documents")
    dec = "decimal(28,12)"
    counted = (
        d.filter(F.length("text") > 0)
        .select("doc_id", "text")
        .mapInPandas(
            _char_count_batches,
            schema="doc_id bigint, counts array<bigint>, n_chars bigint",
        )
    )
    # counts/n_chars are bound attributes of the Arrow stage's output —
    # the lambda below reads them O(1), nothing to rederive (the
    # audit_plans lambda_rederivations gate stays structurally green).
    n = F.col("n_chars")

    def step(acc, c):
        p = c.cast("double") / n.cast("double")
        return (acc + (p * F.log(p)).cast(dec)).cast(dec)

    s = F.aggregate(F.col("counts"), F.lit(0).cast(dec), step)
    return counted.select(
        "doc_id",
        F.size("counts").cast("long").alias("ndv"),
        F.col("n_chars").alias("n_chars"),
        F.round((-s).cast("double"), 6).alias("entropy_nats"),
        F.round(F.log(F.size("counts").cast("double")), 6).alias(
            "max_entropy_nats"
        ),
    )


@query(
    "q_diag_column_entropy",
    oracle=f"""
    WITH vals AS (
      SELECT 'lang' AS col, lang AS v FROM documents
      UNION ALL SELECT 'source', source FROM documents
    ), counts AS (
      SELECT col, v, count(*)::BIGINT AS c FROM vals GROUP BY col, v
    ), tot AS (
      SELECT col, sum(c)::BIGINT AS n, count(*)::BIGINT AS ndv
      FROM counts GROUP BY col
    )
    SELECT counts.col, ndv, n AS n_rows,
           round(CAST(-sum(CAST({_ENTROPY_TERM} AS DECIMAL(28,12)))
                      AS DOUBLE), 6) AS entropy_nats,
           round(ln(ndv), 6) AS max_entropy_nats,
           (ndv <= 4096) AS dict_encode
    FROM counts JOIN tot USING (col)
    GROUP BY counts.col, ndv, n
    """,
)
def q_diag_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding advisor: Shannon entropy of each candidate column's
    value distribution next to its ln(NDV) ceiling — the two numbers
    that decide parquet encodings (low NDV → dictionary; entropy near
    the ceiling → dictionary indices won't RLE-compress; entropy far
    below it → heavy skew, great RLE). The dict_encode flag applies the
    standard page-dictionary cardinality cutoff.

    Exactness: counts are exact integers; each entropy term is per-row
    float math with shared expression text, and the NDV-sized sum folds
    in DECIMAL(28,12) — the same order-independence technique as
    q_llm_kl_divergence.

    100 TB plan: one stacked pass over the two columns (partial+final
    agg on (col, value) — uniform, low-cardinality), then all math on
    the NDV-sized count table. For a wide table this extends to any
    column list by adding UNION legs — still one scan per column, no
    shuffles beyond the count agg.
    """
    d = load_table(spark, sf_dir, "documents")
    vals = d.select(F.lit("lang").alias("col"), F.col("lang").alias("v")).unionAll(
        d.select(F.lit("source").alias("col"), F.col("source").alias("v"))
    )
    counts = (
        vals.groupBy("col", "v")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)  # feeds totals + the entropy agg
    )
    tot = counts.groupBy("col").agg(
        F.sum("c").alias("n"), F.count("*").alias("ndv")
    )
    return (
        counts.join(F.broadcast(tot), "col")
        .groupBy("col", "ndv", "n")
        .agg(
            F.round(
                (-F.sum(F.expr(f"CAST({_ENTROPY_TERM} AS DECIMAL(28,12))"))).cast(
                    "double"
                ),
                6,
            ).alias("entropy_nats"),
        )
        .select(
            "col",
            "ndv",
            F.col("n").alias("n_rows"),
            "entropy_nats",
            F.round(F.log(F.col("ndv").cast("double")), 6).alias(
                "max_entropy_nats"
            ),
            (F.col("ndv") <= 4096).alias("dict_encode"),
        )
    )


_KN_D = 0.75  # absolute discount (the standard KN default)

# Kneser-Ney bigram probability from five exact integers (c12, c1,
# n1p_w1 = distinct continuations of w1, n1p_w2 = distinct contexts of
# w2, nb = total distinct bigram types): per-row float math, shared
# expression text, no engine-ordered sums anywhere.
_KN_EXPR = (
    f"greatest(c12 - {_KN_D}, 0) / CAST(c1 AS DOUBLE)"
    f" + ({_KN_D} * n1p_w1 / CAST(c1 AS DOUBLE))"
    f" * (n1p_w2 / CAST(nb AS DOUBLE))"
)


@query(
    "q_llm_kneser_ney",
    oracle=f"""
    WITH big AS (
      SELECT unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))])
               AS gram
      FROM (SELECT string_split(text, ' ') AS t FROM documents)
      WHERE len(t) >= 2
    ), bc AS (
      SELECT string_split(gram, ' ')[1] AS w1,
             string_split(gram, ' ')[2] AS w2,
             count(*)::BIGINT AS c12
      FROM big GROUP BY gram
    ), ctx AS (
      SELECT w1, sum(c12)::BIGINT AS c1,
             count(*)::BIGINT AS n1p_w1
      FROM bc GROUP BY w1
    ), cont AS (
      SELECT w2, count(*)::BIGINT AS n1p_w2 FROM bc GROUP BY w2
    ), nbt AS (
      SELECT count(*)::BIGINT AS nb FROM bc
    ), top_ctx AS (
      SELECT w1, c1, n1p_w1 FROM ctx ORDER BY c1 DESC, w1 LIMIT 3
    ), scored AS (
      SELECT b.w1, b.w2, b.c12, t.c1,
             round({_KN_EXPR}, 6) AS p_kn
      FROM bc b
      JOIN top_ctx t USING (w1)
      JOIN cont USING (w2)
      CROSS JOIN nbt
    ), ranked AS (
      SELECT w1, w2, c12, c1, p_kn,
             row_number() OVER (PARTITION BY w1
                                ORDER BY p_kn DESC, w2) AS rnk
      FROM scored
    )
    SELECT w1, w2, c12, c1, p_kn, rnk FROM ranked WHERE rnk <= 5
    """,
)
def q_llm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram probabilities — the reference
    smoothing algorithm for count-based LMs, and a stronger quality
    scorer than the raw bigram LM (q_llm_bigram_lm): the continuation
    probability ranks a word by HOW MANY contexts it follows, not how
    often — the fix for 'Francisco' (frequent but only after 'San').
    Output: for the 3 highest-volume contexts, the top-5 observed next
    tokens by P_kn(w2|w1) = max(c12-d,0)/c1 + (d·N1+(w1·)/c1)·(N1+(·w2)/N).

    Exactness: all five inputs to the probability are exact integer
    counts derived from ONE bigram count table (context totals and
    continuation counts are re-aggs — no second corpus pass), the float
    expression is per-row with shared text, and both the context top-3
    and the per-context top-5 carry deterministic tie-breaks with rank
    materialized.

    100 TB plan: one bigram explode + (gram) partial+final agg; ctx and
    cont are vocab-sized re-aggs of that PINNED table; the 3-row
    context slice and vocab-sized continuation table broadcast; the
    per-context rank window partitions on w1 — 3 bounded partitions.
    """
    d = load_table(spark, sf_dir, "documents")
    grams = F.expr(
        "zip_with("
        "  slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 1, 0)),"
        "  slice(split(text, ' '), 2, greatest(size(split(text, ' ')) - 1, 0)),"
        "  (a, b) -> concat(a, ' ', b))"
    )
    bc = (
        d.filter(F.size(F.split("text", " ")) >= 2)
        .select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("c12"))
        .select(
            F.split("gram", " ").getItem(0).alias("w1"),
            F.split("gram", " ").getItem(1).alias("w2"),
            "c12",
        )
        .localCheckpoint(eager=False)  # feeds ctx, cont, nbt, and scoring
    )
    ctx = bc.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n1p_w1")
    )
    cont = bc.groupBy("w2").agg(F.count("*").alias("n1p_w2"))
    nbt = bc.agg(F.count("*").alias("nb"))
    top_ctx = ctx.orderBy(F.desc("c1"), "w1").limit(3)
    scored = (
        bc.join(F.broadcast(top_ctx), "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(nbt))
        .select(
            "w1", "w2", "c12", "c1",
            F.round(F.expr(_KN_EXPR), 6).alias("p_kn"),
        )
    )
    w = Window.partitionBy("w1").orderBy(F.desc("p_kn"), "w2")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("w1", "w2", "c12", "c1", "p_kn", "rnk")
    )


# Jaccard between two distinct-token chunk sets, as |A∩B| / (|A|+|B|-|A∩B|)
# on exact integers (array_union would double-count nothing anyway, but the
# 3-term identity needs one intersect per pair instead of two list ops).
def _chunk_expr(start: str, length: str) -> str:
    return f"array_distinct(slice(split(text, ' '), {start}, {length}))"


@query(
    "q_llm_topic_boundaries",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tok FROM documents
      WHERE len(string_split(text, ' ')) >= 8
    ), q AS (
      SELECT doc_id, len(tok) // 4 AS qlen, tok FROM t
    ), chunks AS (
      SELECT doc_id,
             list_distinct(tok[1 : qlen]) AS c1,
             list_distinct(tok[qlen + 1 : 2 * qlen]) AS c2,
             list_distinct(tok[2 * qlen + 1 : 3 * qlen]) AS c3,
             list_distinct(tok[3 * qlen + 1 : len(tok)]) AS c4
      FROM q
    ), sims AS (
      SELECT doc_id,
             round(len(list_intersect(c1, c2))::DOUBLE
                   / (len(c1) + len(c2) - len(list_intersect(c1, c2))), 6)
               AS j12,
             round(len(list_intersect(c2, c3))::DOUBLE
                   / (len(c2) + len(c3) - len(list_intersect(c2, c3))), 6)
               AS j23,
             round(len(list_intersect(c3, c4))::DOUBLE
                   / (len(c3) + len(c4) - len(list_intersect(c3, c4))), 6)
               AS j34
      FROM chunks
    )
    SELECT doc_id, j12, j23, j34,
           CASE WHEN j12 <= j23 AND j12 <= j34 THEN 1
                WHEN j23 <= j34 THEN 2 ELSE 3 END AS boundary_idx
    FROM sims
    """,
)
def q_llm_topic_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextTiling-style topic-boundary detection: split each document
    into four token-quarters, measure vocabulary Jaccard between
    adjacent quarters, and mark the weakest seam (lowest similarity,
    earliest on ties) as the topic boundary — the signal long-document
    chunkers use to cut at topic shifts instead of blind fixed strides
    (cf. q_llm_chunk's stride form and q_llm_cdc_chunking's
    content-defined form; this one is MEANING-defined).

    Exactness: chunk bounds are integer arithmetic on the token count,
    all set sizes are exact integers (|A∪B| via the 3-term identity, so
    one intersect per pair is the only list op), the ratio is per-row
    float with 6-dp round, and the argmin is a pure CASE over the three
    rounded values — identical branch logic both engines.

    100 TB plan: entirely map-side — per-row array ops inside
    whole-stage codegen, no shuffle, no window, no join; the scan
    prunes to (doc_id, text). This is the shape to prefer whenever a
    per-document signal needs no cross-document context.
    """
    d = load_table(spark, sf_dir, "documents")
    tok_n = F.size(F.split("text", " "))
    # carry text in the same projection — a join back to d would add a
    # corpus shuffle and falsify the map-only claim below
    q = d.filter(tok_n >= 8).select(
        "doc_id",
        "text",
        F.expr("size(split(text, ' ')) div 4").alias("qlen"),
        F.expr("size(split(text, ' '))").alias("n"),
    )
    c1 = _chunk_expr("1", "qlen")
    c2 = _chunk_expr("qlen + 1", "qlen")
    c3 = _chunk_expr("2 * qlen + 1", "qlen")
    c4 = _chunk_expr("3 * qlen + 1", "n - 3 * qlen")

    def jac(a: str, b: str) -> str:
        return (
            f"round(CAST(size(array_intersect({a}, {b})) AS DOUBLE)"
            f" / (size({a}) + size({b}) - size(array_intersect({a}, {b}))), 6)"
        )

    sims = q.select(
        "doc_id",
        F.expr(jac(c1, c2)).alias("j12"),
        F.expr(jac(c2, c3)).alias("j23"),
        F.expr(jac(c3, c4)).alias("j34"),
    )
    return sims.select(
        "doc_id",
        "j12",
        "j23",
        "j34",
        F.when(
            (F.col("j12") <= F.col("j23")) & (F.col("j12") <= F.col("j34")), 1
        )
        .when(F.col("j23") <= F.col("j34"), 2)
        .otherwise(3)
        .alias("boundary_idx"),
    )

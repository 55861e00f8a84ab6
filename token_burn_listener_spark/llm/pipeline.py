"""End-to-end corpus preparation (SURVEY.md §2.B10 flagship composition).

The point of the individual B10 operators is that they COMPOSE into the
pipeline a training-data team actually runs; this module registers that
composition as one oracle-checked query, proving the stages stack without
impedance mismatches:

    documents
      → quality gate   (q_llm_text_filter's predicate stack)
      → repetition gate (q_llm_repetition's trigram signal, unrounded)
      → exact dedup     (q_llm_exact_dedup's min-doc_id survivor rule)
      → prepared corpus (per-doc row: id, slice keys, token count, scores)

At 100 TB the same plan shape holds: the two gates are scan-side
map-only predicates (pushdown-friendly, no shuffle), dedup is the one
shuffle (uniform sha256 key), and the near-dup stage — elided here
because the fixture's near-dup signal lives on the embeddings table —
slots between dedup and output as LSH candidate generation
(q_llm_minhash_steep) → connected components (q_llm_dup_clusters) →
keep component minimum, adding two more bounded shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from token_burn_listener_spark.registry import query
from token_burn_listener_spark.tables import load_table


def _prep_gate_kernel(it):
    """Arrow-batched corpus-prep gate kernel (r13 optimization, guide §4):
    per surviving scan row, the INTEGER/HASH signals the gates need —
    token count, total/distinct word-trigram counts, sha256 hex — with
    the slice keys passed through. Exactness: the counts are exact
    integers via the same tuple-set identity q_llm_repetition's kernel
    proved (split(' ') tokens cannot contain spaces, so ' '-joined gram
    strings are injective in the token tuples); Python ``str.split(' ')``
    and Spark ``split(text, ' ')`` agree on empty/trailing fields; and
    ``hashlib.sha256`` over UTF-8 bytes emits the identical lowercase
    hex as ``F.sha2(text, 256)``. ALL float math (the rep ratio and its
    gate) stays JVM-side over these integers with the r1–r12 expression
    text, so cross-engine float identity is untouched.

    The r5–r12 all-JVM trigram form (zip_with over three shifted slices
    + array_distinct, materializing every gram string per doc) is the
    same machinery SCALE.md ("Round 11 runs") measured at 6.5× the
    kernel's cost at 5 M docs for q_llm_repetition (44.7–65.5 s → 6.9 s,
    r11); this key inherits that measured trade, plus the sha256 digest
    folded into the same single pass over the text.
    """
    import hashlib

    import pandas as pd

    for pdf in it:
        out = {
            "doc_id": pdf["doc_id"],
            "lang": pdf["lang"],
            "source": pdf["source"],
            "n_chars": pdf["n_chars"],
        }
        n_tok, n_g, n_d, shas = [], [], [], []
        for text in pdf["text"]:
            if text is None:
                raise ValueError(
                    "q_llm_corpus_prep: null text violates the documents "
                    "contract (non-null text); filter nulls upstream"
                )
            toks = text.split(" ")
            n_tok.append(len(toks))
            n = len(toks) - 2
            if n <= 0:
                n_g.append(0)
                n_d.append(0)
            else:
                n_g.append(n)
                n_d.append(len(set(zip(toks, toks[1:], toks[2:]))))
            shas.append(hashlib.sha256(text.encode("utf-8")).hexdigest())
        out["n_tokens"] = pd.Series(n_tok, dtype="int64")
        out["n_grams"] = pd.Series(n_g, dtype="int64")
        out["n_distinct"] = pd.Series(n_d, dtype="int64")
        out["sha"] = shas
        yield pd.DataFrame(out)


@query(
    "q_llm_corpus_prep",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, source, n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             CASE WHEN len(string_split(text, ' ')) >= 3 THEN
               1.0 - len(list_distinct(
                       [t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
                        for i in range(1, len(t) - 1)]))::DOUBLE
                   / (len(t) - 2)
             ELSE 0.0 END AS rep,
             sha256(text) AS sha
      FROM (SELECT *, string_split(text, ' ') AS t FROM documents)
    ),
    gated AS (
      SELECT * FROM scored
      WHERE lang <> 'zh'
        AND n_chars BETWEEN 80 AND 500
        AND n_tokens >= 15
        AND n_chars::DOUBLE / n_tokens <= 8.0
        AND rep <= 0.05
    ),
    kept AS (
      SELECT *, min(doc_id) OVER (PARTITION BY sha) AS keep_id FROM gated
    )
    SELECT doc_id, lang, source, n_tokens, round(rep, 6) AS rep_ratio
    FROM kept WHERE doc_id = keep_id
    """,
)
def q_llm_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prepared corpus: every document surviving quality gate +
    repetition gate + exact dedup, with its slice keys and scores.

    Gates filter on the UNROUNDED repetition ratio (an exact rational —
    bit-identical across engines, SURVEY.md §5.3); the survivor rule is
    the deterministic min-doc_id-per-sha256 argmin, expressed as a window
    over the sha key (one shuffle; at fixture scale the dedup stage is a
    verified pass-through — 0 exact dups at sf0.01 — which is itself the
    correct answer, and 8 dups collapse at sf0.1).

    r13 optimization (guide §4.2, the q_llm_repetition playbook): the
    per-doc signal pass (tokenize + trigram-set count + sha256) runs in
    ONE Arrow kernel (_prep_gate_kernel) instead of the JVM
    zip_with/array_distinct gram materialization — integer/hash outputs
    only, rep ratio and every gate float computed JVM-side from them
    with unchanged expression text. The lang/n_chars gates filter BEFORE
    the kernel: they are scan-column predicates, so they still push to
    the parquet reader (PushedFilters in
    plans/r13/q_llm_corpus_prep_after.txt) AND they shrink what crosses
    the Arrow boundary to the surviving rows.
    """
    d = load_table(spark, sf_dir, "documents")
    # (r14: spread_small_scan tried above the gate filters and REVERTED
    # after the A/B — the Arrow gate kernel is already fast enough that
    # the round-robin shuffle costs more than the parallelism buys:
    # median 0.48 -> 0.71 s at sf0.1, same-process interleaved arms.)
    pre = d.filter(
        (F.col("lang") != "zh") & F.col("n_chars").between(80, 500)
    ).select("doc_id", "lang", "source", "n_chars", "text")
    scored = pre.mapInPandas(
        _prep_gate_kernel,
        schema=(
            "doc_id bigint, lang string, source string, n_chars bigint,"
            " n_tokens bigint, n_grams bigint, n_distinct bigint, sha string"
        ),
    ).withColumn(
        "rep",
        F.when(
            F.col("n_tokens") >= 3,
            1.0 - F.col("n_distinct") / F.col("n_grams"),
        ).otherwise(F.lit(0.0)),
    )
    gated = scored.filter(
        (F.col("n_tokens") >= 15)
        & (F.col("n_chars") / F.col("n_tokens") <= 8.0)
        & (F.col("rep") <= 0.05)
    )
    from pyspark.sql.window import Window

    keep = F.min("doc_id").over(Window.partitionBy("sha"))
    return (
        gated.withColumn("keep_id", keep)
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select(
            "doc_id", "lang", "source", "n_tokens",
            F.round("rep", 6).alias("rep_ratio"),
        )
    )


@query(
    "q_llm_training_manifest",
    oracle="""
    WITH RECURSIVE prep AS (
      WITH scored AS (
        SELECT doc_id, lang, source, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               CASE WHEN len(string_split(text, ' ')) >= 3 THEN
                 1.0 - len(list_distinct(
                         [t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
                          for i in range(1, len(t) - 1)]))::DOUBLE
                     / (len(t) - 2)
               ELSE 0.0 END AS rep,
               sha256(text) AS sha
        FROM (SELECT *, string_split(text, ' ') AS t FROM documents)
      ),
      gated AS (
        SELECT * FROM scored
        WHERE lang <> 'zh'
          AND n_chars BETWEEN 80 AND 500
          AND n_tokens >= 15
          AND n_chars::DOUBLE / n_tokens <= 8.0
          AND rep <= 0.05
      ),
      kept AS (
        SELECT *, min(doc_id) OVER (PARTITION BY sha) AS keep_id FROM gated
      )
      SELECT doc_id, source, n_tokens::BIGINT AS n_tokens
      FROM kept WHERE doc_id = keep_id
    ),
    tr AS (
      SELECT doc_id, source, n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM prep
      WHERE CAST(('0x' || substr(sha256(doc_id::VARCHAR), 1, 2)) AS BIGINT)
            < 230
    ),
    packs AS (
      SELECT source, rn, doc_id, n_tokens, 0::BIGINT AS pack_id,
             n_tokens AS fill
      FROM tr WHERE rn = 1
      UNION ALL
      SELECT t.source, t.rn, t.doc_id, t.n_tokens,
             CASE WHEN p.fill + t.n_tokens > 256
                  THEN p.pack_id + 1 ELSE p.pack_id END,
             CASE WHEN p.fill + t.n_tokens > 256
                  THEN t.n_tokens ELSE p.fill + t.n_tokens END
      FROM packs p JOIN tr t ON t.source = p.source AND t.rn = p.rn + 1
    )
    SELECT doc_id, source, n_tokens, pack_id FROM packs
    """,
)
def q_llm_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END of the pipeline: the manifest a trainer actually consumes.
    Composes three verified stages — corpus prep (quality gates +
    repetition gate + exact dedup survivor, q_llm_corpus_prep), the
    deterministic train split (q_llm_split's sha256-byte rule), and greedy
    next-fit sequence packing (q_llm_pack_sequences' fold) — into one
    oracle-checked query emitting (doc_id, source, n_tokens, pack_id) for
    every training-split survivor.

    100 TB plan: the gates are map-only over the scan, dedup is the one
    sha256 shuffle, the split test is row-local, and packing is ONE
    applyInPandas over per-source groups carrying only (doc_id, source,
    n_tokens) — text never leaves the JVM, and every stage's scale
    argument is inherited from the component key it composes.
    """
    import pandas as pd

    prep = q_llm_corpus_prep(spark, sf_dir).select("doc_id", "source", "n_tokens")
    split_byte = F.conv(
        F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 2), 16, 10
    ).cast("long")
    train = prep.filter(split_byte < 230)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack_ids = []
        pack_id, fill = 0, 0
        for n in pdf["n_tokens"]:
            if fill + n > 256 and fill > 0:
                pack_id += 1
                fill = 0
            fill += n
            pack_ids.append(pack_id)
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int64")
        return pdf[["doc_id", "source", "n_tokens", "pack_id"]]

    return train.groupBy("source").applyInPandas(
        pack, "doc_id long, source string, n_tokens long, pack_id long"
    )

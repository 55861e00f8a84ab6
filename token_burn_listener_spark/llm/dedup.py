"""B10 — document deduplication (SURVEY.md §2.B10; north star BASELINE.json:6).

Two tiers, matching how a 100 TB training-data pipeline actually dedups:

- **Exact**: hash-groupBy on a content fingerprint. One shuffle on the
  64-hex-char sha256 key, partial+final agg, deterministic survivor
  (min doc_id). At 100 TB this is the cheap first pass — the hash key is
  tiny and uniformly distributed, so no skew.
- **Near**: MinHash-LSH over character 5-gram shingles, ONE relational
  path whose keys are configurations of it. ``_minhash_sigs`` builds the
  signature table from deterministic sha256 windows (bit-identical to the
  DuckDB oracles); ``_band_candidates`` AND-bands it in one self-join;
  ``_jaccard_verify`` checks every candidate with exact shingle Jaccard
  through ``_jaccard_at_least``, the core the brute-force oracle twin
  ``exact_pair_grid`` shares. Configurations: q_llm_minhash_exact (4×2
  bands), q_llm_minhash_steep (6×3, the production shape),
  q_llm_minhash_bucketed (6×3 over a doc_id-bucketed layout) and
  q_llm_lsh_recall (the 4×2 recall audit). No O(n²) crossJoin on the LSH
  path — candidate generation is the band join, which is the at-scale
  path (SURVEY.md §7.4). Every key is oracle-exact; recall vs exact
  Jaccard is checked in-query by q_llm_lsh_recall and in tests/test_llm.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from token_burn_listener_spark.registry import query
from token_burn_listener_spark.tables import load_table, spread_small_scan


def shingled(df: DataFrame, n: int = 5) -> DataFrame:
    """(doc_id, sh): distinct character n-gram shingles per document.

    The char array is pinned behind an ``explode(array(e))`` Generate
    barrier and each shingle is a ``slice`` of that BOUND attribute —
    O(n) per gram, O(n·L) per doc. The r1–r9 form was an inline
    ``transform(sequence(...), i -> substring(text, i, n))`` expression:
    substring re-scans the UTF-8 string to offset i on every call, so
    every shingled doc paid O(L²) chars — invisible at fixture scale,
    ~90× excess char work at real document lengths (caught r10 when the
    honest force() probe made the minhash 100× signature stage crawl;
    same defect family as the substring note in q_llm_winnow and the
    plan-audit lambda-rederive gate, which now also flags substring).

    ``greatest(..., 1)`` guards short strings: Spark's sequence() would
    otherwise generate a DESCENDING range for start > stop; slice() past
    the array end truncates, so the one gram of a short doc is the whole
    text — byte-identical to the substring form on in-contract (BMP)
    inputs.

    r14 (guide §2.5): the input is spread to core count when the scan is
    sub-core-count (the one-file documents fixture reads as a SINGLE
    partition — under the 4 MB openCost floor — so this O(n·L) explode
    and every kernel/verify stage built on it ran serial; PERF_r13's
    0.95-scaling decontaminate diagnosed the same cause). No-op at real
    scale: a corpus with more splits than cores never repartitions.
    """
    chars = spread_small_scan(df.select("doc_id", "text")).select(
        "doc_id", F.explode(F.array(F.split("text", ""))).alias("cs")
    )
    sh = F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(cs) - {n - 1},"
        f" 1)), i -> array_join(slice(cs, i, {n}), '')))"
    )
    return chars.select("doc_id", sh.alias("sh"))


@query(
    "q_llm_exact_dedup",
    oracle="""
    SELECT sha256(text) AS sha, min(doc_id) AS keep_doc_id, count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def q_llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by sha256(text): deterministic survivor + multiplicity.

    groupBy-argmin instead of dropDuplicates: WHICH row survives subset
    dedup is nondeterministic under parallel scan order (SURVEY.md §5.3#3);
    min(doc_id) pins it on both engines.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2("text", 256).alias("sha"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


@query(
    "q_llm_jaccard_pairs",
    oracle="""
    WITH s AS MATERIALIZED (
      SELECT doc_id,
             -- greatest(..., 2) mirrors the Spark side's greatest(len-4, 1)
             -- guard (shingled() above): texts shorter than the shingle
             -- width yield ONE truncated shingle on both engines instead of
             -- an empty list here and a 1-element list there.
             list_distinct([substring(text, i, 5)
                            for i in range(1, greatest(length(text) - 3, 2))]) AS sh
      FROM documents
    )
    -- Inverted-index evaluation of the same exact math: |A∩B| from a
    -- posting-list self-join + group-by (no per-pair list ops), and
    -- |A∪B| = |A|+|B|-|A∩B| since sh is distinct. Pairs with an empty
    -- intersection cannot reach 0.4, so dropping them is lossless.
    , sz AS MATERIALIZED (SELECT doc_id, len(sh) AS l FROM s)
    , e AS (SELECT doc_id, unnest(sh) AS g FROM s)
    , inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, round(i::DOUBLE / (la.l + lb.l - i), 6) AS jaccard
    FROM inter
    JOIN sz la ON la.doc_id = doc_a
    JOIN sz lb ON lb.doc_id = doc_b
    WHERE i::DOUBLE / (la.l + lb.l - i) >= 0.4
    """,
)
def q_llm_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard near-dup pairs (extra, beyond §2.B10).

    The ORACLE for what the MinHash-LSH keys approximate: brute-force
    pairwise Jaccard ≥ 0.4 over 5-gram shingles. O(n²) by design at
    fixture scale (SURVEY.md §7.4 exception); q_llm_minhash_steep is the
    100 TB path. The threshold filter runs on the unrounded ratio — an
    exact rational of two ints, bit-identical across engines.
    """
    d = shingled(load_table(spark, sf_dir, "documents"))
    return exact_pair_grid(_encoded(d)).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


_JACCARD_T = 0.4  # near-dup threshold shared by all exact-pair consumers
_ID_ENCODE = "transform(sh, s -> xxhash64(s))"  # shingle strings → ids


def exact_pair_grid(
    d: DataFrame,
    a_name: str = "doc_a",
    b_name: str = "doc_b",
    sample_mod: int | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard ≥ _JACCARD_T pairs over the brute-force grid
    (the documented fixture-scale oracle twin of the LSH path). Input is
    (doc_id, sh) — string shingles or the ids of ``_encoded``; output is
    (a_name, b_name, jaccard) with the UNROUNDED exact rational.
    ``sample_mod`` keeps only pairs whose smaller id ≡ 0 (mod m) — the
    deterministic pair sample the recall audit counts.
    """
    left = d.filter(F.col("doc_id") % sample_mod == 0) if sample_mod else d
    a = left.select(F.col("doc_id").alias(a_name), F.col("sh").alias("_sa"))
    b = d.select(F.col("doc_id").alias(b_name), F.col("sh").alias("_sb"))
    return _jaccard_at_least(
        a.crossJoin(b).filter(F.col(a_name) < F.col(b_name)), a_name, b_name
    )


def _jaccard_at_least(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """(a, b, jaccard) for the rows of ``pairs`` — id columns ``a``/``b``
    plus the distinct shingle arrays ``_sa``/``_sb`` — whose exact
    shingle Jaccard is ≥ _JACCARD_T; ``jaccard`` is the UNROUNDED exact
    rational. The one exact-Jaccard core: the brute-force grid, the LSH
    verify and the recall audit all call it. Three value-identical cuts:

    - length prefilter: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), and correctly
      rounded IEEE division is monotone, so a pair whose computed min/max
      is < t cannot have a computed J ≥ t — it skips the intersect;
    - |A∪B| = |A|+|B|-|A∩B| (the arrays are distinct by construction):
      one array_intersect per pair is the only array op, the same exact
      rational as the oracles' len(list_distinct(a || b)) denominator;
    - the (i, la, lb) projection sits behind an explode(array(struct))
      Generate barrier (r13, the winnow/simhash pin): CollapseProject
      cannot cross it, so the intersect is not re-inlined into both the
      threshold filter and the output projection (two hash-set builds
      per pair). Measured on the verify (sf0.1, 233k candidates on the
      contrast-free fixture): 38.1 s → 20.0 s noop, identical rows.
    """
    la, lb = F.size("_sa"), F.size("_sb")
    jac = F.col("_i").cast("double") / (
        F.col("_la") + F.col("_lb") - F.col("_i")
    )
    return (
        pairs.filter(F.least(la, lb) / F.greatest(la, lb) >= _JACCARD_T)
        .select(
            a,
            b,
            F.explode(
                F.array(
                    F.struct(
                        F.size(F.array_intersect("_sa", "_sb")).alias("_i"),
                        la.alias("_la"),
                        lb.alias("_lb"),
                    )
                )
            ).alias("_v"),
        )
        .select(a, b, "_v._i", "_v._la", "_v._lb")
        .filter(jac >= _JACCARD_T)
        .select(a, b, jac.alias("jaccard"))
    )


def _ids_injective(d: DataFrame) -> bool:
    """True when xxhash64 is PROVEN injective on the shingles of ``d``
    (doc_id, sh): one aggregate over the shingle rows checks (a) no
    shingle is null and (b) count_distinct(shingle) ==
    count_distinct(xxhash64(shingle)). Both hold ⇒ xxhash64 restricted
    to this corpus's shingle set is a bijection onto its image, so for
    EVERY doc pair |hash(A) ∩ hash(B)| = |A ∩ B| and |hash(A)| = |A|
    (shingled() arrays are distinct, and an injective map keeps them
    distinct) — a Jaccard over ids is bit-identical to the string form
    BY THEOREM, not by a collision-probability argument. The one check
    behind both id encodes: _shingle_ids (per query) and the bucketed
    layout's build (once per ingest).

    The 64-bit ceiling: with n distinct shingles a collision has
    probability ≈ n²/2⁶⁵ — ~1e-7 at 2 M shingles, but likely (≈ 3%
    at 10⁹, past 50% near 5·10⁹). Near 10⁹ distinct shingles the check
    therefore starts refusing the encode and the verify falls back to
    the string shingles: the result stays exact, it only runs slower
    (the ~2.3× per-pair id saving is lost). No wider encode is built.
    """
    row = (
        d.select(F.explode("sh").alias("g"))
        .agg(
            F.count_distinct("g").alias("ns"),
            F.count_distinct(F.xxhash64("g")).alias("nh"),
            F.sum(F.col("g").isNull().cast("long")).alias("nn"),
        )
        .first()
    )
    return (row.nn or 0) == 0 and row.ns == row.nh


def _shingle_ids(d: DataFrame) -> DataFrame | None:
    """(doc_id, sh) with the shingle STRINGS re-encoded as xxhash64 ids —
    or None when _ids_injective cannot prove the encode exact for this
    corpus (r14, VERDICT r13 #1).

    The exact-Jaccard verify's per-pair cost is one array_intersect hash
    -set build over two ~|doc|-element STRING arrays; over int64 ids the
    same build is ~2.3× cheaper and the carried arrays shuffle fewer
    bytes (steep key end-to-end 10.35 → 4.56 s median, jaccard_pairs
    23.7 → 10.5 s, identical rows). The check is one construction-time
    job over the already-pinned table (the pq_adc/cdc_merge
    construction-collect precedent), ~0.2–0.5 s at sf0.1. See
    _ids_injective for the exactness theorem and the 64-bit ceiling.
    """
    if not _ids_injective(d):
        return None
    return d.select("doc_id", F.expr(_ID_ENCODE).alias("sh"))


def _encoded(d: DataFrame) -> DataFrame:
    """``d`` with its shingles as ids when _shingle_ids proves that exact,
    else ``d`` unchanged: the input every exact-Jaccard consumer takes."""
    ids = _shingle_ids(d)
    return d if ids is None else ids


@query(
    "q_llm_emb_near_dup",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                 b.embedding::DOUBLE[]) >= 0.45
    """,
)
def q_llm_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (extra, beyond §2.B10).

    Semantic near-dup detection: pairs with cosine ≥ 0.45 (threshold
    calibrated to the fixture — max pairwise cosine ≈ 0.51). Brute force
    here; at 100 TB candidate generation moves to the LSH-bucket join
    (q_llm_ann_lsh) with this exact computation applied per candidate.

    Zero vectors: rejected at the Spark scan (similarity.nonzero — the
    unguarded division would ANSI-throw); the oracle needs no predicate
    because DuckDB's list_cosine_similarity returns -1.0 for a zero
    vector, which the >= 0.45 threshold excludes — the same pair set.
    """
    from token_burn_listener_spark.llm.similarity import (
        as_double,
        dot,
        l2,
        nonzero,
    )

    e = nonzero(load_table(spark, sf_dir, "embeddings"))
    a = e.select(F.col("vec_id").alias("vec_a"), as_double("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vec_b"), as_double("embedding").alias("eb"))
    cos = dot("ea", "eb") / (l2("ea") * l2("eb"))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= 0.45)
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos_sim"))
    )


@query("q_llm_simhash")  # rows-only: xxhash64-based signature, no DuckDB twin
def q_llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates via banded signature join (extra, §2.B10).

    Real SimHash-LSH, Spark-native end to end:
    1. 64-bit signature per doc: xxhash64 each shingle, majority-vote each
       bit — all inside array HOFs (codegen, no UDF);
    2. split the signature into four 16-bit bands; docs sharing ANY band
       value become candidates (an equi-join on (band_idx, band_val) — the
       LSH trick that replaces the O(n²) pair scan at 100 TB);
    3. exact Hamming distance (bit_count(a XOR b)) filters candidates ≤ 16.
    """
    d = shingled(load_table(spark, sf_dir, "documents"))
    hashed = d.select(
        "doc_id",
        F.explode(
            F.array(F.expr("transform(sh, s -> xxhash64(s))"))
        ).alias("hs"),
    )
    # explode(array(e)) is a materialization barrier: the Generate node
    # binds the hashed shingles to an attribute CollapseProject cannot
    # inline into the 64 bit-votes below (unpinned, every shingle is
    # re-hashed 64× — measured 44 s → ~2 s at sf0.01). The r1–r8 form
    # pinned via .repartition("doc_id"), which shuffles the full hash
    # arrays; the Generate form pins in-stage with zero exchange (r9
    # winnow probe finding — same pattern, factor 212 → ~1.6 at 1000×).
    sig = hashed.select(
        "doc_id",
        F.expr(
            "aggregate(sequence(0, 63), 0L, (acc, j) -> acc + "
            "  (CASE WHEN aggregate(hs, 0L,"
            "          (a, h) -> a + CASE WHEN (h >> j) & 1 = 1"
            "                        THEN 1L ELSE -1L END) > 0"
            "   THEN shiftleft(1L, j) ELSE 0L END))"
        ).alias("simhash"),
    )
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                "transform(sequence(0, 3),"
                " k -> named_struct('band_idx', k,"
                "                   'band_val', (simhash >> (k * 16)) & 65535))"
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sig_a"),
        "band_idx",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sig_b"),
        "band_idx",
        "band_val",
    )
    hamming = F.bit_count(F.expr("sig_a ^ sig_b"))
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.cast("long").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= 16)
    )


@query(
    "q_llm_dup_clusters",
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]) >= 0.45
    ),
    edges AS (SELECT va, vb FROM pairs
              UNION SELECT vb AS va, va AS vb FROM pairs),
    reach(src, dst) AS (
      SELECT va, vb FROM edges
      UNION
      SELECT r.src, e.vb FROM reach r JOIN edges e ON r.dst = e.va
    )
    SELECT v.vec_id,
           least(v.vec_id, coalesce(min(r.dst), v.vec_id)) AS component_id
    FROM embeddings v LEFT JOIN reach r ON r.src = v.vec_id
    GROUP BY v.vec_id
    """,
)
def q_llm_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the cosine ≥ 0.45
    pair graph, each vector labeled with its component's minimum vec_id
    (extra, beyond §2.B10) — the step a real dedup pipeline runs between
    pair generation and survivor selection (pairs alone over-delete when
    A~B and B~C but A≁C).

    Iterative min-label propagation: each round every vector takes the min
    of its own label and its neighbors' labels; converges in O(graph
    diameter) rounds — near-dup components are tiny, so 2-3 in practice,
    with a 32-round safety bound. Spark has no native iteration, so the
    driver loop re-submits the join plan per round with localCheckpoint
    truncating the otherwise-exponential lineage (at cluster scale:
    checkpoint() to durable storage); the per-round convergence probe
    collects ONE scalar (sum of labels, strictly decreasing until fixed
    point). Candidate pairs here are the exact small-corpus oracle
    (crossJoin, SURVEY.md §7.4 exception); at 100 TB they come from the
    LSH keys (q_llm_minhash_steep / q_llm_ann_lsh) and this component pass
    runs unchanged on those edges. The DuckDB oracle computes the same
    components via recursive transitive closure.

    Zero vectors: the EDGE derivation runs on the nonzero scan (the
    unguarded division would ANSI-throw), but the VERTEX universe stays
    the full table — a zero vector has no defined cosine to anything, so
    it is a singleton component, exactly what the oracle produces
    (list_cosine_similarity's -1.0 fails the threshold, and the LEFT
    JOIN keeps the vertex).
    """
    from token_burn_listener_spark.llm.similarity import (
        as_double,
        dot,
        l2,
        nonzero,
    )

    e = load_table(spark, sf_dir, "embeddings")
    enz = nonzero(e)
    a = enz.select(
        F.col("vec_id").alias("va"), as_double("embedding").alias("ea")
    )
    b = enz.select(
        F.col("vec_id").alias("vb"), as_double("embedding").alias("eb")
    )
    cos = dot("ea", "eb") / (l2("ea") * l2("eb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("va") < F.col("vb"))
        .filter(cos >= 0.45)
        .select("va", "vb")
    )
    return min_label_components(e.select("vec_id"), pairs, "vec_id")


def min_label_components(
    nodes: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    ``nodes``: one row per vertex (column ``id_col``); ``pairs``: one row
    per undirected edge as (va, vb). Returns (id_col, component_id) with
    component_id = the component's minimum vertex id. Semantics and scale
    notes as documented on q_llm_dup_clusters (the original inline form);
    extracted so survivor selection (q_llm_dedup_survivors) runs the same
    propagation over a different edge set.
    """
    edges = pairs.unionAll(
        pairs.select(F.col("vb").alias("va"), F.col("va").alias("vb"))
    ).localCheckpoint()  # materialized once, re-read every round
    labels = nodes.select(id_col, F.col(id_col).alias("component_id"))
    prev = None
    converged = False
    max_rounds = 32
    for _ in range(max_rounds):
        nbr = (
            edges.join(labels, edges["vb"] == labels[id_col])
            .groupBy("va")
            .agg(F.min("component_id").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr, labels[id_col] == nbr["va"], "left")
            .select(
                id_col,
                F.least(
                    "component_id", F.coalesce("nbr_min", "component_id")
                ).alias("component_id"),
            )
            .localCheckpoint()
        )
        cur = labels.agg(F.sum("component_id")).collect()[0][0]
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # No-silent-caps convention: a component whose diameter exceeds the
        # round budget would get WRONG labels (and downstream survivor
        # selection wrong keep/drop decisions) if we returned here quietly.
        raise RuntimeError(
            f"min_label_components: no fixed point after {max_rounds} "
            "rounds — graph diameter exceeds the budget; raise max_rounds"
        )
    return labels


@query(
    "q_llm_dedup_survivors",
    oracle="""
    WITH RECURSIVE s AS MATERIALIZED (
      SELECT doc_id,
             list_distinct([substring(text, i, 5)
                            for i in range(1, greatest(length(text) - 3, 2))]) AS sh
      FROM documents
    ),
    -- Inverted-index evaluation of the same exact math (the
    -- q_llm_jaccard_pairs oracle's form): |A∩B| via posting-list
    -- self-join + group-by, |A∪B| = |A|+|B|-|A∩B| since sh is distinct.
    -- DuckDB rewrites per-pair list_intersect into an interpreted
    -- list_filter lambda (measured 23 s on the pair grid); the posting
    -- join is the same rational in ~1 s.
    sz AS MATERIALIZED (SELECT doc_id, len(sh) AS l FROM s),
    ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
    inter AS MATERIALIZED (
      SELECT a.doc_id AS va, b.doc_id AS vb, count(*) AS i
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS MATERIALIZED (
      SELECT va, vb
      FROM inter
      JOIN sz la ON la.doc_id = va
      JOIN sz lb ON lb.doc_id = vb
      WHERE i::DOUBLE / (la.l + lb.l - i) >= 0.4
    ),
    -- MATERIALIZED is load-bearing here: the recursive reach CTE joins
    -- edges once PER ITERATION, and an inlined edges would re-run the
    -- whole pair join each round (measured 95 s -> ~10 s at sf0.01)
    edges AS MATERIALIZED (
              SELECT va, vb FROM pairs
              UNION SELECT vb AS va, va AS vb FROM pairs),
    reach(src, dst) AS (
      SELECT va, vb FROM edges
      UNION
      SELECT r.src, e.vb FROM reach r JOIN edges e ON r.dst = e.va
    ),
    comp AS (
      SELECT d.doc_id,
             least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS component_id
      FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
      GROUP BY d.doc_id
    ),
    q AS (
      SELECT doc_id,
             floor((0.5 * least(n_chars / 500.0, 1.0)
                    + 0.3 * (1.0 - n_stop::DOUBLE / n_tokens)
                    + 0.2 * least(n_tokens / 100.0, 1.0)) * 1000000 + 0.5)
               / 1000000 AS quality
      FROM (SELECT doc_id, n_chars,
                   len(string_split(text, ' ')) AS n_tokens,
                   len([w for w in string_split(text, ' ')
                        if w = 'a' OR w = 'the']) AS n_stop
            FROM documents)
    )
    SELECT c.doc_id, component_id, quality,
           row_number() OVER (PARTITION BY component_id
                              ORDER BY quality DESC, c.doc_id) = 1 AS kept
    FROM comp c JOIN q USING (doc_id)
    """,
)
def q_llm_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup dedup DELIVERABLE: pair generation (exact Jaccard ≥ 0.4
    with the length prefilter) → connected components → keep the
    highest-quality document per component (tie → min doc_id). Every doc
    comes back labeled (component_id, quality, kept), so downstream both
    filters survivors AND audits what was dropped and why.

    Composes three already-verified pieces — shingled()/the jaccard pair
    predicate (q_llm_jaccard_pairs), min_label_components
    (q_llm_dup_clusters), and the quality blend (q_llm_quality_score) —
    into the pipeline a training-data team actually ships.

    100 TB plan: pairs come from LSH (q_llm_minhash_steep) instead of the
    documented O(n²) exact join used at fixture scale; components and the
    per-component argmax (a bounded-partition window — near-dup components
    are tiny) run unchanged on those edges.
    """
    d = shingled(load_table(spark, sf_dir, "documents"))
    pairs = exact_pair_grid(_encoded(d), "va", "vb").select("va", "vb")
    docs = load_table(spark, sf_dir, "documents")
    comp = min_label_components(docs.select("doc_id"), pairs, "doc_id")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda w: (w == "a") | (w == "the")))
    score = (
        0.5 * F.least(F.col("n_chars") / 500.0, F.lit(1.0))
        + 0.3 * (1.0 - n_stop.cast("double") / n_tokens)
        + 0.2 * F.least(n_tokens / 100.0, F.lit(1.0))
    )
    quality = (F.floor(score * 1000000 + 0.5) / 1000000).alias("quality")
    scored = docs.select("doc_id", quality)
    from pyspark.sql.window import Window

    w = Window.partitionBy("component_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        comp.join(scored, "doc_id")
        .withColumn("kept", F.row_number().over(w) == 1)
        .select("doc_id", "component_id", "quality", "kept")
    )


# Same cosine threshold q_llm_emb_near_dup uses for its pair graph
# (calibrated to the fixture: max pairwise cosine ≈ 0.51).
_EMB_THRESHOLD = 0.45


@query(
    "q_graph_triangles",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    edges AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.e, b.e) >= {_EMB_THRESHOLD}
    )
    SELECT count(*) AS n_triangles,
           (SELECT count(*) FROM edges) AS n_edges
    FROM edges e1
    JOIN edges e2 ON e1.vb = e2.va
    JOIN edges e3 ON e1.va = e3.va AND e2.vb = e3.vb
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the near-dup similarity graph (extra): the
    standard cluster-cohesion diagnostic — near-dup components with few
    triangles are chains (risky transitive merges: A~B~C with A!~C), ones
    rich in triangles are genuine duplicate cliques.

    Node-iterator formulation: every triangle a<b<c is counted exactly
    once via the ordered two-hop join (a,b)⋈(b,c) closed by (a,c).

    100 TB plan: edges at scale come from the LSH candidate pairs (this
    fixture derivation is the documented exact-cosine oracle twin, as for
    q_llm_dup_clusters). The two-hop join shuffles the edge list twice on
    vertex keys; the standard skew guard — cap or sample hub vertices'
    adjacency (degree ≥ d → sampled closure estimate) — bounds the b-key
    explosion the same way production triangle counters (e.g. Cohen's
    MapReduce scheme) do.

    Zero vectors: rejected at the Spark scan (similarity.nonzero); the
    oracle's >= threshold already excludes them (DuckDB's builtin yields
    -1.0 for a zero vector) — identical edge sets, no division reached.
    """
    from token_burn_listener_spark.llm.similarity import (
        as_double,
        dot,
        l2,
        nonzero,
    )

    e = nonzero(load_table(spark, sf_dir, "embeddings"))
    a = e.select(F.col("vec_id").alias("va"), as_double("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vb"), as_double("embedding").alias("eb"))
    cos = dot("ea", "eb") / (l2("ea") * l2("eb"))
    edges = (
        a.crossJoin(b)
        .filter(F.col("va") < F.col("vb"))
        .filter(cos >= _EMB_THRESHOLD)
        .select("va", "vb")
        .localCheckpoint()  # reused three times in the closure join
    )
    e1 = edges.select(F.col("va").alias("a"), F.col("vb").alias("b"))
    e2 = edges.select(F.col("va").alias("b"), F.col("vb").alias("c"))
    e3 = edges.select(F.col("va").alias("a"), F.col("vb").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    n_edges = edges.count()
    return tri.agg(
        F.count("*").alias("n_triangles"),
        F.lit(n_edges).cast("long").alias("n_edges"),
    )


@query(
    "q_llm_fuzzy_dup",
    oracle="""
    WITH t AS (
      SELECT doc_id, substr(text, 1, 40) AS title
      FROM documents WHERE length(substr(text, 1, 40)) >= 20
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.title, b.title) AS BIGINT) AS edit_dist
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE abs(length(a.title) - length(b.title)) <= 2
      AND levenshtein(a.title, b.title) <= 2
    """,
)
def q_llm_fuzzy_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy-duplicate pairs via ED-Join q-gram prefix
    filtering (Xiao et al., VLDB'08): titles (first 40 chars) within
    Levenshtein distance d=2, WITHOUT an all-pairs comparison.

    Candidate generation is lossless: ed(a,b) <= d implies the 3-gram
    multisets overlap in >= t = max(|Ga|,|Gb|) - d*q elements, so after
    ordering every doc's (gram, occurrence) elements by ascending global
    document frequency, two within-threshold docs MUST share at least k=6
    elements in their first d*q+k = 12 ("prefix") — the k-overlap prefix
    theorem (prefix length |G| - t + k <= d*q + k, valid while k <= t).
    Candidates are therefore pairs sharing >= 6 prefix elements (COUNT
    filtering, Xiao et al. §4), which prunes the long tail of
    few-collision pairs that 1-element prefixes let through on templated
    corpora (measured sf0.1: 1.72 M raw collision pairs -> 32 k verified,
    25 s -> 8 s end-to-end); exact levenshtein verification then discards
    the remaining false candidates. Multiset semantics are preserved by
    keying elements as (gram, k-th occurrence), not distinct grams — the
    overlap bound is a multiset bound, and t >= 12 under the
    length(title) >= 20 guard keeps k=6 valid.

    100 TB plan: df computation and the candidate join shuffle on the
    element key (12 rows/doc, uniform — rare grams by construction); the
    count filter is a partial+final agg on pair keys; verification is
    map-side levenshtein over surviving pairs only. The all-pairs O(n^2)
    exists only in the oracle. The per-doc prefix window partitions by
    doc_id — no global window. The prefix is localCheckpoint'd: both
    sides of the self-join read one materialization instead of
    recomputing the df-join + window subtree.
    """
    d = load_table(spark, sf_dir, "documents")
    t = (
        d.select("doc_id", F.substring("text", 1, 40).alias("title"))
        .filter(F.length("title") >= 20)
    )
    grams = t.select(
        "doc_id",
        F.posexplode(
            F.expr("transform(sequence(1, length(title) - 2), i -> substring(title, i, 3))")
        ).alias("pos", "gram"),
    )
    occ_w = Window.partitionBy("doc_id", "gram").orderBy("pos")
    elems = grams.withColumn("occ", F.row_number().over(occ_w)).select(
        "doc_id", "gram", "occ"
    )
    dfreq = elems.groupBy("gram", "occ").agg(F.count("*").alias("df"))
    pref_w = Window.partitionBy("doc_id").orderBy("df", "gram", "occ")
    prefix = (
        elems.join(dfreq, ["gram", "occ"])
        .withColumn("rn", F.row_number().over(pref_w))
        .filter(F.col("rn") <= 12)
        .select("doc_id", "gram", "occ")
        .localCheckpoint(eager=False)
    )
    cand = (
        prefix.select(F.col("doc_id").alias("doc_a"), "gram", "occ")
        .join(prefix.select(F.col("doc_id").alias("doc_b"), "gram", "occ"), ["gram", "occ"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 6)
        .select("doc_a", "doc_b")
    )
    ta = t.select(F.col("doc_id").alias("doc_a"), F.col("title").alias("title_a"))
    tb = t.select(F.col("doc_id").alias("doc_b"), F.col("title").alias("title_b"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(
            (F.abs(F.length("title_a") - F.length("title_b")) <= 2)
            & (F.levenshtein("title_a", "title_b") <= 2)
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("title_a", "title_b").cast("long").alias("edit_dist"),
        )
    )


@query(
    "q_graph_pagerank",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    p AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.e, b.e) >= {_EMB_THRESHOLD}
    ),
    edges AS (SELECT va, vb FROM p UNION ALL SELECT vb AS va, va AS vb FROM p),
    deg AS (SELECT va AS v, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
    nn AS (SELECT count(*)::DOUBLE AS n FROM deg),
    p1 AS (
      SELECT e.vb AS v, 0.15 / min(nn.n) + 0.85 * sum((1.0 / min_n.n) / d.deg) AS pr
      FROM edges e JOIN deg d ON d.v = e.va, nn, (SELECT n FROM nn) AS min_n(n)
      GROUP BY e.vb
    ),
    p2 AS (
      SELECT e.vb AS v, 0.15 / min(nn.n) + 0.85 * sum(p1.pr / d.deg) AS pr
      FROM edges e JOIN p1 ON p1.v = e.va JOIN deg d ON d.v = e.va, nn
      GROUP BY e.vb
    )
    SELECT p2.v AS vec_id, d.deg, round(p2.pr, 6) AS pagerank
    FROM p2 JOIN deg d ON d.v = p2.v
    """,
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (2 unrolled power iterations, damping 0.85) over the
    near-dup similarity graph — centrality ranks the "template hubs" whose
    removal collapses the most duplicate mass, complementing component
    size (q_llm_dup_clusters) and cohesion (q_graph_triangles).

    Every node in the edge set has degree >= 1 in an undirected graph, so
    there are no dangling nodes and two clean join+agg rounds replay
    EXACTLY in the oracle's unrolled CTEs (iteration count fixed, both
    engines round once at the end).

    100 TB plan: edges at scale come from LSH candidates (this exact-
    cosine derivation is the documented fixture-scale oracle twin, as for
    q_graph_triangles); each iteration is one join of the edge list with
    the (node, rank) table — shuffled on the uniform vertex key — plus a
    partial+final sum. Iterating further is a driver loop over the same
    plan with lineage cut per round (the q_llm_dup_clusters pattern). The
    node count enters as a broadcast 1-row aggregate, never a collect.

    Zero vectors: rejected at the Spark scan (similarity.nonzero); the
    oracle's >= threshold already excludes them (DuckDB's builtin yields
    -1.0 for a zero vector) — identical vertex/edge sets either way.
    """
    from token_burn_listener_spark.llm.similarity import (
        as_double,
        dot,
        l2,
        nonzero,
    )
    from token_burn_listener_spark.operators.ranking import with_total_count

    e = nonzero(load_table(spark, sf_dir, "embeddings"))
    a = e.select(F.col("vec_id").alias("va"), as_double("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vb"), as_double("embedding").alias("eb"))
    cos = dot("ea", "eb") / (l2("ea") * l2("eb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("va") < F.col("vb"))
        .filter(cos >= _EMB_THRESHOLD)
        .select("va", "vb")
        .localCheckpoint()
    )
    edges = pairs.unionAll(
        pairs.select(F.col("vb").alias("va"), F.col("va").alias("vb"))
    )
    deg = edges.groupBy(F.col("va").alias("v")).agg(F.count("*").alias("deg"))
    # (node, deg, n, pr0): n rides along via a broadcast 1-row aggregate.
    pr = with_total_count(deg, "_n").withColumn(
        "pr", 1.0 / F.col("_n")
    )
    for _ in range(2):
        contrib = edges.join(
            pr.select(
                F.col("v").alias("va"),
                (F.col("pr") / F.col("deg")).alias("c"),
            ),
            "va",
        )
        sums = contrib.groupBy(F.col("vb").alias("v")).agg(F.sum("c").alias("s"))
        pr = (
            with_total_count(sums.join(deg, "v"), "_n")
            .withColumn("pr", 0.15 / F.col("_n") + 0.85 * F.col("s"))
            .select("v", "deg", "_n", "pr")
        )
    return pr.select(
        F.col("v").alias("vec_id"), "deg", F.round("pr", 6).alias("pagerank")
    )


_SUBDOC_CHUNK = 32  # tokens per non-overlapping chunk


@query(
    "q_llm_subdoc_dup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), chunks AS (
      SELECT doc_id,
             unnest([array_to_string(t[i * {_SUBDOC_CHUNK} + 1 :
                                       (i + 1) * {_SUBDOC_CHUNK}], ' ')
                     for i in range(0, CAST(ceil(len(t) / {_SUBDOC_CHUNK}.0) AS BIGINT))])
               AS chunk
      FROM toks
    ), hashed AS (
      SELECT doc_id, sha256(chunk) AS h FROM chunks
    ), spread AS (
      SELECT h, count(DISTINCT doc_id) AS n_docs FROM hashed GROUP BY h
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           round(sum(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS dup_fraction
    FROM hashed JOIN spread s USING (h)
    GROUP BY doc_id
    """,
)
def q_llm_subdoc_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication: split every doc into non-overlapping
    32-token chunks, hash them, and score each doc by the fraction of its
    chunks that ALSO appear verbatim in another document — the detector
    for boilerplate headers/footers and partially-copied pages that
    whole-document dedup (q_llm_exact_dedup) cannot see.

    100 TB plan: chunking is an in-row array transform (no join); the
    chunk-hash spread table is one partial+final agg on the uniform
    sha key; scoring joins hashes back — at scale the spread table
    carries only hashes with n_docs > 1 (duplicated chunks are the
    minority), making the scoring join a broadcast or small shuffle.
    Whole-doc text never shuffles: only (doc_id, 64-char hash) rows move.
    """
    d = load_table(spark, sf_dir, "documents")
    # token array pinned behind a Generate barrier: inlined, the chunk
    # transform's lambda re-splits the text once per chunk (the r10
    # plan-audit lambda-rederive gate caught this — same class as the
    # char_entropy fold defect)
    toks = d.select(
        "doc_id", F.explode(F.array(F.split("text", " "))).alias("t")
    )
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(t) "
                f"/ {_SUBDOC_CHUNK}.0) as int) - 1),"
                f" i -> array_join(slice(t, "
                f"i * {_SUBDOC_CHUNK} + 1, {_SUBDOC_CHUNK}), ' '))"
            )
        ).alias("chunk"),
    )
    hashed = chunks.select("doc_id", F.sha2("chunk", 256).alias("h"))
    spread = hashed.groupBy("h").agg(F.count_distinct("doc_id").alias("n_docs"))
    dup = F.when(F.col("n_docs") > 1, 1).otherwise(0)
    return (
        hashed.join(spread, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(dup).alias("n_dup_chunks"),
            F.round(F.sum(dup) / F.count("*"), 6).alias("dup_fraction"),
        )
    )


_SPAN_GRAM = 5  # tokens per sliding shingle for duplicated-span detection

# Shared island-detection CTE prefix for q_llm_dup_spans AND
# q_llm_span_removal (the Spark side shares one function; the oracles
# share this constant so an island-rule edit cannot silently diverge
# the two keys' detection semantics).
_SPAN_CTE = f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= {_SPAN_GRAM}
    ), g AS (
      SELECT doc_id,
             unnest(range(len(t) - {_SPAN_GRAM - 1})) AS pos,
             unnest([sha256(array_to_string(t[i + 1 : i + {_SPAN_GRAM}], ' '))
                     for i in range(len(t) - {_SPAN_GRAM - 1})]) AS h
      FROM t
    ), spread AS (
      SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ), hits AS (
      SELECT doc_id, pos FROM g JOIN spread USING (h)
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       > {_SPAN_GRAM}
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ), grpd AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM isl
    )"""


@query(
    "q_llm_dup_spans",
    oracle=f"""{_SPAN_CTE}, spans AS (
      SELECT doc_id, grp, min(pos) AS mn, max(pos) AS mx,
             CAST(count(*) AS BIGINT) AS n_grams
      FROM grpd GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY mn) AS BIGINT)
             AS span_rank,
           CAST(mn + 1 AS BIGINT) AS start_tok,
           CAST(mx + {_SPAN_GRAM} AS BIGINT) AS end_tok,
           CAST(mx + {_SPAN_GRAM} - mn AS BIGINT) AS n_tokens,
           n_grams
    FROM spans
    """,
)
def q_llm_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated SPANS: the substring-level dedup signal
    (extra, beyond §2.B10) between whole-doc dedup (q_llm_exact_dedup)
    and fixed-chunk scoring (q_llm_subdoc_dup) — per document, the
    maximal token ranges whose content also appears verbatim in another
    document, the unit the "dedup training data at the substring level"
    line of work removes rather than merely scores.

    Mechanics: slide a {_SPAN_GRAM}-token shingle over every doc (stride
    1), hash it, and call a shingle DUPLICATED when it occurs in >= 2
    distinct docs. Per doc, duplicated shingle positions are merged into
    maximal islands — a new island starts when the next position is more
    than {_SPAN_GRAM} past the previous one, i.e. the islands' TOKEN
    ranges stay contiguous (overlap or touch). Output is one row per
    (doc, span): 1-based token bounds, span length, shingle count, plus
    a per-doc span_rank making the total order explicit.

    100 TB plan: shingle hashing is an in-row array transform; the
    spread table is one partial+final agg on the uniform sha key and is
    FILTERED to duplicated hashes before the join back (duplicated
    shingles are the minority, so the join's build side is small); the
    island merge is a per-doc window — state bounded by document length,
    never cross-document. Only (doc_id, pos, hash) rows shuffle; text
    never leaves the scan. Since r11 the Spark-side hash IS xxhash64
    (8-byte long) rather than the oracle's sha256 hex — it only keys the
    spread, never the output, so the engines agree unless a 64-bit
    collision fabricates a duplicate (P ≈ 0.4% at the 1000× probe's
    ~4e8 shingles, ~1e-11 at oracle scale; see the pin comment below).
    """
    d = load_table(spark, sf_dir, "documents")
    # r14 (guide §2.5): spread the sub-core-count one-file scan so the
    # shingle hashing below parallelizes (no-op at real scale — see
    # tables.spread_small_scan)
    t = spread_small_scan(d.select("doc_id", "text")).select(
        "doc_id", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= _SPAN_GRAM)
    g = t.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(t) - {_SPAN_GRAM}), "
                f"i -> xxhash64(array_join(slice(t, i + 1, {_SPAN_GRAM}),"
                " ' ')))"
            )
        ).alias("pos", "h"),
        # pinned: g feeds BOTH the spread aggregation and the hits join —
        # unpinned, the scan+explode+hash runs twice (and 4x through
        # q_llm_span_removal, where the plan audit flags it). The pin
        # materializes the (doc_id, pos, hash) rows once — the same
        # shuffle-sized intermediate the two consumers already move.
        # r11 (VERDICT r10 #5): the pin hash is xxhash64 (8-byte long),
        # not the oracle's 64-char sha256 hex — the hash only KEYS the
        # spread + join, it is never output, so the engines agree as
        # long as the induced duplicated-shingle relation is identical.
        # A false duplicate needs an xxhash64 collision between two
        # distinct shingles in >= 2 docs: P <= rows²/2^65 ≈ 0.4% even at
        # the 1000× probe's ~4e8 rows, ~1e-11 at oracle scale. The
        # ~3.7× narrower row is what let the 1000× probe fit the 64 GB
        # single-box heap the r10 sha-hex pin OOMed.
    ).localCheckpoint(eager=False)
    spread = (
        g.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    hits = g.join(spread, "h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) > _SPAN_GRAM, 1
    ).otherwise(0)
    grpd = hits.withColumn("brk", brk).withColumn(
        "grp",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = grpd.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("mn"),
        F.max("pos").alias("mx"),
        F.count("*").alias("n_grams"),
    )
    # span_rank = grp + 1 (r14, guide §1.2): grp is the running sum of
    # 0/1 break flags in pos order, so within a doc it takes the
    # CONSECUTIVE values 0..n_spans-1 and mn is strictly increasing in
    # grp — row_number() OVER (ORDER BY mn) is grp + 1 by construction.
    # The r8–r13 form computed it as a second doc-ordered window, which
    # planned a second sort of the span rows after the aggregate (same
    # exchange, extra sort) for a value already sitting in the group key.
    return spans.select(
        "doc_id",
        (F.col("grp") + 1).cast("long").alias("span_rank"),
        (F.col("mn") + 1).cast("long").alias("start_tok"),
        (F.col("mx") + _SPAN_GRAM).cast("long").alias("end_tok"),
        (F.col("mx") + _SPAN_GRAM - F.col("mn")).cast("long").alias("n_tokens"),
        "n_grams",
    )


@query(
    "q_llm_span_removal",
    oracle=f"""{_SPAN_CTE}, spans AS (
      SELECT doc_id, min(pos) + 1 AS start_tok, max(pos) + {_SPAN_GRAM} AS end_tok
      FROM grpd GROUP BY doc_id, grp
    ), toks AS (
      SELECT doc_id, unnest(range(1, len(t) + 1)) AS tok_pos, unnest(t) AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) x
    ), kept AS (
      SELECT k.doc_id, k.tok_pos, k.tok FROM toks k
      WHERE NOT EXISTS (SELECT 1 FROM spans s
                        WHERE s.doc_id = k.doc_id
                          AND k.tok_pos BETWEEN s.start_tok AND s.end_tok)
    ), agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(tok, ' ' ORDER BY tok_pos) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(len(string_split(d.text, ' ')) - coalesce(a.n_kept, 0)
                AS BIGINT) AS n_removed,
           coalesce(a.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def q_llm_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate STRIPPING: apply q_llm_dup_spans' detection as a
    corpus transform (extra, beyond §2.B10) — every token covered by a
    cross-document duplicated span is removed from EVERY document and
    the cleaned text re-assembled, the CCNet-style policy for
    headers/footers/license blocks that repeat across pages (for
    keep-one-copy semantics, whole-doc dedup already exists as
    q_llm_exact_dedup; this key is the aggressive every-occurrence
    variant used for boilerplate). Output per doc: token counts
    before/kept/removed plus the cleaned text — a doc that was entirely
    duplicated content comes back EMPTY (''), visible, not dropped.

    100 TB plan: span detection inherits q_llm_dup_spans' shape (one
    hash-spread shuffle, per-doc island window); the removal side
    explodes tokens ONCE and left-joins spans PER DOC (equi on doc_id +
    a doc-bounded interval predicate — never cross-document; merged
    islands are pairwise disjoint by construction — consecutive islands
    are > {_SPAN_GRAM} positions apart — so a token matches at most one
    span and the join cannot multiply rows), then a single per-doc
    aggregation computes before/kept counts AND reassembles the kept
    text (sort_array over (pos, token) structs; collect_list drops the
    NULL removed-token entries) — state bounded by document length. The
    corpus is read exactly twice (span path + token path), the
    bigram-LM trade documented in llm/text.py.
    """
    # r14 restructure (guide §2.3/§2.4 — shuffle decisions, not payloads):
    # the r9–r13 form exploded every token, left-joined the span table on
    # (doc_id, between), and re-assembled each doc with a
    # groupBy(collect_list + array_sort) — i.e. the WHOLE corpus crossed
    # the final exchange one row per token only to be put back together in
    # doc order, which the token array already had. Now the (tiny —
    # duplicated islands only) span table is collected to ONE row per
    # contaminated doc and joined to the UN-exploded corpus; the removal
    # is a map-side array filter over (position, token) — no token
    # explode, no corpus-sized exchange, no re-sort. Values are identical:
    # islands are pairwise disjoint and the array filter preserves token
    # order, so counts and the re-joined clean_text match the per-token
    # form on every doc (parity at 3 SFs + the fuzz corpora).
    spans_per_doc = (
        q_llm_dup_spans(spark, sf_dir)
        .groupBy(F.col("doc_id").alias("s_doc"))
        .agg(
            F.collect_list(F.struct("start_tok", "end_tok")).alias("spans")
        )
    )
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("t"))
    j = t.join(spans_per_doc, t["doc_id"] == spans_per_doc["s_doc"], "left")
    # coalesce to a typed empty list: exists() over NULL spans would
    # null the filter predicate and silently drop every token of the
    # span-free (majority) docs
    sp = F.coalesce(
        F.col("spans"),
        F.array().cast("array<struct<start_tok:bigint,end_tok:bigint>>"),
    )
    kept = F.filter(
        F.transform(
            "t",
            lambda tok, i: F.struct(
                (i + F.lit(1)).cast("long").alias("p"), tok.alias("tok")
            ),
        ),
        lambda s: ~F.exists(
            sp,
            lambda b: (s["p"] >= b["start_tok"]) & (s["p"] <= b["end_tok"]),
        ),
    )
    # the kept array feeds three outputs (n_kept, n_removed, clean_text):
    # pin it behind the explode(array(e)) Generate barrier (the
    # winnow/simhash idiom) so the O(tokens × spans) filter evaluates
    # once per doc, not once per consumer projection
    pinned = j.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.explode(F.array(kept)).alias("kept"),
    )
    return pinned.select(
        "doc_id",
        "n_tokens",
        F.size("kept").cast("long").alias("n_kept"),
        (F.col("n_tokens") - F.size("kept")).cast("long").alias("n_removed"),
        F.array_join(F.transform("kept", lambda s: s["tok"]), " ").alias(
            "clean_text"
        ),
    )


_MH_FNS = 8  # minhash functions (disjoint sha256 hex windows)
_MH_BANDS = [(0, 1), (2, 3), (4, 5), (6, 7)]  # 4 bands x 2 rows
_N_BUCKETS = 32  # bucketed minhash layout: buckets, files, dedup partitions


@query(
    "q_llm_minhash_exact",
    oracle=f"""
    WITH s AS MATERIALIZED (
      SELECT doc_id,
             list_distinct([substring(text, i, 5)
                            for i in range(1, greatest(length(text) - 3, 2))]) AS sh
      FROM documents
    ), e AS (
      SELECT doc_id, unnest(sh) AS g FROM s
    ), sig AS MATERIALIZED (
      SELECT doc_id,
             {", ".join(
                 f"min(CAST(('0x' || substr(sha256(g), {1 + 8 * h}, 8)) AS BIGINT)) AS sig{h}"
                 for h in range(_MH_FNS))}
      FROM e GROUP BY doc_id
    ), cand AS (
      {" UNION ".join(
          f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b"
          f" ON a.doc_id < b.doc_id AND a.sig{i} = b.sig{i} AND a.sig{j} = b.sig{j}"
          for i, j in _MH_BANDS)}
    )
    SELECT c.doc_a, c.doc_b,
           round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                 / len(list_distinct(sa.sh || sb.sh)), 6) AS jaccard
    FROM cand c
    JOIN s sa ON sa.doc_id = c.doc_a
    JOIN s sb ON sb.doc_id = c.doc_b
    WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
          / len(list_distinct(sa.sh || sb.sh)) >= 0.4
    """,
)
def q_llm_minhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH with DETERMINISTIC hash functions, 4 bands × 2 rows.
    Eight minhash functions come from disjoint 8-hex-char windows of
    sha256(shingle); signatures band 4×2, candidates come from one band
    self-join, and survivors are verified with exact shingle Jaccard
    >= 0.4. Both engines compute bit-identical signatures, bands,
    candidates, and verdicts — LSH itself under the exact-value gate,
    recall gaps and all.

    100 TB plan: the production LSH shape — the signature build is one
    map-only kernel pass per doc; the band join is one equi-join on the
    (band, 2 × 32-bit) key (uniform); verification touches candidate
    pairs only (see _minhash_pairs).

    CORPUS-CONTRAST CONTRACT (r10, measured): banded candidates number
    Θ(P_band(J_bg) · n²) where J_bg is the corpus's BACKGROUND pairwise
    shingle Jaccard — banding only prunes when near-dups stand out from
    that background. On a real crawl J_bg ≈ 0.01 → P_band = 4·J² ≈
    4e-4 and candidates are the tiny minority. The SYNTHETIC fixture's
    small vocabulary measures J_bg mean 0.17 / p90 0.23 (DuckDB,
    120-doc sample, all pairs), so ~11% of ALL pairs band-collide BY
    SPEC — the r10 ×100 probe degenerated into a 1.4e10-pair DISTINCT
    (2 GB sort spills, killed; SCALE.md r10). That is LSH doing its
    job on a contrast-free corpus, not a plan defect; no ×N copy
    scheme can restore contrast the base corpus lacks. Production
    tuning when J_bg is higher: steeper bands (q_llm_minhash_steep) or
    word-level shingles — both raise contrast at the same plan shape.
    """
    return _minhash_pairs(spark, sf_dir, _MH_FNS, ("",), _MH_BANDS)


def _minhash_pairs(
    spark: SparkSession,
    sf_dir: str,
    n_fns: int,
    salts: tuple[str, ...],
    bands: list[tuple[int, ...]],
) -> DataFrame:
    """Verified MinHash-LSH pairs (doc_a, doc_b, jaccard): ``n_fns``
    signature windows of the ``salts``-salted sha256 digests
    (_minhash_sigs), banded by ``bands`` (_band_candidates), verified
    with exact Jaccard over the checked id encode (_jaccard_verify).

    The shingle and signature tables are PINNED (localCheckpoint — the
    Spark analog of the oracle's MATERIALIZED CTEs): sig feeds both band
    self-join sides and d feeds the signature kernel, the encode check
    and both verify joins, so without the pin the corpus would
    statically re-scan + re-shingle per reference (10 scans measured;
    AQE reuse is a runtime maybe, not a plan property). Production does
    exactly this: the signature table is a materialized artifact, built
    once per corpus snapshot.
    """
    d = shingled(
        load_table(spark, sf_dir, "documents")
    ).localCheckpoint(eager=False)
    sig = _minhash_sigs(d, n_fns, salts).localCheckpoint(eager=False)
    return _jaccard_verify(_band_candidates(sig, bands), _encoded(d))


def _band_candidates(
    sig: DataFrame, bands: list[tuple[int, ...]], n_buckets: int | None = None
) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b, once per doc pair whose signatures
    agree on every row of at least one band of ``bands`` (tuples of
    sig column indexes, all of one width r).

    ONE self-join over the unpivoted (doc_id, band, k0..k{r-1}) rows
    (r13, guide §2.4): the r10–r12 form ran one join per band, unioned —
    identical candidate pairs, but 2 shuffle Exchanges per band (8 at
    4×2, 12 at 6×3) and ~b× the scheduled stages for the same shuffled
    bytes (b band rows/doc × 2 sides either way). Both sides are the
    identical subplan, so Spark reuses the exchange: one shuffle write.
    At 100 TB this is the production LSH shape — one banding pass, one
    shuffle keyed on (band, band-hash).

    ``n_buckets`` is set by the bucketed-layout key. The join then
    carries a merge hint (a production sig table outgrows any broadcast
    threshold, and the pinned exchange census must not flip with
    fixture stats), and the pair dedup is partitioned by doc_a into the
    layout's bucket count instead of hash(doc_a, doc_b) (r14b, guide
    §2.4): HashPartitioning(doc_a, n_buckets) satisfies the dedup's
    clustered distribution AND co-partitions with the bucketed corpus
    scan, so the doc_a verify merge-join consumes the dedup's exchange —
    one exchange fewer (5 → 4). The trade (duplicate band-collision
    pairs, ≤ b× and 16 bytes each, cross that exchange un-prededuped)
    measured a net win at sf0.1: noop median 1.68 → 1.44 s, identical
    rows.
    """
    keys = [f"k{k}" for k in range(len(bands[0]))]
    rows = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        *[F.col(f"sig{i}").alias(k) for k, i in zip(keys, band)],
                    )
                    for bi, band in enumerate(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.*")
    a = rows.withColumnRenamed("doc_id", "doc_a")
    b = rows.withColumnRenamed("doc_id", "doc_b")
    pairs = (
        a.join(b.hint("merge") if n_buckets else b, ["band", *keys])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    if n_buckets is None:
        return pairs.distinct()
    return pairs.repartition(n_buckets, "doc_a").dropDuplicates()


def _jaccard_verify(
    cand: DataFrame, d: DataFrame, merge: bool = False
) -> DataFrame:
    """Exact-Jaccard verify of LSH candidate pairs (doc_a, doc_b) against
    the shingle table ``d`` (doc_id, sh) — string shingles or ids the
    caller has proven exact (_encoded, or the bucketed layout's ids).
    Returns (doc_a, doc_b, jaccard rounded to 6); the per-pair work is
    _jaccard_at_least, so the verify also skips the intersect for pairs
    the length prefilter rules out.

    ``merge`` (the bucketed layout) hints both corpus sides to
    sort-merge join, so they join the doc_id-bucketed scan in place and
    only the candidate table shuffles.
    """
    sa = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("_sa"))
    sb = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("_sb"))
    if merge:
        sa, sb = sa.hint("merge"), sb.hint("merge")
    pairs = cand.join(sa, "doc_a").join(sb, "doc_b")
    return _jaccard_at_least(pairs, "doc_a", "doc_b").select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def _minhash_sigs(d: DataFrame, n_fns: int, salts: tuple[str, ...]) -> DataFrame:
    """(doc_id, sig0..sig{n_fns-1}): the MinHash signature table over the
    one-row-per-doc shingle table, in ONE Arrow kernel pass (r14
    optimization, guide §4.2 — VERDICT r13 next-#1).

    The r10–r13 JVM form exploded the shingle array (~2 M rows at sf0.1),
    computed len(salts) sha256 digests PER OCCURRENCE, extracted every
    hash window with a ``conv(substring(hex), 16, 10)`` string round-trip
    (n_fns decimal-string formats + parses per shingle row), and
    regrouped with a partial/final min aggregate whose only job was
    undoing the explode. ``shingled()`` already emits one row per doc, so
    the kernel computes the per-doc mins directly: no explode, no
    Exchange, no hex/decimal string materialization — and each DISTINCT
    shingle is digested once per batch (``pd.factorize``) instead of once
    per occurrence, which on a shingle distribution with repeats (any
    real corpus; the fixture's small vocabulary by spec) removes most of
    the digest work outright. Measured 47× faster than the JVM form at
    10× corpus (OPTIMIZATION_r14.md); value identity is asserted in
    tests/test_plan_shape.py::test_minhash_sig_kernel_exact.

    BIT-EXACTNESS vs the JVM aggregate form (and the DuckDB oracle texts,
    which spell the same math): ``hashlib.sha256`` over UTF-8 bytes ≡
    ``sha2(concat(g, salt), 256)``; hex chars [8w, 8w+8) of the digest
    ARE digest bytes [4w, 4w+4), so the big-endian uint32 read of those
    bytes equals ``conv(substring(hex, 1+8w, 8), 16, 10) :: long`` (all
    values < 2^32 — no sign or overflow edge); min over a doc's shingles
    is order-free. Null shingles contribute nothing (JVM ``min`` skips
    nulls); a doc with NO non-null shingle yields null sigs exactly as
    the JVM aggregate does.
    """
    schema = "doc_id bigint, " + ", ".join(
        f"sig{h} bigint" for h in range(n_fns)
    )

    def kernel(it):
        import hashlib

        import numpy as np
        import pandas as pd

        sbytes = [s.encode("utf-8") for s in salts]
        n_wins = 8 * len(sbytes)
        for pdf in it:
            n_docs = len(pdf)
            lists = pdf["sh"]
            raw_counts = np.fromiter(
                (len(x) for x in lists), dtype=np.int64, count=n_docs
            )
            flat = (
                np.concatenate([np.asarray(x, dtype=object) for x in lists])
                if raw_counts.sum()
                else np.empty(0, dtype=object)
            )
            codes, uniq = pd.factorize(flat)
            if (codes < 0).any():  # null shingles: the JVM min() skips them
                keep = codes >= 0
                doc_of = np.repeat(np.arange(n_docs), raw_counts)
                counts = np.bincount(doc_of[keep], minlength=n_docs)
                codes = codes[keep]
            else:
                counts = raw_counts
            digs = b"".join(
                hashlib.sha256(g.encode("utf-8") + sb).digest()
                for g in uniq
                for sb in sbytes
            )
            wins = (
                np.frombuffer(digs, dtype=">u4")
                .reshape(-1, n_wins)
                .astype(np.uint32)  # native byte order for the reduceat
            )
            nonempty = counts > 0
            ends = np.cumsum(counts)
            starts = (ends - counts)[nonempty]
            out = {"doc_id": pdf["doc_id"]}
            all_nonempty = bool(nonempty.all())
            for h in range(n_fns):
                mins = np.zeros(n_docs, dtype=np.int64)
                if len(codes):
                    mins[nonempty] = np.minimum.reduceat(
                        wins[:, h][codes], starts
                    ).astype(np.int64)
                out[f"sig{h}"] = (
                    pd.Series(mins, dtype="int64")
                    if all_nonempty
                    else pd.arrays.IntegerArray(mins, mask=~nonempty)
                )
            yield pd.DataFrame(out)

    # select first: mapInPandas is opaque to column pruning (guide §4.1),
    # so only the two columns the kernel reads may cross the boundary
    return d.select("doc_id", "sh").mapInPandas(kernel, schema=schema)


# Steeper banding (r12, VERDICT r11 #3): 6 bands × 3 rows from 18 minhash
# functions. Band-collision probability is P = 6·J³ — at a real crawl's
# background J_bg ≈ 0.01 that is ~6e-6 of all pairs (vs 4·J² ≈ 4e-4 for
# the 4×2 shape: ~70× fewer background candidates), while planted
# near-dups at J ≈ 0.69 are still caught with 1-(1-J³)⁶ ≈ 0.91 — within
# noise of the 4×2 shape's 0.92. The 18 hash functions come from THREE
# deterministic sha256 digests (salted '' / '#1' / '#2'), 8-hex-char
# windows each, so both engines stay bit-identical.
_MH_STEEP_FNS = 18
_MH_STEEP_BANDS = [tuple(range(3 * b, 3 * b + 3)) for b in range(6)]
_MH_STEEP_SALTS = ("", "#1", "#2")


def _steep_sig_sql(h: int) -> str:
    salt = _MH_STEEP_SALTS[h // 8]
    g = "g" if not salt else f"(g || '{salt}')"
    return (
        f"min(CAST(('0x' || substr(sha256({g}), {1 + 8 * (h % 8)}, 8))"
        f" AS BIGINT)) AS sig{h}"
    )


# Shared by q_llm_minhash_steep and its bucketed-layout twin
# q_llm_minhash_bucketed: the two keys compute the IDENTICAL logical
# query (same signatures, bands, verify gate) — only the Spark-side
# physical layout differs, so one oracle text checks both (the
# q_tpch_q18ish / q_tpch_q18_bucketed precedent).
_MH_STEEP_ORACLE = f"""
    WITH s AS MATERIALIZED (
      SELECT doc_id,
             list_distinct([substring(text, i, 5)
                            for i in range(1, greatest(length(text) - 3, 2))]) AS sh
      FROM documents
    ), e AS (
      SELECT doc_id, unnest(sh) AS g FROM s
    ), sig AS MATERIALIZED (
      SELECT doc_id,
             {", ".join(_steep_sig_sql(h) for h in range(_MH_STEEP_FNS))}
      FROM e GROUP BY doc_id
    ), cand AS (
      {" UNION ".join(
          "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b"
          " ON a.doc_id < b.doc_id AND "
          + " AND ".join(f"a.sig{i} = b.sig{i}" for i in band)
          for band in _MH_STEEP_BANDS)}
    )
    SELECT c.doc_a, c.doc_b,
           round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                 / len(list_distinct(sa.sh || sb.sh)), 6) AS jaccard
    FROM cand c
    JOIN s sa ON sa.doc_id = c.doc_a
    JOIN s sb ON sb.doc_id = c.doc_b
    WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
          / len(list_distinct(sa.sh || sb.sh)) >= 0.4
    """


@query("q_llm_minhash_steep", oracle=_MH_STEEP_ORACLE)
def q_llm_minhash_steep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH with STEEP banding (6 bands × 3 rows) — the measured
    production answer to q_llm_minhash_exact's single-box ×100 ceiling
    (SCALE.md r11; VERDICT r11 #3), and the checked near-dup path
    downstream stages (q_llm_dedup_survivors at scale) consume.

    The 4×2 twin's ×100 entropy-corpus probe died on DISK: P_band =
    4·J² ≈ 5e-4 at the real-crawl background J_bg ≈ 0.01 means ~52 M
    background collisions at 500k docs, each verify-joined against two
    ~700-element shingle arrays (~0.5 TB of shuffle). Three-row bands
    collapse the background by J one more time: P = 6·J³ ≈ 6e-6 —
    ~70× fewer candidates — while planted near-dups at J ≈ 0.69 still
    hit 1-(1-J³)⁶ ≈ 0.91 detection (vs 0.92 for 4×2: recall unchanged
    within noise, measured on the planted pairs by the r12 probe; SCALE.md).
    Same plan as the twin (_minhash_pairs) with 18 signature windows
    from three salted sha256 digests and a 3-row band key: a PARAMETER
    move, not a plan change — exactly the tuning the twin's docstring
    documents for high-J_bg corpora, now a driver-checked key of its own.
    """
    return _minhash_pairs(
        spark, sf_dir, _MH_STEEP_FNS, _MH_STEEP_SALTS, _MH_STEEP_BANDS
    )


@query("q_llm_minhash_bucketed", oracle=_MH_STEEP_ORACLE)
def q_llm_minhash_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_llm_minhash_steep over a doc_id-bucketed SHINGLE LAYOUT — the
    corpus-shuffle-free form of the banded LSH verify stage (r13; the
    lever SCALE.md's ×300 ceiling row names).

    The steep twin's ×300 probe (1.5 M entropy docs) died on DISK with
    the cause isolated: its exact-Jaccard verify re-joins candidates
    against the checkpointed shingle corpus on BOTH pair sides, so the
    verify shuffles ~2× the corpus shingle bytes (~30 GB each way)
    regardless of how few candidates the steep bands admit. This key
    materializes the shingled corpus ONCE as a 32-bucket doc_id-
    clustered layout (content-addressed + session-reusable via
    _ensure_bucketed — the q18_bucketed discipline) and consumes it
    three times with ZERO corpus shuffles, asserted on the plan:

    - the 18-min signature aggregate consumes the scan's
      HashPartitioning(doc_id) directly (no Exchange below the agg);
    - each verify join bucket-joins the corpus side in place — only the
      CANDIDATE table (pairs + one carried shingle array) ever shuffles,
      so verify volume is candidate-bound, not corpus-bound.

    At 100 TB this is the production shape: the shingle table is a
    once-per-ingest lake artifact clustered on doc_id, and every dedup
    pass (daily delta, band re-tune, threshold sweep) re-reads the
    layout instead of re-shuffling the corpus. The build repartitions
    on doc_id so each bucket is ONE file, which lets the scan report
    its SortOrder and the merge joins skip the corpus-side re-sort.

    Signatures/bands/verify are bit-identical to the steep twin (same
    salted sha256 windows, same 6×3 bands, same J >= 0.4 gate), so the
    twin's oracle text checks this key exactly.

    r14b (the follow-on OPTIMIZATION_r14 §4b recorded): the layout also
    stores the xxhash64 shingle-ID arrays NEXT TO the strings (`shid`),
    written only when _ids_injective holds on this corpus — the same
    checked-exactness contract _shingle_ids applies, run once per ingest
    instead of once per query. The verify's per-pair array_intersect
    then hash-sets int64 ids instead of ~5-char strings straight off the
    bucketed scan — the ~2× per-pair saving the other minhash keys
    measured in §4b, with ZERO per-query check cost. On a collision the
    column is absent and the verify keeps the strings; either way the
    layout version tag (v2) keys fresh scratch so a stale string-only
    layout can never be silently consumed as an id layout.

    The candidate dedup shares the doc_a verify exchange (r14b; see
    _band_candidates): plan census 5 → 4. _N_BUCKETS is a layout
    constant that scales with the ingest layout, not a core-count tune.
    """
    from token_burn_listener_spark.operators.storage import (
        _ensure_bucketed,
        _plan,
    )

    def _build(s: SparkSession, dd: str) -> DataFrame:
        # pin the shingle pass: the injectivity check and the bucketBy
        # write must see the SAME rows without re-shingling the corpus
        base = shingled(load_table(s, dd, "documents")).localCheckpoint(
            eager=False
        )
        if _ids_injective(base):
            base = base.withColumn("shid", F.expr(_ID_ENCODE))
        return base.repartition(_N_BUCKETS, "doc_id")

    name = _ensure_bucketed(
        spark,
        sf_dir,
        "documents_sh2",  # v2: strings + proven-injective xxhash64 ids
        "doc_id",
        "bkt_mh",
        n_buckets=_N_BUCKETS,
        build=_build,
        source=f"{sf_dir}/documents.parquet",
    )
    d = spark.table(name)
    # r14 (guide §4.2, VERDICT r13 #1): signature build as ONE Arrow
    # kernel pass over the bucketed shingle scan — map-only, so the
    # bucket parallelism carries straight through the kernel
    sig_raw = _minhash_sigs(d, _MH_STEEP_FNS, _MH_STEEP_SALTS)
    # layout assert #1: the signature build is a map-only pass over the
    # bucketed scan — no Exchange anywhere below it (the r13 aggregate
    # form consumed the scan's HashPartitioning(doc_id); the r14 kernel
    # needs no grouping at all: shingle rows are already one per doc)
    import re as _re

    n_sig_ex = len(_re.findall(r"^\(\d+\) Exchange", _plan(sig_raw), _re.M))
    if n_sig_ex != 0:
        raise AssertionError(
            f"bucketed signature build not exchange-free: {n_sig_ex}"
            " Exchanges (expected 0: one map-only kernel pass over the"
            " doc_id-bucketed shingle scan)"
        )
    # sig feeds both sides of the band self-join: pin it (localCheckpoint)
    # exactly as the twin does — the LAYOUT pins the corpus, the
    # checkpoint pins the derived 18-long signature table.
    sig = sig_raw.localCheckpoint(eager=False)
    cand = _band_candidates(sig, _MH_STEEP_BANDS, _N_BUCKETS)
    if "shid" in d.columns:
        d = d.select("doc_id", F.col("shid").alias("sh"))
    out = _jaccard_verify(cand, d, merge=True)
    # layout assert #2: only candidate-bound data shuffles. Expected
    # shuffle Exchanges: 2 band-self-join sides (the unpivoted signature
    # table keyed on (band, k0, k1, k2)) + 1 shared candidate
    # dedup/doc_a-verify exchange + 1 doc_b-side verify shuffle = 4
    # (the r14a form spent 5 — separate (doc_a, doc_b) distinct — and
    # the r13-build 12-join form shuffled the same bytes through 15).
    # The corpus sides of both verify joins and the signature build
    # contribute ZERO — they consume the bucket layout.
    n_ex = len(_re.findall(r"^\(\d+\) Exchange", _plan(out), _re.M))
    if n_ex != 4:
        raise AssertionError(
            f"bucketed LSH verify plan drifted: {n_ex} shuffle Exchanges"
            " (expected 4 = 2 band self-join + 1 shared dedup/doc_a"
            " verify + 1 doc_b verify; the corpus sides must stay"
            " exchange-free)"
        )
    return out


_LSH_RECALL_SETS = f"""
    WITH s AS MATERIALIZED (
      SELECT doc_id,
             list_distinct([substring(text, i, 5)
                            for i in range(1, greatest(length(text) - 3, 2))]) AS sh
      FROM documents
    ), exact AS (
      -- deterministic 25% pair sample (smaller id ≡ 0 mod 4): the recall
      -- denominator; same sample on both engines and in the found side.
      -- |A∪B| = |A|+|B|-|A∩B| (sh is distinct), so one list_intersect
      -- per pair is the only list op — same exact rational either way.
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.sh, b.sh)) AS i,
               len(a.sh) AS la, len(b.sh) AS lb
        FROM s a JOIN s b
          ON a.doc_id < b.doc_id
         AND a.doc_id % 4 = 0
         AND least(len(a.sh), len(b.sh))::DOUBLE
             / greatest(len(a.sh), len(b.sh)) >= 0.4
      ) WHERE i::DOUBLE / (la + lb - i) >= 0.4
    ), e AS (
      SELECT doc_id, unnest(sh) AS g FROM s
    ), sig AS MATERIALIZED (
      SELECT doc_id,
             {", ".join(
                 f"min(CAST(('0x' || substr(sha256(g), {1 + 8 * h}, 8)) AS BIGINT)) AS sig{h}"
                 for h in range(_MH_FNS))}
      FROM e GROUP BY doc_id
    ), cand AS (
      {" UNION ".join(
          f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b"
          f" ON a.doc_id < b.doc_id AND a.sig{i} = b.sig{i} AND a.sig{j} = b.sig{j}"
          for i, j in _MH_BANDS)}
    ), found AS (
      SELECT doc_a, doc_b FROM (
        SELECT c.doc_a, c.doc_b,
               len(list_intersect(sa.sh, sb.sh)) AS i,
               len(sa.sh) AS la, len(sb.sh) AS lb
        FROM cand c
        JOIN s sa ON sa.doc_id = c.doc_a
        JOIN s sb ON sb.doc_id = c.doc_b
        WHERE c.doc_a % 4 = 0
      ) WHERE i::DOUBLE / (la + lb - i) >= 0.4
    )
"""


@query(
    "q_llm_lsh_recall",
    oracle=_LSH_RECALL_SETS
    + """
    SELECT (SELECT count(*) FROM exact) AS n_exact,
           (SELECT count(*) FROM found) AS n_found,
           round((SELECT count(*) FROM found)::DOUBLE
                 / NULLIF((SELECT count(*) FROM exact), 0), 6) AS recall
    """,
)
def q_llm_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible LSH QUALITY gate: recall of the deterministic 4x2
    MinHash banding (q_llm_minhash_exact's scheme) against the exact
    shingle-Jaccard pair set (q_llm_jaccard_pairs' scheme), computed
    in-query and exact-checked on both engines — the banding's misses are
    part of the checked answer, not hidden behind a rows-only check.

    Because every banded candidate is verified with exact Jaccard >= 0.4,
    found is a subset of exact and recall = |found| / |exact| in [0, 1].
    Both counts are taken over a DETERMINISTIC 25% pair sample (pairs
    whose smaller doc_id ≡ 0 mod 4) — an unbiased recall estimator whose
    sample is bit-identical on both engines, so the check stays exact
    while the brute-force denominator costs a quarter of the full grid.

    100 TB plan: the found side is the production LSH shape (the
    _minhash_pairs path: kernel signatures, one band self-join, exact
    verify). The exact side is O(n^2) on the SAMPLED query docs only —
    exactly how a production deployment estimates recall (the audit is
    per-sample, the dedup is not).

    Shingle + signature tables are pinned (localCheckpoint) for the same
    reason as in _minhash_pairs: sig feeds both band self-join sides and
    d feeds the grid + verify joins — unpinned, the corpus statically
    re-scans per reference (12 scans measured before the pin).
    """
    d = shingled(
        load_table(spark, sf_dir, "documents")
    ).localCheckpoint(eager=False)
    # ONE checked id-encode shared by the exact grid and the banded
    # verify; the signature kernel still reads the STRING shingles
    # (sha256-of-shingle is the oracle's definition).
    dv = _encoded(d)
    # sampled exact pair count (the brute-force grid, a-side restricted
    # to the deterministic 25% sample)
    n_exact = exact_pair_grid(dv, sample_mod=4).agg(
        F.count("*").alias("n_exact")
    )
    # banded-candidate verified pair count over the same sample
    sig = _minhash_sigs(d, _MH_FNS, ("",)).localCheckpoint(eager=False)
    cand = _band_candidates(sig, _MH_BANDS).filter(F.col("doc_a") % 4 == 0)
    n_found = _jaccard_verify(cand, dv).agg(F.count("*").alias("n_found"))
    # NULLIF (both engines): a corpus whose 25% sample has NO exact
    # near-dup pairs zeroes the denominator — Spark ANSI throws where
    # DuckDB yields NULL (the q_evt_pareto crash class); recall over an
    # empty reference set is undefined, so NULL on both
    return n_exact.crossJoin(n_found).select(
        "n_exact",
        "n_found",
        F.round(
            F.col("n_found").cast("double")
            / F.nullif(F.col("n_exact").cast("double"), F.lit(0.0)),
            6,
        ).alias("recall"),
    )


@query(
    "q_llm_delta_dedup",
    oracle="""
    WITH idx AS (
      SELECT sha256(text) AS sha, min(doc_id) AS first_doc
      FROM documents WHERE doc_id % 10 <> 0
      GROUP BY 1
    )
    SELECT d.doc_id,
           i.sha IS NULL AS is_new_unique,
           i.first_doc AS dup_of
    FROM documents d
    LEFT JOIN idx i ON i.sha = sha256(d.text)
    WHERE d.doc_id % 10 = 0
    """,
)
def q_llm_delta_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-vs-corpus) dedup — the daily-ingest shape: an
    arriving batch (doc_id ≡ 0 mod 10 stands in for "today's crawl") is
    checked against the HISTORICAL corpus's fingerprint index, not
    against itself. Each new doc comes back either new-unique or flagged
    with the earliest historical doc it duplicates.

    This is the asymmetric form production dedup actually runs daily:
    the index side is a stored (sha, first_doc) table that is only ever
    appended to; the batch side is load-sized.

    100 TB plan: the index is corpus-sized but SKINNY (64-hex sha + one
    id), bucketed on sha at rest; the delta joins against it with one
    shuffle of the (small) batch when the index is bucket-pruned, or a
    shuffle-hash join on the uniform sha key otherwise — never a rescan
    of historical TEXT, which is the point of keeping the index.
    """
    d = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 0
    idx = (
        d.filter(~is_new)
        .groupBy(F.sha2("text", 256).alias("sha"))
        .agg(F.min("doc_id").alias("dup_of"))
    )
    return (
        d.filter(is_new)
        .select("doc_id", F.sha2("text", 256).alias("sha"))
        .join(idx, "sha", "left")
        .select(
            "doc_id",
            F.col("dup_of").isNull().alias("is_new_unique"),
            "dup_of",
        )
    )


# Content-defined chunking: boundary after position i when a polynomial
# hash of the trailing 8-char window divides the target chunk size (64).
# Fixture texts are printable ASCII (verified), so ascii() agrees across
# engines; the hash is exact BIGINT arithmetic on both.
_CDC_W = 8
_CDC_MASK = 64
_CDC_POW = [31**j for j in range(_CDC_W)]


def _cdc_hash_terms(char_at) -> str:
    """Σ ascii(c_{i-j}) * 31^j as literal fixed-order BIGINT arithmetic.

    ``char_at(j)`` renders the 1-char lookup at offset j behind position i.
    The power literal is cast to BIGINT: Spark's ascii() is INT and
    ANSI-mode INT×INT overflows at 31^6 × ascii.
    """
    return " + ".join(
        f"ascii({char_at(j)}) * CAST({p} AS BIGINT)"
        for j, p in enumerate(_CDC_POW)
    )


def cdc_chunks(d: DataFrame) -> DataFrame:
    """(doc_id, text) → exploded (doc_id, chunk) via content-defined
    boundaries — the reusable core of q_llm_cdc_chunking (also driven
    directly by the edit-locality property test).

    The char array is pinned behind an ``explode(array(e))`` Generate
    barrier and both lambdas read it via O(1) ``element_at``/``slice``
    (r10): the r5–r9 form called ``substring(text, i-j, 1)`` eight times
    per boundary position and ``substring(text, start, len)`` per chunk —
    substring re-scans UTF-8 to the offset, so boundary detection alone
    was O(8·L²) chars per doc (flagged by the plan-audit lambda-rederive
    gate the day substring joined its fat-deriver list). For empty text
    ``split`` yields [''] (size 1 < W → no boundaries) and the slicing
    branch emits one '' chunk that the c != '' filter drops — the same
    empty output as the old length()-guard on both engines.
    """
    hash_expr = _cdc_hash_terms(
        lambda j: f"element_at(cs, CAST(i - {j} AS INT))"
    )
    bounds = (
        f"IF(size(cs) < {_CDC_W}, array(),"
        f" filter(transform(sequence({_CDC_W}, size(cs)),"
        f"   i -> IF(({hash_expr}) % {_CDC_MASK} = 0,"
        f"           CAST(i AS BIGINT), CAST(-1 AS BIGINT))),"
        f"   x -> x != -1))"
    )
    bpos = (
        f"array_sort(array_distinct(concat(array(CAST(0 AS BIGINT)),"
        f" {bounds}, array(CAST(size(cs) AS BIGINT)))))"
    )
    # bpos is HOISTED into its own column before the slicing lambda:
    # subexpression elimination stops at lambda boundaries (the llm/text.py
    # lambda-hoisting rule), so an inlined bpos would be recomputed per
    # chunk — O(len²) per doc (measured 85 s → 2 s at sf0.01).
    # size(bpos) guard: a W-1-char doc yields bpos = [0, len] (fine), but
    # the IF keeps the sequence() from ever running DESCENDING if a future
    # edit changes the concat shape.
    chunks_expr = (
        "IF(size(bpos) < 2, array(),"
        " filter(transform(sequence(1, size(bpos) - 1),"
        " k -> array_join(slice(cs,"
        "   CAST(element_at(bpos, k) + 1 AS INT),"
        "   CAST(element_at(bpos, k + 1) - element_at(bpos, k) AS INT)),"
        "   '')),"
        " c -> c != ''))"
    )
    return (
        d.select(
            "doc_id", F.explode(F.array(F.split("text", ""))).alias("cs")
        )
        .select("doc_id", "cs", F.expr(bpos).alias("bpos"))
        .select("doc_id", F.explode(F.expr(chunks_expr)).alias("chunk"))
    )


@query(
    "q_llm_cdc_chunking",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, length(text)::BIGINT AS n FROM documents
    ), b AS (
      SELECT doc_id, text, n,
             list_sort(list_distinct(
               [0::BIGINT]
               || [i::BIGINT for i in range({_CDC_W}, n + 1)
                   if ({_cdc_hash_terms(lambda j: f"text[i - {j}]")})
                      % {_CDC_MASK} = 0]
               || [n])) AS bpos
      FROM base
    ), c AS (
      SELECT doc_id,
             unnest([substring(text, (bpos[k] + 1)::INT,
                               (bpos[k + 1] - bpos[k])::INT)
                     for k in range(1, len(bpos))]) AS chunk
      FROM b
    ), cf AS (
      SELECT doc_id, chunk FROM c WHERE chunk <> ''
    ), x AS (
      SELECT chunk, count(DISTINCT doc_id) AS nd FROM cf GROUP BY chunk
    )
    SELECT doc_id, count(*) AS n_chunks,
           count(CASE WHEN nd >= 2 THEN 1 END) AS n_dup_chunks,
           round(count(CASE WHEN nd >= 2 THEN 1 END)::DOUBLE / count(*), 6)
             AS dup_ratio
    FROM cf JOIN x USING (chunk)
    GROUP BY doc_id
    """,
)
def q_llm_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (FastCDC-style): chunk boundaries fall
    where a rolling polynomial hash of the trailing 8-char window is
    ≡ 0 mod 64 — so an insertion early in a document only reshapes the
    chunks it touches, unlike fixed-width chunking (q_llm_subdoc_dup)
    where one shifted byte re-cuts every downstream chunk. Per-doc
    output: chunk count, chunks shared with ≥1 other doc, dup ratio —
    the sub-document dedup signal storage systems and corpus pipelines
    build on.

    Boundary detection, chunk slicing, and the cross-doc share join are
    all array/aggregate relational ops — no UDF; the hash is exact
    BIGINT arithmetic in identical fixed order on both engines.

    100 TB plan: chunking is map-only per document (O(len·W) window
    sums); the only shuffle keys chunk content (uniform — content
    hashes), with partial counts map-side. Min/max chunk-size clamps
    (full FastCDC) would add a sequential pass per doc — the pure
    hash-boundary form keeps the whole operator in codegen.
    """
    d = load_table(spark, sf_dir, "documents")
    cf = cdc_chunks(d)
    shared = cf.groupBy("chunk").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    return (
        cf.join(shared, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count(F.when(F.col("nd") >= 2, 1)).alias("n_dup_chunks"),
            F.round(
                F.count(F.when(F.col("nd") >= 2, 1)).cast("double")
                / F.count("*"),
                6,
            ).alias("dup_ratio"),
        )
    )

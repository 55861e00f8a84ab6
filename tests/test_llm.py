"""B10 LLM-operator checks that the SQL oracle cannot express.

The oracles check each key against a DuckDB twin of the same algorithm;
these tests hold the algorithms to quality bars against independent
references: the steep MinHash-LSH key must return only real near-dups
with their exact Jaccard (precision vs a brute-force array_union
reference) and find the known high-similarity pairs (recall); the ANN
neighbors must overlap the exact kNN answer.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from token_burn_listener_spark.registry import QUERIES, load_all_modules
from token_burn_listener_spark.llm.dedup import shingled
from token_burn_listener_spark.tables import load_table

load_all_modules()


def exact_jaccard_pairs(spark, sf_dir, threshold: float):
    """Exact shingle-Jaccard pairs ≥ threshold (brute force, fixture-sized)."""
    d = shingled(load_table(spark, sf_dir, "documents"))
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = F.size(F.array_union("sa", "sb")).cast("double")
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def test_minhash_steep_precision_and_recall(spark, sf_dir):
    found = QUERIES["q_llm_minhash_steep"](spark, sf_dir).localCheckpoint()
    truth = exact_jaccard_pairs(spark, sf_dir, 0.4).localCheckpoint()
    pairs = ["doc_a", "doc_b"]
    # precision: every LSH pair is a true pair at the verify threshold,
    # reported with the reference's Jaccard to 6 places
    false_pos = found.select(*pairs).exceptAll(truth.select(*pairs)).count()
    assert false_pos == 0, f"{false_pos} pairs below the Jaccard threshold"
    ref = truth.select(*pairs, F.round("jaccard", 6).alias("ref"))
    off = found.join(ref, pairs).filter(F.col("jaccard") != F.col("ref"))
    n_off = off.count()
    assert n_off == 0, f"{n_off} pairs differ from the reference Jaccard"
    # recall on the strong pairs (J >= 0.8): 6 bands x 3 rows catch a
    # J = 0.8 pair with probability 1-(1-0.8^3)^6 ≈ 0.987
    strong = truth.filter(F.col("jaccard") >= 0.8).select(*pairs)
    n_strong = strong.count()
    assert n_strong > 0, "fixture lost its planted near-duplicate pairs"
    missed = strong.exceptAll(found.select(*pairs)).count()
    assert missed / n_strong <= 0.2, f"missed {missed}/{n_strong} strong pairs"


def test_ann_lsh_recall_vs_exact_knn(spark, sf_dir):
    ann = {r.vec_id for r in QUERIES["q_llm_ann_lsh"](spark, sf_dir).collect()}
    exact = {r.vec_id for r in QUERIES["q_llm_knn_query"](spark, sf_dir).collect()}
    assert len(ann) == 10
    recall = len(ann & exact) / len(exact)
    assert recall >= 0.5, f"ANN recall {recall} vs exact 10-NN"


def test_exact_dedup_covers_all_docs(spark, sf_dir):
    out = QUERIES["q_llm_exact_dedup"](spark, sf_dir)
    total = out.agg(F.sum("n_copies")).collect()[0][0]
    docs = QUERIES["q_hash_sha2"](spark, sf_dir).count()
    assert total == docs


def test_corpus_prep_composes_with_stage_operators(spark, sf_dir):
    """Pipeline consistency: the prepared corpus is exactly the quality-gated
    docs minus repetition-gated and non-survivor rows — each stage agreeing
    with its standalone operator."""
    prep = QUERIES["q_llm_corpus_prep"](spark, sf_dir)
    quality = QUERIES["q_llm_text_filter"](spark, sf_dir)
    # every kept doc passed the standalone quality filter
    kept = prep.select("doc_id")
    assert kept.exceptAll(quality.select("doc_id")).count() == 0
    # every kept doc's repetition score agrees with the standalone signal
    rep = QUERIES["q_llm_repetition"](spark, sf_dir).withColumnRenamed(
        "rep_ratio", "standalone_rep"
    )
    joined = prep.join(rep, "doc_id")
    assert joined.count() == prep.count()
    assert joined.filter(F.col("rep_ratio") != F.col("standalone_rep")).count() == 0
    assert joined.filter(F.col("rep_ratio") > 0.05).count() == 0
    # survivor rule: no two kept docs share a text hash
    sha = prep.join(
        QUERIES["q_hash_sha2"](spark, sf_dir).select("doc_id", "sha"),
        "doc_id",
    )
    assert sha.select("sha").distinct().count() == prep.count()


def test_dup_clusters_are_consistent_with_pairs(spark, sf_dir):
    """Components agree with the pair graph: paired vectors share a label;
    the component id is a member of its own component."""
    labels = QUERIES["q_llm_dup_clusters"](spark, sf_dir)
    pairs = QUERIES["q_llm_emb_near_dup"](spark, sf_dir)
    la = labels.select(
        F.col("vec_id").alias("vec_a"), F.col("component_id").alias("ca")
    )
    lb = labels.select(
        F.col("vec_id").alias("vec_b"), F.col("component_id").alias("cb")
    )
    j = pairs.join(la, "vec_a").join(lb, "vec_b")
    assert j.filter(F.col("ca") != F.col("cb")).count() == 0
    # labels are members: every component_id is itself a vec_id with that label
    ids = labels.select(F.col("component_id").alias("vec_id")).distinct()
    self_labeled = labels.join(ids, "vec_id").filter(
        F.col("vec_id") == F.col("component_id")
    )
    assert self_labeled.count() == ids.count()


def test_pack_sequences_invariants(spark, sf_dir):
    """Greedy packing: budget respected (except single oversized docs),
    packs are contiguous in doc_id order, and every doc appears once."""
    from token_burn_listener_spark.llm.prep import _PACK_BUDGET

    packed = QUERIES["q_llm_pack_sequences"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert len(packed) == docs.count()
    by_src: dict = {}
    for r in packed:
        by_src.setdefault(r.source, []).append(r)
    for src, rows in by_src.items():
        rows.sort(key=lambda r: r.doc_id)
        # pack ids are non-decreasing along doc order and start at 0
        ids = [r.pack_id for r in rows]
        assert ids[0] == 0 and all(b - a in (0, 1) for a, b in zip(ids, ids[1:]))
        fills: dict = {}
        for r in rows:
            fills[r.pack_id] = fills.get(r.pack_id, 0) + r.n_tokens
        for pid, fill in fills.items():
            members = [r for r in rows if r.pack_id == pid]
            # a pack over budget must be a single oversized doc
            assert fill <= _PACK_BUDGET or len(members) == 1, (src, pid, fill)


def test_decontaminate_removes_all_overlap(spark, sf_dir):
    """No surviving doc shares an 8-gram with the eval slice (and eval
    docs themselves never survive)."""
    from token_burn_listener_spark.llm.prep import _grams8

    survivors = QUERIES["q_llm_decontaminate"](spark, sf_dir)
    assert survivors.filter(F.col("doc_id") % 37 == 0).count() == 0
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.array(F.split("text", " "))).alias("w")
    )
    grams = toks.select("doc_id", F.explode(_grams8("w")).alias("gram"))
    eval_grams = grams.filter(F.col("doc_id") % 37 == 0).select("gram").distinct()
    leaked = (
        grams.join(survivors.select("doc_id"), "doc_id", "left_semi")
        .join(eval_grams, "gram", "left_semi")
        .count()
    )
    assert leaked == 0


def test_quantize_roundtrip_error_bound(spark, sf_dir):
    """Dequantized vectors must sit within half a quantization step of the
    original — the defining property of affine int8 quantization."""
    q = QUERIES["q_llm_quantize"](spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # q ships as a comma-joined string (driver canonicalizer compat) —
    # parse it back to bigint codes before dequantizing.
    joined = q.join(e, "vec_id").select(
        F.expr(
            "aggregate(zip_with("
            "   transform(split(q, ','), s -> cast(s as bigint)), embedding,"
            " (qi, x) -> abs(zero_point + qi * scale - cast(x as double))),"
            " cast(0.0 as double), (acc, err) -> greatest(acc, err))"
        ).alias("max_err"),
        (F.col("scale") * 0.5 + 1e-6).alias("bound"),
    )
    violations = joined.filter(F.col("max_err") > F.col("bound")).count()
    assert violations == 0


def test_redact_pii_removes_every_pattern(spark, sf_dir):
    """After redaction no PII pattern remains, and every doc reports ≥3
    injected matches (email + phone + IP)."""
    out = QUERIES["q_llm_redact_pii"](spark, sf_dir)
    assert out.filter(F.col("n_pii") < 3).count() == 0
    # rebuild the redacted text the same way and scan for leftovers
    from token_burn_listener_spark.llm.prep import _PII_EMAIL, _PII_PHONE, _PII_IP

    d = load_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".1"),
    )
    red = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(dirty, _PII_EMAIL, "<EMAIL>"),
                         _PII_PHONE, "<PHONE>"),
        _PII_IP, "<IP>",
    )
    leftovers = d.select(red.alias("t")).filter(
        F.col("t").rlike(_PII_EMAIL) | F.col("t").rlike(_PII_PHONE)
        | F.col("t").rlike(_PII_IP)
    )
    assert leftovers.count() == 0


def test_chunk_covers_every_token(spark, sf_dir):
    """Chunk lengths per doc must cover the token count: the last chunk is
    short, all others are exactly CHUNK_SIZE, and consecutive chunks
    overlap by size - stride."""
    from token_burn_listener_spark.llm.prep import _CHUNK_SIZE, _CHUNK_STRIDE

    chunks = QUERIES["q_llm_chunk"](spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n")
    )
    n_by_doc = {r.doc_id: r.n for r in d.collect()}
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(n_by_doc)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_id)
        n = n_by_doc[doc_id]
        assert [r.chunk_id for r in rows] == list(range(len(rows)))
        # every chunk has the exact expected length (stride < size means the
        # final TWO chunks can both be end-truncated)
        for r in rows:
            start = r.chunk_id * _CHUNK_STRIDE  # 0-based token offset
            assert r.chunk_len == min(_CHUNK_SIZE, n - start), (doc_id, r)
        # full coverage: the last chunk reaches the final token
        last_start = (len(rows) - 1) * _CHUNK_STRIDE
        assert last_start + rows[-1].chunk_len == n


def test_global_shuffle_is_a_permutation(spark, sf_dir):
    rows = QUERIES["q_llm_global_shuffle"](spark, sf_dir).collect()
    positions = sorted(r.position for r in rows)
    assert positions == list(range(1, len(rows) + 1))


def test_dedup_survivors_one_per_component(spark, sf_dir):
    """Exactly one kept doc per component, and it is the max-quality
    (min-doc_id tiebreak) member; singleton components keep themselves."""
    rows = QUERIES["q_llm_dedup_survivors"](spark, sf_dir).collect()
    assert len(rows) == load_table(spark, sf_dir, "documents").count()
    by_comp: dict = {}
    for r in rows:
        by_comp.setdefault(r.component_id, []).append(r)
    for comp, members in by_comp.items():
        kept = [r for r in members if r.kept]
        assert len(kept) == 1, (comp, members)
        best = max(members, key=lambda r: (r.quality, -r.doc_id))
        assert kept[0].doc_id == best.doc_id
        # component label is the component's minimum doc_id
        assert comp == min(r.doc_id for r in members)


def test_kmeans_wcss_monotone_descent(spark, sf_dir):
    """Lloyd's invariant: within-cluster sum of squares never increases
    across iterations (each assignment step and each update step minimizes
    it). Verified by recomputing WCSS against each iteration's output."""
    from token_burn_listener_spark.llm.similarity import (
        as_double,
        kmeans_iterate,
    )

    def wcss(cent_long):
        e = load_table(spark, sf_dir, "embeddings")
        expl = e.select(
            "vec_id", F.posexplode(as_double("embedding")).alias("pos", "val")
        )
        # nearest-centroid distance per vector from the long-form centroids
        cents = cent_long.select(
            "cluster", F.col("pos").cast("int").alias("pos"), "c"
        )
        d2 = (
            expl.join(F.broadcast(cents), "pos")
            .groupBy("vec_id", "cluster")
            .agg(F.sum((F.col("val") - F.col("c")) ** 2).alias("d2"))
            .groupBy("vec_id")
            .agg(F.min("d2").alias("d2"))
        )
        return d2.agg(F.sum("d2")).collect()[0][0]

    w1 = wcss(kmeans_iterate(spark, sf_dir, 1))
    w2 = wcss(kmeans_iterate(spark, sf_dir, 2))
    assert w2 <= w1 + 1e-9, (w1, w2)
    assert w1 > 0


def test_kmeans_oracle_distance_matches_kernel_fold_bitwise():
    """The q_llm_kmeans oracle's squared distance (_sq_l2_sql in DuckDB)
    equals the assignment kernel's left fold (_sq_l2_fold) bit for bit
    on 20k random float32 vectors, so no near-tie argmin can differ."""
    import duckdb
    import numpy as np
    import pyarrow as pa

    from token_burn_listener_spark.llm.similarity import _sq_l2_fold, _sq_l2_sql

    rng = np.random.default_rng(0)
    x = rng.standard_normal((20_000, 64)).astype(np.float32)
    c = rng.standard_normal((4, 64))
    vecs = pa.table(  # noqa: F841  (scanned by DuckDB by name)
        {
            "vec_id": np.arange(len(x)),
            "v": pa.array(list(x), type=pa.list_(pa.float32())),
        }
    )
    cents = pa.table(  # noqa: F841
        {"cluster": np.arange(len(c)), "v": pa.array(list(c))}
    )
    got = duckdb.sql(
        f"""WITH e AS (SELECT vec_id, v::DOUBLE[] AS v FROM vecs)
        SELECT {_sq_l2_sql("e.v", "k.v")} AS d2
        FROM e CROSS JOIN cents k ORDER BY e.vec_id, k.cluster"""
    ).fetchnumpy()["d2"]
    want = _sq_l2_fold()(x.astype(np.float64), c).ravel()
    assert got.shape == want.shape
    n_diff = int((got.view(np.int64) != want.view(np.int64)).sum())
    assert n_diff == 0, f"{n_diff} of {want.size} distances differ"


def test_knn_classify_votes_are_bounded(spark, sf_dir):
    """Majority vote of 5 neighbors: 1 <= n_votes <= 5, every probe id
    classified, predicted labels drawn from the real label domain."""
    out = QUERIES["q_llm_knn_classify"](spark, sf_dir).collect()
    assert len(out) == 20
    labels = {
        r.label
        for r in load_table(spark, sf_dir, "embeddings").select("label").distinct().collect()
    }
    for r in out:
        assert 1 <= r.n_votes <= 5
        assert r.predicted_label in labels


def test_fuzzy_dup_prefix_filter_is_lossless(spark, sf_dir):
    """q_llm_fuzzy_dup's q-gram prefix filtering must find EXACTLY the
    all-pairs levenshtein(title) <= 2 result — no candidate misses."""
    got = {
        (r.doc_a, r.doc_b, r.edit_dist)
        for r in QUERIES["q_llm_fuzzy_dup"](spark, sf_dir).collect()
    }
    t = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.substring("text", 1, 40).alias("title"))
        .filter(F.length("title") >= 20)
    )
    a = t.select(F.col("doc_id").alias("doc_a"), F.col("title").alias("ta"))
    b = t.select(F.col("doc_id").alias("doc_b"), F.col("title").alias("tb"))
    want = {
        (r.doc_a, r.doc_b, r.ed)
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", F.levenshtein("ta", "tb").cast("long").alias("ed")
        )
        .filter(F.col("ed") <= 2)
        .collect()
    }
    assert got == want


def test_cms_estimates_never_undercount(spark, sf_dir):
    """Count-min guarantee: every point estimate >= the exact count, and
    the top-k anchor rows are the true exact top-k tokens."""
    rows = QUERIES["q_llm_cms_topk"](spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.est_cnt >= r.exact_cnt, r
    exact_topk = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy(F.lower("tok").alias("token"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(20)
        .collect()
    )
    assert {r.token for r in rows} == {r.token for r in exact_topk}


def test_random_projection_matches_numpy(spark, sf_dir):
    """The JL projection must equal an independent numpy re-computation of
    p_j = sum_i v_i * sign(i, j) with the documented sign mix."""
    import numpy as np

    got = {
        r.vec_id: [r[f"p{j}"] for j in range(8)]
        for r in QUERIES["q_llm_random_projection"](spark, sf_dir).collect()
    }
    src = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    sign = np.array(
        [
            [1 if ((i * 2654435761 + j * 40503) % 7919) % 2 == 0 else -1 for j in range(8)]
            for i in range(64)
        ],
        dtype=np.float64,
    )
    for r in src:
        v = np.array(r.embedding, dtype=np.float64)
        want = v @ sign
        np.testing.assert_allclose(got[r.vec_id], np.round(want, 6), atol=2e-6)


def test_bloom_join_equals_exact_semi_join(spark, sf_dir):
    """The bloom prefilter must not drop true matches: result set equals
    the plain broadcast semi join it accelerates."""
    got = {
        (r.o_orderkey, r.o_custkey)
        for r in QUERIES["q_join_bloom"](spark, sf_dir).collect()
    }
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders")
    want = {
        (r.o_orderkey, r.o_custkey)
        for r in o.join(
            c, o.o_custkey == c.c_custkey, "semi"
        ).collect()
    }
    assert got == want and len(got) > 0


def test_dsir_weights_favor_target_domain(spark, sf_dir):
    """Importance weights must discriminate: the target domain's mean
    weight exceeds the non-target mean (its bigrams ARE the target model),
    and every doc gets a finite weight."""
    out = QUERIES["q_llm_dsir"](spark, sf_dir)
    from token_burn_listener_spark.llm.text import _DSIR_TARGET

    rows = out.collect()
    assert all(r.dsir_weight is not None for r in rows)
    tgt = [r.dsir_weight for r in rows if r.source == _DSIR_TARGET]
    rest = [r.dsir_weight for r in rows if r.source != _DSIR_TARGET]
    assert tgt and rest
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)


def test_training_manifest_composes_its_stages(spark, sf_dir):
    """Manifest rows = corpus-prep survivors ∩ train split; packs respect
    the 256-token budget except single oversized docs; pack ids are dense
    per source."""
    man = QUERIES["q_llm_training_manifest"](spark, sf_dir).collect()
    prep = {r.doc_id for r in QUERIES["q_llm_corpus_prep"](spark, sf_dir).collect()}
    split = {
        r.doc_id
        for r in QUERIES["q_llm_split"](spark, sf_dir).collect()
        if r.split == "train"
    }
    assert {r.doc_id for r in man} == prep & split
    by_src: dict = {}
    for r in man:
        by_src.setdefault(r.source, []).append(r)
    for src, rows in by_src.items():
        packs: dict = {}
        for r in rows:
            packs.setdefault(r.pack_id, []).append(r.n_tokens)
        assert sorted(packs) == list(range(len(packs))), src
        for pid, toks in packs.items():
            if len(toks) > 1:
                assert sum(toks) <= 256, (src, pid, toks)


def test_lsh_recall_key_reports_subset_recall(spark, sf_dir):
    """q_llm_lsh_recall's found set is verified, so found <= exact and the
    in-query recall must land in (0, 1]; the deterministic 4x2 banding is
    expected to catch most >= 0.4 pairs on the fixture corpus."""
    row = QUERIES["q_llm_lsh_recall"](spark, sf_dir).collect()[0]
    assert row.n_exact > 0
    assert 0 <= row.n_found <= row.n_exact
    assert row.recall >= 0.5, f"banding recall collapsed: {row.recall}"


def test_ann_recall_key_quality_floor(spark, sf_dir):
    """q_llm_ann_recall: candidate set must be a real subset (not the whole
    corpus — otherwise the LSH isn't pruning) and recall@10 must clear a
    floor that random bucketing could not."""
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    row = QUERIES["q_llm_ann_recall"](spark, sf_dir).collect()[0]
    assert 0 < row.n_candidates < n_vecs - 1, (
        f"sign-LSH prunes nothing: {row.n_candidates}/{n_vecs}"
    )
    # floor calibrated to the fixture geometry (near-random embeddings,
    # neighbor cos ~0.3): observed 0.6 at sf0.001 / 0.7 at sf0.01
    assert row.recall >= 0.4, f"ANN recall below floor: {row.recall}"


def test_curriculum_is_a_balanced_permutation(spark, sf_dir):
    """Phases differ by at most 1 in size (NTILE contract) and
    rank_in_phase is a 1..|phase| permutation inside each phase."""
    rows = QUERIES["q_llm_curriculum"](spark, sf_dir).collect()
    by_phase = {}
    for r in rows:
        by_phase.setdefault(r.phase, []).append(r.rank_in_phase)
    sizes = sorted(len(v) for v in by_phase.values())
    assert set(by_phase) == {1, 2, 3}
    assert sizes[-1] - sizes[0] <= 1
    for ranks in by_phase.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ngram_novelty_bounds_and_first_doc(spark, sf_dir):
    """Novelty is a [0,1] fraction and the first document (min doc_id with
    >=3 tokens) is 100% novel by construction."""
    df = QUERIES["q_llm_ngram_novelty"](spark, sf_dir)
    rows = df.collect()
    assert all(0.0 <= r.novelty <= 1.0 and 0 <= r.n_novel <= r.n_grams
               for r in rows)
    first = min(rows, key=lambda r: r.doc_id)
    assert first.novelty == 1.0


def test_media_decoders_are_real_parsers(sf_dir):
    """The PPM/WAV decoders actually parse structure: valid synthesized
    blobs decode to the closed-form features, and corrupted headers /
    truncated rasters raise instead of yielding silent garbage."""
    import pytest as _pytest

    from token_burn_listener_spark.llm.multimodal import (
        _decode_ppm,
        _decode_wav,
        _media_dir,
    )

    d = _media_dir(sf_dir)
    ppm = open(f"{d}/media-003.ppm", "rb").read()
    w, h, mean = _decode_ppm(ppm)
    assert (w, h) == (16 + 3 % 8, 12 + 3 % 5)
    expect = sum((x + y + 3) % 256 for x in range(w) for y in range(h)) / (w * h)
    assert abs(mean - expect) < 1e-9
    with _pytest.raises(ValueError):
        _decode_ppm(b"P5" + ppm[2:])  # wrong magic
    with _pytest.raises(ValueError):
        _decode_ppm(ppm[:-10])  # truncated raster
    wav = open(f"{d}/audio-002.wav", "rb").read()
    n, rms = _decode_wav(wav)
    assert n == 1000 + 50 * 2
    import math
    samples = [((k * 73 + 2 * 37) % 201) - 100 for k in range(n)]
    assert abs(rms - math.sqrt(sum(s * s for s in samples) / n)) < 1e-9


def test_cdc_chunking_edit_locality(spark, sf_dir):
    """THE content-defined-chunking property: inserting text early in a
    document only reshapes chunks up to the first boundary past the edit —
    every later chunk survives verbatim (fixed-width chunking would re-cut
    all of them). Driven through the real Spark implementation."""
    from token_burn_listener_spark.llm.dedup import cdc_chunks

    base = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(3)
    texts = [r.text for r in base.collect()]
    rows = []
    for i, t in enumerate(texts):
        edited = t[:5] + "XYZQW" + t[5:]  # 5-char insertion near the front
        rows.append((2 * i, t))
        rows.append((2 * i + 1, edited))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = cdc_chunks(df).collect()
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r.chunk)
    for i, t in enumerate(texts):
        orig, edit = by_doc[2 * i], by_doc[2 * i + 1]
        assert "".join(orig) == t and "".join(edit) == t[:5] + "XYZQW" + t[5:]
        # shared suffix: chunks strictly after the edit region realign
        k = 0
        while k < min(len(orig), len(edit)) and orig[-1 - k] == edit[-1 - k]:
            k += 1
        # with ~1/64 boundary density over ~400+ chars, realignment after
        # the first post-edit boundary leaves most tail chunks shared
        assert k >= 1, (
            f"doc {i}: no shared chunk suffix — boundaries are not "
            f"content-defined (orig {len(orig)} vs edited {len(edit)} chunks)"
        )


def test_kl_divergence_is_nonnegative_and_gibbs_tight(spark, sf_dir):
    """Gibbs' inequality: KL(p‖q) ≥ 0, with equality iff p = q. Every
    per-source KL must be ≥ 0 (a negative value means the estimator is
    not a true KL — e.g. mismatched normalizations), and term/token
    counts must be internally consistent."""
    rows = QUERIES["q_llm_kl_divergence"](spark, sf_dir).collect()
    assert rows, "no sources"
    for r in rows:
        assert r.kl_nats >= 0.0, (r.source, r.kl_nats)
        assert 0 < r.n_terms <= r.n_tokens
    # sources differ from the blended corpus, so SOME divergence exists
    assert any(r.kl_nats > 0 for r in rows)


def test_pmi_collocations_beat_independence(spark, sf_dir):
    """Every reported collocation must have pmi consistent with its
    counts (recompute from the corpus) and occur at least the min-count
    floor; ranks must be 1..n in pmi-descending order."""
    import math

    from token_burn_listener_spark.llm.text import _PMI_MIN_COUNT

    rows = QUERIES["q_llm_pmi_collocations"](spark, sf_dir).collect()
    assert rows, "no collocations above min count"
    rows.sort(key=lambda r: r.rnk)
    assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    pmis = [r.pmi for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    # independent recount of one pair from the raw corpus
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("t"))
    top = rows[0]
    c_a = tok.filter(F.col("t") == top.w1).count()
    c_b = tok.filter(F.col("t") == top.w2).count()
    nu = tok.count()
    assert top.c_ab >= _PMI_MIN_COUNT
    expected = math.log(
        (top.c_ab / _bigram_total(spark, sf_dir))
        / ((c_a / nu) * (c_b / nu))
    )
    assert abs(expected - top.pmi) < 1e-4, (expected, top.pmi)


def _bigram_total(spark, sf_dir) -> int:
    d = load_table(spark, sf_dir, "documents")
    n = (
        d.select(F.size(F.split("text", " ")).alias("n"))
        .filter(F.col("n") >= 2)
        .agg(F.sum(F.col("n") - 1))
        .collect()[0][0]
    )
    return int(n)


def test_pq_adc_beats_random_selection(spark, sf_dir):
    """PQ is lossy, so don't assert high fixture recall (near-random
    vectors; documented in the key). Assert what MUST hold: ranks/ADC
    distances are a consistent total order, recall is a sane scalar, and
    the ADC top-10's TRUE mean distance to the query beats the corpus
    mean — i.e. the quantized index carries real signal, it is not a
    random sampler."""
    rows = QUERIES["q_llm_pq_adc"](spark, sf_dir).collect()
    assert len(rows) == 10
    rows.sort(key=lambda r: r.rnk)
    assert [r.rnk for r in rows] == list(range(1, 11))
    dists = [r.adc_dist for r in rows]
    assert dists == sorted(dists)
    assert all(d >= 0 for d in dists)
    recalls = {r.recall for r in rows}
    assert len(recalls) == 1
    assert 0.0 <= rows[0].recall <= 1.0

    from token_burn_listener_spark.llm.similarity import as_double

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qemb"))
    true_d = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(
                    F.col("emb"), F.col("qemb"), lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("d"),
        )
    )
    corpus_mean = true_d.agg(F.avg("d")).collect()[0][0]
    picked = {r.vec_id for r in rows}
    picked_mean = (
        true_d.filter(F.col("vec_id").isin(list(picked)))
        .agg(F.avg("d"))
        .collect()[0][0]
    )
    assert picked_mean < corpus_mean, (picked_mean, corpus_mean)


def test_kneser_ney_cell_recomputes_from_raw_counts(spark, sf_dir):
    """Recompute one reported P_kn from raw corpus counts in Python;
    per-context ranks must be 1..5 with probabilities in (0, 1] and
    non-increasing."""
    from token_burn_listener_spark.llm.text import _KN_D

    rows = QUERIES["q_llm_kneser_ney"](spark, sf_dir).collect()
    assert rows
    by_ctx: dict = {}
    for r in rows:
        by_ctx.setdefault(r.w1, []).append(r)
    assert len(by_ctx) == 3
    for ctx, rs in by_ctx.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        ps = [r.p_kn for r in rs]
        assert ps == sorted(ps, reverse=True)
        assert all(0 < p <= 1 for p in ps)
    # independent recount of the single top cell from per-doc token
    # lists (bigrams never span documents, so recount per doc)
    top = max(rows, key=lambda r: (r.p_kn, r.w1))
    d = load_table(spark, sf_dir, "documents")
    docs = [r.text.split(" ") for r in d.select("text").collect()]
    from collections import Counter

    bc = Counter()
    for t in docs:
        for a, b in zip(t, t[1:]):
            bc[(a, b)] += 1
    c12 = bc[(top.w1, top.w2)]
    c1 = sum(c for (a, _), c in bc.items() if a == top.w1)
    n1p_w1 = sum(1 for (a, _) in bc if a == top.w1)
    n1p_w2 = sum(1 for (_, b) in bc if b == top.w2)
    nb = len(bc)
    p = max(c12 - _KN_D, 0) / c1 + (_KN_D * n1p_w1 / c1) * (n1p_w2 / nb)
    assert abs(p - top.p_kn) < 1e-5, (p, top.p_kn)
    assert c12 == top.c12 and c1 == top.c1


def test_weighted_sample_overrepresents_heavy_docs(spark, sf_dir):
    """The defining property of weighted sampling: the sample's mean
    weight must exceed the corpus mean (long docs drawn more often),
    ranks must be a 1..k total order, and every key must recompute from
    its doc's hash-uniform and weight."""
    import hashlib
    import math

    rows = QUERIES["q_llm_weighted_sample"](spark, sf_dir).collect()
    assert len(rows) == 50
    rows.sort(key=lambda r: r.rnk)
    assert [r.rnk for r in rows] == list(range(1, 51))
    keys = [r.es_key for r in rows]
    assert keys == sorted(keys, reverse=True)
    for r in rows[:5]:  # recompute a handful of keys independently
        u = (
            int(hashlib.sha256(str(r.doc_id).encode()).hexdigest()[:12], 16)
            + 1.0
        ) / 281474976710656.0
        assert abs(math.log(u) / r.w - r.es_key) < 1e-9
    d = load_table(spark, sf_dir, "documents")
    corpus_mean = (
        d.select(F.size(F.split("text", " ")).alias("w"))
        .agg(F.avg("w"))
        .collect()[0][0]
    )
    sample_mean = sum(r.w for r in rows) / len(rows)
    assert sample_mean > corpus_mean, (sample_mean, corpus_mean)

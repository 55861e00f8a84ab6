"""Optimized-plan shape assertions for the Generate materialization barriers.

The winnow/simhash kernels pin their per-char/per-shingle intermediates
with ``explode(array(e))`` — a Generate node CollapseProject cannot
cross. That pin is load-bearing for PERFORMANCE only: if a future Spark
version adds a rule that collapses a single-element explode, Catalyst
would silently re-inline the intermediate into every consumer lambda
(O(chars) → O(chars²) re-hash per row — the measured 64× SimHash blowup
at r4 and the 24 GB winnow exchange at r9) while every value-level test
stays green. These tests make that optimizer change fail loudly instead
(ADVICE r9): the OPTIMIZED plan must still contain the Generate nodes,
and the projections ABOVE them must reference the pinned attribute, not
a re-inlined copy of the kernel expression.

(q_llm_winnow left this family in r10 — its production kernel is now the
measured-faster Arrow mapInPandas, which has no Generate to pin; the
head-to-head with the flat-SQL form it replaced is in SCALE.md, Round 10.)
"""

from __future__ import annotations

from token_burn_listener_spark.registry import QUERIES, load_all_modules

load_all_modules()


def _assert_barrier(spark, sf_dir, key: str, n_generate: int, marker: str):
    """The optimized plan must keep >= n_generate Generate nodes, and
    `marker` (a fragment of the pinned kernel expression) must not appear
    ABOVE the first Generate — its presence there means CollapseProject
    crossed the pin and re-inlined the kernel into a consumer projection.
    """
    plan = str(
        QUERIES[key](spark, sf_dir)._jdf.queryExecution().optimizedPlan()
    )
    assert plan.count("Generate ") >= n_generate, (
        f"{key}: expected >= {n_generate} Generate barrier(s) in the "
        f"optimized plan — an optimizer rule collapsed the "
        f"explode(array(e)) pin; re-hash blowup is back:\n{plan}"
    )
    # the plan string prints top-down: everything before the FIRST
    # Generate line is the consumer side of the barrier
    above = plan.split("Generate ")[0]
    assert marker not in above, (
        f"{key}: kernel expression `{marker}` re-inlined above the "
        f"Generate barrier — CollapseProject crossed the pin:\n{plan}"
    )


def test_simhash_generate_barrier(spark, sf_dir):
    # simhash pins the hashed shingles; the 64 bit-vote aggregates must
    # consume `hs`, never re-hash the shingles 64×
    _assert_barrier(spark, sf_dir, "q_llm_simhash", 1, "xxhash64(")


def _assert_arrow_kernel(spark, sf_dir, key: str, in_cols: set):
    """The optimized plan must contain exactly one MapInPandas stage, fed
    by a projection of ONLY `in_cols` — if a refactor widens the Arrow
    input, every extra column pays the serialize/deserialize toll per
    row at corpus scale (the reason these kernels select before
    mapInPandas)."""
    opt = QUERIES[key](spark, sf_dir)._jdf.queryExecution().optimizedPlan()
    plan = str(opt)
    assert plan.count("MapInPandas") == 1, (
        f"{key}: expected exactly one MapInPandas stage:\n{plan}"
    )
    map_line = next(
        line for line in plan.splitlines() if "MapInPandas" in line
    )
    import re

    # line shape: `MapInPandas _kernel(doc_id#0L, text#1)#6, [outputs...]`
    # — the kernel's INPUT attributes are the first parenthesized args.
    # The regex assumes that arg list never nests parens; guard the
    # match so a Spark plan-format drift fails legibly with the plan
    # text instead of an AttributeError on None (ADVICE r11).
    m = re.search(r"MapInPandas \w+\(([^)]*)\)", map_line)
    assert m is not None, (
        f"{key}: MapInPandas plan line no longer matches the expected "
        f"`MapInPandas <fn>(<args>)` shape — update the parser:\n{map_line}"
    )
    args = m.group(1)
    fed = set(re.findall(r"(\w+)#\d+", args))
    assert fed == in_cols, (
        f"{key}: Arrow kernel fed {sorted(fed)}, expected "
        f"{sorted(in_cols)} — widened input pays Arrow transfer per row"
    )


def test_char_entropy_arrow_kernel_shape(spark, sf_dir):
    # r11: char_entropy's counting runs in an Arrow kernel over
    # (doc_id, text) ONLY; the decimal entropy fold stays JVM-side above
    # it (the hybrid split that keeps the oracle bit-exact). The r10
    # Generate-barrier test retired with the JVM fold — its head-to-head
    # with the kernel is in SCALE.md, Round 11.
    _assert_arrow_kernel(
        spark, sf_dir, "q_llm_char_entropy", {"doc_id", "text"}
    )
    # the JVM fold must consume the kernel's bound counts attribute
    plan = str(
        QUERIES["q_llm_char_entropy"](spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
    )
    assert "aggregate(counts#" in plan, (
        f"char_entropy: decimal fold no longer reads the Arrow counts "
        f"attribute:\n{plan}"
    )


def test_repetition_arrow_kernel_shape(spark, sf_dir):
    # r11: repetition's trigram counting runs in an Arrow kernel over
    # (doc_id, text) ONLY; the 1 - d/n ratio and round(6) stay JVM-side.
    _assert_arrow_kernel(
        spark, sf_dir, "q_llm_repetition", {"doc_id", "text"}
    )


def test_pq_adc_arrow_kernel_shape(spark, sf_dir):
    # r12: pq_adc's encode argmin runs in an Arrow kernel over
    # (vec_id, emb) ONLY, emitting integer code ids; the broadcast-LUT
    # join and the DECIMAL(28,12) ADC fold stay JVM-side. A widened
    # input would pay 64 doubles per row twice across Arrow. The full
    # query's final plan hides the encode branch behind the adc10
    # localCheckpoint pin (a LogicalRDD), so the assert runs on the
    # codes subplan the query composes (_pq_codes_arrow).
    import re

    from pyspark.sql import functions as F

    from token_burn_listener_spark.llm.similarity import (
        _PQ_K,
        _pq_codes_arrow,
        as_double,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    cb = e.filter(F.col("vec_id").between(1, _PQ_K)).select(
        (F.col("vec_id") - 1).alias("c"), F.col("emb").alias("cemb")
    )
    plan = str(
        _pq_codes_arrow(e, cb)._jdf.queryExecution().optimizedPlan()
    )
    assert plan.count("MapInPandas") == 1, (
        f"pq codes: expected exactly one MapInPandas stage:\n{plan}"
    )
    map_line = next(
        line for line in plan.splitlines() if "MapInPandas" in line
    )
    m = re.search(r"MapInPandas \w+\(([^)]*)\)", map_line)
    assert m is not None, (
        f"pq codes: MapInPandas plan line no longer matches the expected "
        f"shape — update the parser:\n{map_line}"
    )
    fed = set(re.findall(r"(\w+)#\d+", m.group(1)))
    assert fed == {"vec_id", "emb"}, (
        f"pq codes: Arrow kernel fed {sorted(fed)}, expected "
        f"['emb', 'vec_id'] — widened input pays Arrow transfer per row"
    )


def test_kmeans_arrow_kernel_shape(spark, sf_dir):
    """r13 (VERDICT r12 #3): the kmeans assignment kernel is fed
    (vec_id, embedding) ONLY — a widened input (the label column, say)
    would pay extra Arrow transfer per row on every Lloyd iteration."""
    import re

    from token_burn_listener_spark.llm.similarity import (
        _assign_arrow,
        _init_centroid_values,
    )
    from token_burn_listener_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    plan = str(
        _assign_arrow(e, _init_centroid_values(e))
        ._jdf.queryExecution()
        .optimizedPlan()
    )
    assert plan.count("MapInPandas") == 1, (
        f"kmeans assign: expected exactly one MapInPandas stage:\n{plan}"
    )
    map_line = next(
        line for line in plan.splitlines() if "MapInPandas" in line
    )
    m = re.search(r"MapInPandas \w+\(([^)]*)\)", map_line)
    assert m is not None, (
        f"kmeans assign: MapInPandas plan line no longer matches the "
        f"expected shape — update the parser:\n{map_line}"
    )
    fed = set(re.findall(r"(\w+)#\d+", m.group(1)))
    assert fed == {"vec_id", "embedding"}, (
        f"kmeans assign: Arrow kernel fed {sorted(fed)}, expected "
        f"['embedding', 'vec_id']"
    )


def test_ensure_bucketed_identity_includes_key(spark, sf_dir):
    """Regression (r12 review): two layouts of the SAME table clustered
    on DIFFERENT keys must register DISTINCT catalog tables. The scratch
    hash is keyed on (sf_dir, source stat) only — identical for both —
    so a catalog name without the bucketing key would collide in the
    tableExists fast path and silently hand the second caller the first
    caller's layout (a merge join on the wrong cluster column quietly
    regains its exchanges)."""
    from token_burn_listener_spark.operators.storage import _ensure_bucketed

    n1 = _ensure_bucketed(spark, sf_dir, "orders", "o_custkey", "bkt_t")
    n2 = _ensure_bucketed(spark, sf_dir, "orders", "o_orderkey", "bkt_t")
    assert n1 != n2, n1
    for name, key in ((n1, "o_custkey"), (n2, "o_orderkey")):
        desc = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        buckets = next(
            (r.data_type for r in desc if r.col_name == "Bucket Columns"),
            None,
        )
        assert buckets is not None and key in buckets, (name, buckets)


def test_ensure_bucketed_warm_layout_reregisters_without_build(
    spark, sf_dir, spark_jobs
):
    """A layout already on disk whose catalog entry is gone (a fresh
    session) re-registers through the DDL without calling ``build`` and
    without a Spark job: a derived ``build`` may run Spark jobs of its own
    (the minhash layout's injectivity check), which only a cold layout
    pays, and the DDL's columns come from a part file's footer."""
    from token_burn_listener_spark.operators.storage import _ensure_bucketed
    from token_burn_listener_spark.tables import load_table

    calls = []

    def build(s, d):
        calls.append(d)
        return load_table(s, d, "nation").repartition(2, "n_regionkey")

    def ensure():
        return _ensure_bucketed(
            spark, sf_dir, "nation", "n_regionkey", "bkt_warm",
            n_buckets=2, build=build,
        )

    name = ensure()
    built = len(calls)
    assert built <= 1
    spark.sql(f"DROP TABLE {name}")  # external: the layout stays on disk
    again, jobs = spark_jobs(ensure)
    assert again == name
    assert len(calls) == built, "warm layout called build again"
    assert jobs == 0, f"warm re-registration ran {jobs} Spark jobs"
    assert spark.table(name).count() == load_table(
        spark, sf_dir, "nation"
    ).count()


def test_corpus_prep_arrow_kernel_shape(spark, sf_dir):
    # r13 optimization: corpus_prep's gate pass (tokenize + trigram-set
    # count + sha256) runs in an Arrow kernel fed ONLY the gate columns
    # (doc_id, lang, source, n_chars, text); the rep ratio and every
    # gate float stay JVM-side over the kernel's integer outputs. A
    # widened input pays Arrow transfer per row; a NARROWED one means a
    # join-back crept in (which would re-shuffle the corpus at scale).
    _assert_arrow_kernel(
        spark,
        sf_dir,
        "q_llm_corpus_prep",
        {"doc_id", "lang", "source", "n_chars", "text"},
    )


def test_jaccard_verify_single_intersect(spark, sf_dir):
    """r13 optimization: the minhash verify evaluates array_intersect
    ONCE per candidate pair — the (i, la, lb) projection sits behind an
    explode(array(struct)) Generate barrier, and |A∪B| is the la+lb-i
    identity (the arrays are distinct by construction), so array_union
    is gone entirely. If CollapseProject ever crosses the pin again, the
    intersect re-inlines into both the threshold filter and the output
    projection and this counts 2+ per key."""
    for key in ("q_llm_minhash_exact", "q_llm_minhash_steep"):
        plan = str(
            QUERIES[key](spark, sf_dir)._jdf.queryExecution().optimizedPlan()
        )
        n = plan.count("array_intersect(")
        assert n == 1, (
            f"{key}: expected exactly 1 array_intersect in the optimized "
            f"plan (barrier-pinned), found {n}:\n{plan}"
        )
        assert "array_union(" not in plan, (
            f"{key}: array_union re-appeared — the la+lb-i union-size "
            f"identity was dropped:\n{plan}"
        )


def test_minhash_sig_kernel_exact(spark, sf_dir):
    """r14 optimization (VERDICT r13 #1): the MinHash signature build is
    one Arrow kernel pass (_minhash_sigs). Its values must stay
    BIT-IDENTICAL to the r10–r13 JVM aggregate form — min over shingles
    of conv(substring(sha2(g || salt), 1+8w, 8), 16, 10)::long — which
    is also the literal math the DuckDB oracle texts spell. Any drift
    (byte order, salt concat, null handling, window offset) flips
    candidate sets silently; this comparison fails it loudly at both
    banding widths."""
    from pyspark.sql import functions as F

    from token_burn_listener_spark.llm.dedup import (
        _MH_STEEP_FNS,
        _MH_STEEP_SALTS,
        _minhash_sigs,
        shingled,
    )
    from token_burn_listener_spark.tables import load_table

    d = shingled(load_table(spark, sf_dir, "documents")).localCheckpoint()
    for n_fns, salts in ((8, [""]), (_MH_STEEP_FNS, list(_MH_STEEP_SALTS))):
        e = d.select("doc_id", F.explode("sh").alias("g")).select(
            "doc_id",
            *[
                F.sha2(
                    F.col("g")
                    if not salt
                    else F.concat(F.col("g"), F.lit(salt)),
                    256,
                ).alias(f"sha{k}")
                for k, salt in enumerate(salts)
            ],
        )
        jvm = e.groupBy("doc_id").agg(
            *[
                F.min(
                    F.conv(
                        F.substring(f"sha{h // 8}", 1 + 8 * (h % 8), 8),
                        16,
                        10,
                    ).cast("long")
                ).alias(f"sig{h}")
                for h in range(n_fns)
            ]
        )
        ker = _minhash_sigs(d, n_fns, tuple(salts))
        diff = F.lit(False)
        for h in range(n_fns):
            diff = diff | ~F.col(f"k.sig{h}").eqNullSafe(F.col(f"j.sig{h}"))
        mism = (
            ker.alias("k")
            .join(jvm.alias("j"), F.col("k.doc_id") == F.col("j.doc_id"), "full")
            .where(
                F.col("k.doc_id").isNull() | F.col("j.doc_id").isNull() | diff
            )
            .count()
        )
        assert mism == 0, (
            f"{n_fns}-fn signature kernel diverged from the JVM "
            f"aggregate form on {mism} docs — the bit-exactness "
            f"contract in _minhash_sigs is broken"
        )


def test_minhash_sig_kernel_input_pin(spark, sf_dir):
    """r14: the signature kernel is fed ONLY (doc_id, sh) — mapInPandas
    is opaque to column pruning, so a widened input would ship (and at
    the bucketed key, scan) extra corpus columns through Arrow per row.
    One pin covers all four minhash keys (they share _minhash_sigs)."""
    import re

    from token_burn_listener_spark.llm.dedup import _minhash_sigs, shingled
    from token_burn_listener_spark.tables import load_table

    sig = _minhash_sigs(
        shingled(load_table(spark, sf_dir, "documents")), 18, ("", "#1", "#2")
    )
    plan = str(sig._jdf.queryExecution().optimizedPlan())
    assert plan.count("MapInPandas") == 1, plan
    map_line = next(
        line for line in plan.splitlines() if "MapInPandas" in line
    )
    m = re.search(r"MapInPandas \w+\(([^)]*)\)", map_line)
    assert m is not None, map_line
    fed = set(re.findall(r"(\w+)#\d+", m.group(1)))
    assert fed == {"doc_id", "sh"}, (
        f"signature kernel fed {sorted(fed)}, expected ['doc_id', 'sh']"
    )


def test_shingle_id_encode_guard(spark, sf_dir):
    """r14: the verify-side xxhash64 shingle-id encode is legal ONLY
    under _shingle_ids' checked injectivity — these are the guard's
    contract cases. (a) a null shingle must refuse the encode (the JVM
    string path has defined null semantics; hashed nulls would not);
    (b) on a clean corpus the encode preserves array lengths,
    distinctness, and every pairwise intersect size — checked here
    against the string form on the real fixture's shingles."""
    from pyspark.sql import functions as F

    from token_burn_listener_spark.llm.dedup import _shingle_ids, shingled
    from token_burn_listener_spark.tables import load_table

    bad = spark.createDataFrame(
        [(1, ["ab", None]), (2, ["cd"])], "doc_id long, sh array<string>"
    )
    assert _shingle_ids(bad) is None, "null shingle must refuse the encode"

    d = shingled(load_table(spark, sf_dir, "documents")).localCheckpoint()
    ids = _shingle_ids(d)
    assert ids is not None, "fixture shingles must pass the injectivity gate"
    # lengths preserved row-by-row; intersect sizes equal on the full
    # self-join grid of a 40-doc slice (covers planted near-dup pairs)
    j = (
        d.select("doc_id", F.col("sh").alias("s"))
        .join(ids.select("doc_id", F.col("sh").alias("h")), "doc_id")
    )
    assert j.filter(F.size("s") != F.size("h")).count() == 0
    sl = j.filter(F.col("doc_id") < 40)
    a = sl.select(F.col("doc_id").alias("da"), F.col("s").alias("sa"),
                  F.col("h").alias("ha"))
    b = sl.select(F.col("doc_id").alias("db"), F.col("s").alias("sb"),
                  F.col("h").alias("hb"))
    g = a.crossJoin(b).filter(F.col("da") < F.col("db"))
    n_bad = g.filter(
        F.size(F.array_intersect("sa", "sb"))
        != F.size(F.array_intersect("ha", "hb"))
    ).count()
    assert n_bad == 0, f"{n_bad} pairs changed intersect size under the encode"


def test_bucketed_layout_carries_shingle_ids(spark, sf_dir):
    """r14b (OPTIMIZATION_r14 §4b's recorded follow-on): the bucketed
    minhash layout stores the xxhash64 shingle-id arrays NEXT TO the
    strings, written under the build-time injectivity assert, and the
    key's verify consumes them straight off the bucketed scan — zero
    per-query check job. Pins (a) the v2 layout schema (doc_id, sh,
    shid), (b) value identity of the whole key vs the steep twin's
    string-path verify (identical logical query — any id/string
    divergence flips rows here), and (c) that the verify plan actually
    reads the id column (the saving is real, not schema decoration): in
    the physical plan every scan of the layout — the signature side is
    checkpointed, so these are the verify sides — reads the int64 ids
    and not the string shingles."""
    import re

    from token_burn_listener_spark.operators.storage import _plan
    from token_burn_listener_spark.registry import QUERIES

    out = QUERIES["q_llm_minhash_bucketed"](spark, sf_dir)
    plan = _plan(out)
    # the layout this key scanned: other corpora in this session (the fuzz
    # suites) register their layouts under the same prefix
    tbl = next(
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("bkt_mh_documents_sh2_") and t.name in plan
    )
    cols = [f.name for f in spark.table(tbl).schema.fields]
    assert cols == ["doc_id", "sh", "shid"], cols
    reads = re.findall(
        rf"^\(\d+\) Scan parquet \S*{tbl}\b.*?^ReadSchema: (\S+)$",
        plan,
        re.M | re.S,
    )
    assert reads and all(
        r == "struct<doc_id:bigint,shid:array<bigint>>" for r in reads
    ), f"verify scans of the layout read {reads}, not the id column"
    steep = QUERIES["q_llm_minhash_steep"](spark, sf_dir)
    assert out.exceptAll(steep).count() == 0
    assert steep.exceptAll(out).count() == 0


def test_bigram_lm_reuses_count_exchange(spark, sf_dir):
    """r13 optimization: bigram_lm (and dsir, same shape) reads the
    corpus ONCE — model and scoring both consume the per-(doc, bigram)
    count exchange, deduped by ReuseExchange in the ADAPTIVE final plan
    (the static explain cannot show reuse). The explicit isnotnull(bg)
    under the count table is what keeps the two subtrees canonically
    equal; if it is dropped, the join's pushed null-filter breaks reuse
    and the scan+explode runs twice."""
    # ReuseExchange is decided by the adaptive planner; on a session
    # with AQE (or exchange reuse) disabled the assertion below would
    # fail despite correct results (ADVICE r13 #2) — skip, don't fail.
    import pytest

    if (
        spark.conf.get("spark.sql.adaptive.enabled", "true") != "true"
        or spark.conf.get("spark.sql.exchange.reuse", "true") != "true"
    ):
        pytest.skip("exchange reuse disabled on this session")
    df = QUERIES["q_llm_bigram_lm"](spark, sf_dir)
    # collect (not a noop write): the write would spawn its OWN
    # QueryExecution, leaving df's plan un-executed (isFinalPlan=false,
    # where AQE reuse is not yet decided)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, (
        f"bigram_lm: no ReusedExchange in the final adaptive plan — the "
        f"corpus is being scanned twice again:\n{final[:4000]}"
    )


def test_funnel_stages_take_one_shuffle(spark, sf_dir):
    """q_evt_funnel and q_evt_funnel_latency read events once and build
    the per-user stage table on ONE shuffle on user_id: two windows and
    a groupBy over the same partitioning, no stage join and no pinned
    (localCheckpoint) stage table."""
    for key in ("q_evt_funnel", "q_evt_funnel_latency"):
        qe = QUERIES[key](spark, sf_dir)._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
        assert len(scans) == 1 and "events.parquet" in scans[0], (
            f"{key}: expected one events scan:\n{plan}"
        )
        assert plan.count("Exchange hashpartitioning") == 1, (
            f"{key}: expected exactly one hash shuffle:\n{plan}"
        )
        assert "Scan ExistingRDD" not in plan, (
            f"{key}: a stage table is pinned again:\n{plan}"
        )
        assert "Join" not in plan, f"{key}: a stage join is back:\n{plan}"

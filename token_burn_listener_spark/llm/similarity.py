"""B10 — embedding similarity search (SURVEY.md §2.B10).

Vector math stays in Catalyst: the dot product is
``aggregate(zip_with(a, b, (x,y) -> cast(x)*cast(y)), 0.0, +)`` with the
double-widening cast INSIDE the lambda (no per-row double-array
materialization — r9 1000× probe), and the squared norm is the one-fold
``aggregate(a, 0.0, acc + cast(x)²)`` (``sq_norm``) — whole-stage-
codegen'd JVM arithmetic, no UDF, no Python.

Scale story (100 TB of embeddings):
- ``q_llm_cosine_topk`` is the documented O(n²) exception (SURVEY.md §7.4):
  exact brute force as the small-corpus oracle baseline. Its top-k is
  TakeOrderedAndProject (orderBy().limit(k) BEFORE the rank window), so
  only k rows ever reach a single task — the anti-pattern VERDICT.md
  flagged (global rank window over the full input) is avoided.
- ``q_llm_knn_query`` broadcasts ONE query vector — a map-side scan with a
  global top-k reduce; this shape scales linearly and is what a vector
  serving path compiles to.
- ``q_llm_ann_lsh`` is the at-scale ANN path: random hyperplane/projection
  bucketing (seeded) so candidate generation is a bucket join, not a cross
  join. Recall vs the exact top-k is asserted in tests/test_llm.py.
- ``q_llm_centroids`` is the "group-by over vectors" building block (IVF
  coarse quantizer training step): posexplode → (label, pos) partial+final
  avg — one shuffle keyed (label, pos), 640 groups here, never skewed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from token_burn_listener_spark.registry import query
from token_burn_listener_spark.tables import load_table


def as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    """Dot product with the double-widening cast INSIDE the lambda: no
    intermediate double array is materialized per row (the r9 1000×
    probe measured the transform-then-zip form at ~1.65× the per-row
    cost of this one on the kNN path, and far worse cold — every HOF
    layer is interpreted until C2 JIT catches up). cast(double) on an
    already-double element is a no-op, so pre-cast inputs keep the
    identical products-then-left-fold arithmetic: same values either
    way, bit for bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sq_norm(a) -> Column:
    """Squared L2 norm as a SINGLE fold — ``aggregate(a, 0.0, acc + x²)``
    — the cheapest per-row form (one HOF, no zip array, no double-array
    materialization). Fold order is element order, so the sum is
    bit-identical to ``dot(a, a)``'s products-then-left-fold."""
    return F.aggregate(
        a,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )


def l2(a) -> Column:
    """L2 norm (via the one-fold ``sq_norm``). A zero vector has norm 0
    and NO defined cosine — and the engines do NOT degrade the same way
    (measured, r7): Spark 4's default ANSI mode THROWS DIVIDE_BY_ZERO on
    the double division (the q_evt_pareto crash class) while DuckDB's
    list_cosine_similarity returns -1.0. So the cosine family enforces
    the data contract IN-QUERY: every consumer scans through
    ``nonzero()`` (Spark) with the matching ``nz_sql()`` predicate in
    its oracle, rejecting zero vectors identically on both engines
    before any division. NULL-ELEMENT vectors remain a contract
    violation (DuckDB's list functions raise InvalidInput on them; Spark
    silently NULL-propagates) — reject them upstream.
    q_llm_semantic_prune keeps its NULL-yielding NULLIF guard instead
    (scored-audit semantics: the degenerate row stays visible)."""
    return F.sqrt(sq_norm(a))


def nonzero(e: DataFrame) -> DataFrame:
    """Embeddings scan with the zero-vector contract ENFORCED: rejects
    rows whose vector has zero squared norm (exactly the all-zero
    vectors — a float sum of squares is 0 iff every component is 0,
    barring sub-1e-162 underflow). Scan-side placement prunes BEFORE any
    O(n²) pair join. The DuckDB twin is ``nz_sql()``. The filter is the
    one-fold ``sq_norm`` — same left-fold sum of double-cast squares as
    the r1–r8 ``dot(as_double, as_double)`` form (identical rejection
    set), at a fraction of the per-row cost on a filter every
    embedding-family key evaluates corpus-wide."""
    return e.filter(sq_norm("embedding") != 0.0)


def nz_sql(col: str = "embedding") -> str:
    """DuckDB predicate matching ``nonzero()``: same rejection set (zero
    squared norm), applied to the same scan."""
    return f"list_inner_product({col}::DOUBLE[], {col}::DOUBLE[]) <> 0"


@query(
    "q_llm_cosine_topk",
    oracle=f"""
    WITH p AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 6) AS cos_sim
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE {nz_sql('a.embedding')} AND {nz_sql('b.embedding')}
    ),
    top AS (
      SELECT vec_a, vec_b, cos_sim FROM p
      ORDER BY cos_sim DESC, vec_a, vec_b LIMIT 20
    )
    SELECT vec_a, vec_b, cos_sim,
           row_number() OVER (ORDER BY cos_sim DESC, vec_a, vec_b) AS rnk
    FROM top
    """,
)
def q_llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 most-similar pairs, brute force (the documented O(n²)
    oracle baseline — LSH below is the at-scale path).

    Rank is materialized (order-insensitive driver hash, SURVEY.md §2.B6
    note) but computed on the 20-row TakeOrderedAndProject result, not the
    full pair set.
    """
    e = nonzero(load_table(spark, sf_dir, "embeddings"))
    a = e.select(
        F.col("vec_id").alias("vec_a"), as_double("embedding").alias("ea")
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), as_double("embedding").alias("eb")
    )
    pairs = a.crossJoin(b).filter(F.col("vec_a") < F.col("vec_b"))
    sims = pairs.select(
        "vec_a",
        "vec_b",
        F.round(dot("ea", "eb") / (l2("ea") * l2("eb")), 6).alias("cos_sim"),
    )
    top = sims.orderBy(F.desc("cos_sim"), "vec_a", "vec_b").limit(20)
    w = Window.orderBy(F.desc("cos_sim"), "vec_a", "vec_b")
    return top.withColumn("rnk", F.row_number().over(w))


@query(
    "q_llm_knn_query",
    oracle=f"""
    WITH enz AS (SELECT * FROM embeddings WHERE {nz_sql()}),
    s AS (
      SELECT vec_id,
             round(list_cosine_similarity(
                 embedding::DOUBLE[],
                 (SELECT embedding::DOUBLE[] FROM enz WHERE vec_id = 0)),
               6) AS cos_sim
      FROM enz WHERE vec_id <> 0
    ),
    top AS (SELECT vec_id, cos_sim FROM s ORDER BY cos_sim DESC, vec_id LIMIT 10)
    SELECT vec_id, cos_sim,
           row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rnk
    FROM top
    """,
)
def q_llm_knn_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-NN of one query vector (vec_id 0) against the corpus.

    The query vector is collected once (64 floats, bounded) and inlined as
    a literal array — the broadcast-scalar pattern: the scan stays a single
    map-side pass plus a k-row global top-k. Corpus-side zero vectors are
    rejected at the scan (nonzero/nz_sql, see l2); the QUERY vector is
    part of the operator spec — missing or all-zero vec_id 0 is a caller
    error and raises here (IndexError), as documented for the query-style
    keys. The oracle's query subselect reads the same nz-filtered scan
    (``enz``, matching q_llm_ivf_search's form) so the two query-style
    oracles share one shape; on a violated contract the engines still
    differ BY DESIGN — Spark raises (IndexError at the collect), while
    DuckDB's list_cosine_similarity returns NULL for the empty
    subselect's NULL argument (measured on duckdb 1.0.0 — it does NOT
    error), yielding all-NULL sims. That asymmetry is unreachable under
    the contract and moot in practice: a raising Spark side means the
    driver comparison never runs.
    """
    e = nonzero(load_table(spark, sf_dir, "embeddings"))
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    qcol = F.array(*[F.lit(float(v)) for v in qvec])
    sims = (
        e.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            # raw float array straight into the cast-in-lambda kernels:
            # zip_with against the double literal widens per element —
            # the same arithmetic as the old transform-then-zip form
            # without materializing a double copy of every vector
            F.round(
                dot("embedding", qcol) / (l2("embedding") * l2(qcol)),
                6,
            ).alias("cos_sim"),
        )
    )
    top = sims.orderBy(F.desc("cos_sim"), "vec_id").limit(10)
    w = Window.orderBy(F.desc("cos_sim"), "vec_id")
    return top.withColumn("rnk", F.row_number().over(w))


@query("q_llm_ann_lsh")  # rows-only: LSH buckets are engine-specific;
# recall vs q_llm_cosine_topk's exact answer is asserted in tests/test_llm.py
def q_llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via seeded random-projection LSH (the scale path).

    BucketedRandomProjectionLSH hashes vectors into distance-preserving
    buckets; approxNearestNeighbors probes the query's buckets instead of
    scanning the corpus. Euclidean distance on unit-normalized vectors is
    monotone in cosine (d² = 2 − 2·cos), so the ANN ranking is
    cosine-consistent. Zero vectors cannot be unit-normalized and are
    rejected at the scan (nonzero); an all-zero QUERY vector is a caller
    error (the vec_id 0 lookup then raises IndexError).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = nonzero(load_table(spark, sf_dir, "embeddings"))
    # norm as a projected scalar column FIRST, then divide inside the
    # transform: the old form re-evaluated l2() inside the element lambda
    # — O(dim²) interpreted work per row (r9 probe finding)
    unit = F.transform("embedding", lambda x: x.cast("double") / F.col("nrm"))
    vecs = e.withColumn("nrm", l2("embedding")).select(
        "vec_id", array_to_vector(unit).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        seed=42,
        bucketLength=0.5,
        numHashTables=3,
    )
    model = lsh.fit(vecs)
    qrow = vecs.filter(F.col("vec_id") == 0).collect()[0]
    neighbors = model.approxNearestNeighbors(
        vecs.filter(F.col("vec_id") != 0), qrow.features, 10, distCol="eucl_dist"
    )
    return neighbors.select("vec_id", F.round("eucl_dist", 6).alias("eucl_dist"))


@query(
    "q_llm_centroids",
    oracle="""
    WITH x AS (
      SELECT label, unnest(range(len(embedding))) AS pos,
             unnest(embedding::DOUBLE[]) AS val
      FROM embeddings
    )
    SELECT label, pos, round(avg(val), 6) AS c FROM x GROUP BY 1, 2
    """,
)
def q_llm_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector in long form (label, pos, c) — vector group-by.

    posexplode the RAW float array and cast per exploded element: the
    transform-first form materialized a double copy of every vector
    before the generate (r9 1000× probe: 3× the warm cost on a 2 M ×
    64-dim corpus, same avg to the bit — cast-then-avg ≡ avg-of-casts).
    """
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("c"))
    )


@query(
    "q_llm_ivf_search",
    oracle=f"""
    WITH enz AS (SELECT * FROM embeddings WHERE {nz_sql()}),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM enz WHERE vec_id = 0),
    cent AS (
      SELECT label, pos, avg(val) AS c FROM (
        SELECT label, unnest(range(len(embedding))) AS pos,
               unnest(embedding::DOUBLE[]) AS val
        FROM enz) x
      GROUP BY 1, 2
    ),
    cdist AS (
      SELECT label,
             round(sum((c - (SELECT qv FROM q)[pos + 1])
                       * (c - (SELECT qv FROM q)[pos + 1])), 6) AS d2
      FROM cent GROUP BY label
    ),
    probed AS (SELECT label FROM cdist ORDER BY d2, label LIMIT 2),
    cand AS (
      SELECT e.vec_id,
             round(list_cosine_similarity(e.embedding::DOUBLE[],
                                          (SELECT qv FROM q)), 6) AS cos_sim
      FROM enz e JOIN probed USING (label)
      WHERE e.vec_id <> 0
    ),
    top AS (SELECT vec_id, cos_sim FROM cand
            ORDER BY cos_sim DESC, vec_id LIMIT 10)
    SELECT vec_id, cos_sim,
           row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rnk
    FROM top
    """,
)
def q_llm_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) vector search: probe the 2 nearest clusters only
    (extra, beyond §2.B10 — the scale path q_llm_knn_query's full scan
    becomes at 100 TB).

    The label column is the coarse quantizer's cluster assignment (what
    q_llm_centroids trains); search = rank centroids by distance to the
    query, then brute-force ONLY the probed clusters — a partition-pruned
    scan of ~nprobe/nlist of the corpus instead of all of it. Fully
    declarative: centroid ranking is a 640-row aggregate, probed-cluster
    routing is a broadcast join. Zero vectors are rejected at the scan
    (nonzero/nz_sql, see l2) — both the IVF training set and the probed
    candidates read the contract-enforced corpus; an all-zero QUERY
    vector is a caller error (IndexError at the vec_id 0 lookup).
    """
    e = nonzero(load_table(spark, sf_dir, "embeddings"))
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    qcol = F.array(*[F.lit(float(v)) for v in qvec])

    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("val").cast("double")).alias("c"))
    )
    diff = F.col("c") - F.element_at(qcol, F.col("pos") + 1)
    cdist = cent.groupBy("label").agg(F.round(F.sum(diff * diff), 6).alias("d2"))
    probed = cdist.orderBy("d2", "label").limit(2).select("label")

    cand = (
        e.join(F.broadcast(probed), "label")
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(
                dot("embedding", qcol) / (l2("embedding") * l2(qcol)),
                6,
            ).alias("cos_sim"),
        )
    )
    top = cand.orderBy(F.desc("cos_sim"), "vec_id").limit(10)
    w = Window.orderBy(F.desc("cos_sim"), "vec_id")
    return top.withColumn("rnk", F.row_number().over(w))


_KMEANS_K = 4
_KMEANS_ITERS = 2


def _centroid_values(rows):
    """(cluster, pos, c) rows → [(cluster_id, [double, ...])] sorted by
    cluster id, for the clusters that HAVE members (bounded: ≤ k × dim
    doubles — the broadcast-centroids step of distributed Lloyd). A
    cluster can empty out mid-iteration (duplicate init centroids lose
    every argmin tie to the lower id); it then simply has no centroid
    next round — the same drop the oracle's unrolled CTEs perform, and
    why ids are carried explicitly instead of re-enumerated
    (re-numbering would shift every later cluster's id and break the
    (d2, cluster) tiebreak parity)."""
    by_cluster: dict[int, dict[int, float]] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["c"]
    return [
        (c, [by_cluster[c][p] for p in sorted(by_cluster[c])])
        for c in sorted(by_cluster)
    ]


def _init_centroid_values(e: DataFrame):
    """Deterministic init: the K lowest vec_ids' embeddings as raw
    values (collect bounded to k rows — house collect policy)."""
    init = e.orderBy("vec_id").limit(_KMEANS_K).select("embedding").collect()
    return [
        (i, [float(x) for x in r["embedding"]]) for i, r in enumerate(init)
    ]


def _sq_l2_fold():
    """Returns sq_l2(X, C): squared L2 from every row of X to every row of
    C (float64 arrays), d = t0·t0 + t1·t1 + ... left-associated in
    position order — the IEEE op sequence of the oracle's _sq_l2_sql.
    A factory so kernels ship it by value: Python workers need not be
    able to import this package."""

    def sq_l2(X, C):
        t = X[:, None, 0] - C[None, :, 0]
        d = t * t
        for p in range(1, X.shape[1]):
            t = X[:, None, p] - C[None, :, p]
            d = d + t * t
        return d

    return sq_l2


def _sq_l2_sql(a: str, b: str) -> str:
    """DuckDB twin of _sq_l2_fold over DOUBLE[] lists a and b: list_sum is
    an index-order left fold, and each term multiplies the difference by
    itself (``** 2`` is pow, which differs from t·t on some terms)."""
    t = f"({a}[p] - {b}[p])"
    return f"list_sum([{t} * {t} FOR p IN range(1, len({a}) + 1)])"


def _kmeans_assign_kernel(cids, cent_rows):
    """Arrow assignment-kernel factory: batches of (vec_id, embedding) →
    (vec_id, cluster, embedding) with cluster the argmin centroid id over
    the closed-over centroid matrix.

    Exactness argument (the pq_adc playbook, similarity.py:_pq_encode_kernel):
    the kernel emits the INTEGER cluster id; vec_id and embedding are
    PASS-THROUGH transport (returned byte-identical, never recomputed),
    so no float computed in Python ever crosses back. The float work to
    pick the argmin uses IEEE-754 basic ops only (subtract, multiply,
    add), each correctly rounded, in the DuckDB oracle's fold order: the
    oracle's ``list_sum`` over positions 1..dim is an index-order left
    fold, and _sq_l2_fold's sq_l2 accumulates d = t0·t0 + t1·t1 + ...
    left-associated the same way (np.sum is deliberately NOT used: its
    pairwise base case regroups additions). The float32 → float64
    widening is exact, matching the oracle's ``embedding::DOUBLE[]``
    cast, so every difference t is the same double on both engines
    (tests/test_llm.py pins the two folds bit for bit). Ties break
    via np.argmin's first-minimum rule over centroids sorted by cluster
    id == the oracle's ``ORDER BY d2, cluster``. No libm call runs in
    Python, so transcendental-drift hazards are structurally absent.
    Parity and test_fuzz_parity's q_llm_kmeans rows check the ids."""

    sq_l2 = _sq_l2_fold()

    def assign(batches):
        import numpy as np
        import pandas as pd

        cid_arr = np.asarray(cids, dtype=np.int32)
        C = np.asarray(cent_rows, dtype=np.float64)
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(
                np.float64, copy=False
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cluster": cid_arr[np.argmin(sq_l2(X, C), axis=1)],
                    "embedding": pdf["embedding"],
                }
            )

    return assign


def _assign_arrow(e: DataFrame, cents_vals) -> DataFrame:
    """Map-side cluster assignment via the Arrow kernel. The kernel
    input is pinned to (vec_id, embedding) — nothing else crosses Arrow
    (tests/test_plan_shape.py)."""
    return e.select("vec_id", "embedding").mapInPandas(
        _kmeans_assign_kernel(
            [c for c, _ in cents_vals], [v for _, v in cents_vals]
        ),
        schema="vec_id bigint, cluster int, embedding array<float>",
    )


def kmeans_iterate(spark: SparkSession, sf_dir: str, n_iters: int) -> DataFrame:
    """Lloyd's k-means, deterministic init (the K lowest vec_ids), returning
    long-form centroids (cluster, pos, c) + member counts after n_iters.

    Each assignment runs through the Arrow kernel (_kmeans_assign_kernel:
    the oracle's index-order fold and (d2, cluster) tie-break). It
    replaced an interpreted aggregate(zip_with) JVM fold in r13; the
    head-to-head is recorded in SCALE.md, "Round 13 runs", kmeans
    assignment."""
    e = load_table(spark, sf_dir, "embeddings")
    assign = _assign_arrow(e, _init_centroid_values(e))
    for _ in range(n_iters - 1):
        cent_rows = (
            assign.select(
                "cluster", F.posexplode("embedding").alias("pos", "val")
            )
            .groupBy("cluster", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("c"))
            .collect()  # bounded: k × dim rows — the broadcast step
        )
        assign = _assign_arrow(e, _centroid_values(cent_rows))
    sizes = assign.groupBy("cluster").agg(F.count("*").alias("n_members"))
    cent = (
        assign.select(
            "cluster", F.posexplode("embedding").alias("pos", "val")
        )
        .groupBy("cluster", F.col("pos").cast("long").alias("pos"))
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("c"))
    )
    return cent.join(F.broadcast(sizes), "cluster").select(
        F.col("cluster").cast("int").alias("cluster"),
        "pos",
        "c",
        "n_members",
    )


@query(
    "q_llm_kmeans",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    init AS (
      SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cluster, v
      FROM e ORDER BY vec_id LIMIT {_KMEANS_K}
    ),
    d1 AS (
      SELECT e.vec_id, i.cluster, {_sq_l2_sql("e.v", "i.v")} AS d2
      FROM e CROSS JOIN init i
    ),
    a1 AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster)
                 AS rn
        FROM d1) x WHERE rn = 1
    ),
    c1 AS (
      SELECT cluster, list(c ORDER BY pos) AS v FROM (
        SELECT a1.cluster, pos, avg(val) AS c FROM (
          SELECT vec_id, unnest(range(len(v))) AS pos, unnest(v) AS val FROM e
        ) x JOIN a1 USING (vec_id)
        GROUP BY a1.cluster, pos
      ) GROUP BY cluster
    ),
    d2_ AS (
      SELECT e.vec_id, c1.cluster, {_sq_l2_sql("e.v", "c1.v")} AS d2
      FROM e CROSS JOIN c1
    ),
    a2 AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster)
                 AS rn
        FROM d2_) x WHERE rn = 1
    ),
    sizes AS (SELECT cluster, count(*) AS n_members FROM a2 GROUP BY cluster)
    SELECT a2.cluster, pos::BIGINT AS pos, round(avg(val), 6) AS c,
           any_value(n_members) AS n_members
    FROM (
      SELECT vec_id, unnest(range(len(v))) AS pos, unnest(v) AS val FROM e
    ) x JOIN a2 USING (vec_id) JOIN sizes ON a2.cluster = sizes.cluster
    GROUP BY a2.cluster, pos
    """,
)
def q_llm_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (Lloyd's) over the embedding corpus: deterministic init (the
    K lowest vec_ids), 2 iterations, long-form final centroids + cluster
    sizes (extra, beyond §2.B10) — the REAL coarse-quantizer trainer for
    the IVF path (q_llm_ivf_search currently routes on the fixture label;
    this trains such an assignment from raw vectors).

    100 TB plan: each iteration is one map-side assignment pass (centroids
    are k × dim doubles — ALWAYS driver-bounded, inlined as literals: the
    broadcast-centroids step every distributed k-means uses) plus one
    partial+final (cluster, pos) average — one skinny shuffle per
    iteration, O(n·k·dim) compute all inside whole-stage codegen, no UDF.
    The iteration count is a fixed hyperparameter (2 here, so the DuckDB
    oracle can unroll it exactly); convergence-driven stopping adds the
    same per-round bounded collect q_llm_dup_clusters already uses.
    Tie-breaks are exact on both engines: argmin by (d2, cluster) struct
    ordering, identical index-order distance folds.
    """
    return kmeans_iterate(spark, sf_dir, _KMEANS_ITERS)


@query(
    "q_llm_knn_classify",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings WHERE {nz_sql()}),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
    scored AS (
      SELECT q.qid, e.vec_id, e.label,
             round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim,
             row_number() OVER (PARTITION BY q.qid
                                ORDER BY round(list_cosine_similarity(e.v, q.qv), 6)
                                         DESC, e.vec_id) AS rnk
      FROM q JOIN e ON e.vec_id <> q.qid
    ),
    votes AS (
      SELECT qid, label, count(*) AS n_votes
      FROM scored WHERE rnk <= 5 GROUP BY qid, label
    )
    SELECT vec_id, predicted_label, n_votes FROM (
      SELECT qid AS vec_id, label AS predicted_label, n_votes,
             row_number() OVER (PARTITION BY qid
                                ORDER BY n_votes DESC, label) AS rn
      FROM votes) x WHERE rn = 1
    """,
)
def q_llm_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch 5-NN majority-vote label prediction for a 20-vector probe
    batch (extra, beyond §2.B10) — the label-propagation primitive behind
    classifier-based quality filtering (fastText-style: label a small seed
    set, kNN-classify the corpus).

    100 TB plan: the probe batch BROADCASTS against the corpus scan
    (probe × corpus is a map-side nested loop over a bounded broadcast
    side — the same shape as q_llm_knn_query, batched); per-query top-5 is
    a rank window partitioned by the probe id (bounded partitions), and
    the vote is a tiny two-level aggregate. Corpus is scanned exactly
    once regardless of batch size. Tie-break: most votes, then lowest
    label — Spark via min_by on a (-votes, label) struct, the oracle via
    an equivalent rank window (DuckDB's min_by lacks struct ordering).
    Zero vectors are rejected at the scan (nonzero/nz_sql, see l2) —
    both the probe batch and the corpus read the enforced scan.
    """
    e = nonzero(load_table(spark, sf_dir, "embeddings"))
    # raw float projections: the cast-in-lambda kernels widen per element,
    # so no double copy of the corpus materializes per probe row
    qside = (
        e.filter(F.col("vec_id") < 20)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    )
    corpus = e.select("vec_id", "label", F.col("embedding").alias("v"))
    scored = (
        F.broadcast(qside)
        .join(corpus, F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "label",
            F.round(dot("v", "qv") / (l2("v") * l2("qv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), "vec_id")
    votes = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .groupBy("qid", "label")
        .agg(F.count("*").alias("n_votes"))
    )
    return votes.groupBy(F.col("qid").alias("vec_id")).agg(
        F.min_by(
            "label", F.struct((-F.col("n_votes")).alias("neg"), F.col("label"))
        ).alias("predicted_label"),
        F.max("n_votes").alias("n_votes"),
    )


# Johnson-Lindenstrauss sign-matrix parameters for q_llm_random_projection:
# entry (i, j) of the 64x8 projection is +-1 from a deterministic integer
# mix both engines compute identically in exact BIGINT arithmetic.
_RP_OUT_DIMS = 8
_RP_SIGN = "((({i}) * 2654435761 + {j} * 40503) % 7919) % 2 = 0"


@query(
    "q_llm_random_projection",
    oracle="""
    SELECT vec_id, """
    + ", ".join(
        "round(list_sum(list_transform(range(1, len(embedding) + 1), "
        f"i -> CAST(embedding[i] AS DOUBLE) * CASE WHEN {_RP_SIGN.format(i='i - 1', j=j)} "
        f"THEN 1 ELSE -1 END)), 6) AS p{j}"
        for j in range(_RP_OUT_DIMS)
    )
    + """
    FROM embeddings
    """,
)
def q_llm_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection (Johnson-Lindenstrauss) dimensionality reduction:
    64-dim embeddings -> 8 dims through a deterministic +-1 sign matrix,
    p_j = sum_i v_i * sign(i, j).

    The sign matrix is never materialized: each output dim is a conditional
    sum over the posexploded (vec_id, i, v_i) rows, all 8 computed in ONE
    partial+final aggregation pass (map-side combine on vec_id, whole-stage
    codegen, no UDF, no matrix join). The mix is demo-grade (linear
    congruential parity), swap for xxhash64 signs when cross-engine oracle
    parity is not required.

    100 TB plan: one shuffle on vec_id (uniform key); input is 64 rows per
    vector from posexplode, output is 1 row per vector — the aggregation
    reduces 64:1 map-side. Embeddings never leave the JVM.
    """
    e = load_table(spark, sf_dir, "embeddings")
    exploded = e.select(
        "vec_id", F.posexplode("embedding").alias("i", "v")
    )
    sums = [
        F.round(
            F.sum(
                F.col("v").cast("double")
                * F.when(F.expr(_RP_SIGN.format(i="i", j=j)), 1).otherwise(-1)
            ),
            6,
        ).alias(f"p{j}")
        for j in range(_RP_OUT_DIMS)
    ]
    return exploded.groupBy("vec_id").agg(*sums)


@query(
    "q_llm_hard_negatives",
    oracle=f"""
    WITH p AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neg_id, b.label AS neg_label,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 6) AS cos_sim
      FROM embeddings a JOIN embeddings b
        ON a.label <> b.label AND a.vec_id < 50
      WHERE {nz_sql('a.embedding')} AND {nz_sql('b.embedding')}
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cos_sim DESC, neg_id) AS rk
      FROM p
    )
    SELECT vec_id, neg_id, neg_label, cos_sim FROM ranked WHERE rk = 1
    """,
)
def q_llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for each of
    the first 50 anchor vectors, the single most-similar vector with a
    DIFFERENT label — the pairs that carry the most gradient signal in
    triplet/InfoNCE losses.

    100 TB plan: the anchor slice is query-sized and BROADCASTS; the corpus
    side streams map-side through the cosine + per-anchor top-1 (the
    window prunes to rank 1 via WindowGroupLimit). At full-corpus anchor
    counts this becomes the IVF/LSH candidate path of q_llm_ivf_search —
    mine negatives only among same-cluster candidates — which trades exact
    hardest-negative for probe-bounded work; the exact broadcast form is
    the oracle-checkable fixture-scale twin. Zero vectors are rejected at
    the scan on both sides (nonzero/nz_sql, see l2).
    """
    e = nonzero(load_table(spark, sf_dir, "embeddings"))
    # raw float projections (cast happens inside the dot/l2 lambdas)
    anchors = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("av"),
    )
    corpus = e.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("nv"),
    )
    scored = (
        F.broadcast(anchors)
        .join(corpus, F.col("a_label") != F.col("neg_label"))
        .select(
            F.col("a_id").alias("vec_id"),
            "neg_id",
            "neg_label",
            F.round(dot("av", "nv") / (l2("av") * l2("nv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), "neg_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


# --- q_llm_ann_recall: deterministic sign-projection LSH, exact-checked ---
#
# 4 tables x 3 bits of hyperplane signs derived from sha256("t:b:i") at
# import time (hashlib — pure, deterministic), embedded as LITERALS in both
# the Spark plan and the DuckDB oracle, so the bucket bits come out of
# bit-identical IEEE-double left-to-right folds on both engines and the
# LSH's recall itself sits under the exact-value gate. The cosine scores
# in the oracle are ALSO explicit left-associated sums (not DuckDB's
# list_cosine_similarity, whose summation order is unspecified): every
# float feeding the top-10 ranking is bit-identical across engines, so a
# score at a round(·, 6) boundary cannot flip set membership.

import hashlib as _hashlib

_ANN_TABLES = 4
# 3 bits/table: the fixture embeddings are near-random (query's true top-10
# sit at cos ~0.3, i.e. hyperplane collision p ~0.6 vs 0.5 for noise), so
# expected recall/table is p^k and k=4 over-prunes: 1-(1-p^k)^L gives
# ~0.43 recall at k=4 vs ~0.62 at k=3 for L=4, while still probing ~2/5
# of the corpus. On clustered real-world embeddings (p >= 0.8 for true
# neighbors) the same L x k would sit at ~0.97 recall.
_ANN_BITS = 3
_ANN_DIM = 64  # embeddings.embedding is FLOAT[64] at every shipped SF


def _ann_sign(t: int, b: int, i: int) -> float:
    h = _hashlib.sha256(f"{t}:{b}:{i}".encode()).hexdigest()
    return 1.0 if int(h[:8], 16) % 2 == 0 else -1.0


_ANN_SIGNS = {
    (t, b): [_ann_sign(t, b, i) for i in range(_ANN_DIM)]
    for t in range(_ANN_TABLES)
    for b in range(_ANN_BITS)
}


def _ann_oracle() -> str:
    def dot_sql(t: int, b: int) -> str:
        terms = " + ".join(
            f"emb[{i + 1}]*{s}" for i, s in enumerate(_ANN_SIGNS[(t, b)])
        )
        return f"(0 + {terms})"

    bit_cols = ", ".join(
        f"CASE WHEN {dot_sql(t, b)} >= 0 THEN 1 ELSE 0 END AS bit_{t}_{b}"
        for t in range(_ANN_TABLES)
        for b in range(_ANN_BITS)
    )
    bucket_cols = ", ".join(
        "("
        + " + ".join(f"{1 << b}*bit_{t}_{b}" for b in range(_ANN_BITS))
        + f") AS bk{t}"
        for t in range(_ANN_TABLES)
    )
    any_match = " OR ".join(f"c.bk{t} = q.bk{t}" for t in range(_ANN_TABLES))

    def pair_sum(xa: str, xb: str) -> str:
        # left-associated, same IEEE fold order as the Spark dot() helper
        terms = " + ".join(
            f"{xa}[{i + 1}]*{xb}[{i + 1}]" for i in range(_ANN_DIM)
        )
        return f"(0 + {terms})"

    def cos_sql(x: str) -> str:
        return (
            f"round({pair_sum(x, 'q.emb')} / "
            f"(sqrt({pair_sum(x, x)}) * sqrt({pair_sum('q.emb', 'q.emb')})), 6)"
        )

    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
      WHERE {nz_sql()}
    ), bits AS (
      SELECT vec_id, emb, {bit_cols} FROM e
    ), bk AS (
      SELECT vec_id, emb, {bucket_cols} FROM bits
    ), q AS (
      SELECT * FROM bk WHERE vec_id = 0
    ), cand AS (
      SELECT c.vec_id, c.emb FROM bk c, q
      WHERE c.vec_id != 0 AND ({any_match})
    ), csim AS (
      SELECT c.vec_id, {cos_sql('c.emb')} AS cos_sim
      FROM cand c, q
    ), ann10 AS (
      SELECT vec_id FROM csim ORDER BY cos_sim DESC, vec_id LIMIT 10
    ), esim AS (
      SELECT x.vec_id, {cos_sql('x.emb')} AS cos_sim
      FROM bk x, q WHERE x.vec_id != 0
    ), ex10 AS (
      SELECT vec_id FROM esim ORDER BY cos_sim DESC, vec_id LIMIT 10
    )
    SELECT (SELECT count(*) FROM cand) AS n_candidates,
           (SELECT count(*) FROM ann10 JOIN ex10 USING (vec_id)) AS n_hits,
           round((SELECT count(*) FROM ann10 JOIN ex10 USING (vec_id))::DOUBLE
                 / 10, 6) AS recall
    """


@query("q_llm_ann_recall", oracle=_ann_oracle())
def q_llm_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible ANN QUALITY gate: recall@10 of a deterministic
    4-table x 3-bit sign-projection LSH against brute-force cosine top-10
    for the vec_id=0 query — exact-checked on both engines (the trick that
    makes q_llm_ann_lsh's engine-private buckets rows-only does not apply:
    the hyperplanes here are sha256-derived literals shared with the SQL
    oracle, and every bucket bit AND cosine score is a bit-identical
    sequential double fold, so the ranked top-10 sets cannot diverge).

    100 TB plan: bucket bits are map-only per vector; candidate probe is a
    broadcast of the 1-row query's 4 bucket ids; only the matched buckets
    (~L/2^k of the corpus per table) are scored. The brute-force top-10 is
    the fixture-scale denominator — production estimates recall on a
    sampled query set the same way. Zero vectors are rejected at the scan
    (nonzero/nz_sql, see l2); if the QUERY vector itself is zero, both
    engines degrade identically to the 1-row (0, 0, 0.0) report (the
    filtered query side is empty — no division is ever reached).
    """
    e = nonzero(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", as_double("embedding").alias("emb")
    )
    # pinned: this IS the materialized LSH index (vectors + bucket ids,
    # what production stores once per corpus snapshot); unpinned, the
    # query/candidate/exact branches each re-scan + re-hash the corpus
    # (6 static scans measured before the pin)
    buckets = e.select(
        "vec_id",
        "emb",
        *[
            sum(
                (
                    (dot("emb", F.array(*[F.lit(s) for s in _ANN_SIGNS[(t, b)]]))
                     >= 0).cast("int")
                    * (1 << b)
                )
                for b in range(_ANN_BITS)
            ).alias(f"bk{t}")
            for t in range(_ANN_TABLES)
        ],
    ).localCheckpoint(eager=False)
    q = buckets.filter(F.col("vec_id") == 0).select(
        F.col("emb").alias("qemb"),
        *[F.col(f"bk{t}").alias(f"qbk{t}") for t in range(_ANN_TABLES)],
    )
    rest = buckets.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    cos = F.round(
        dot("emb", "qemb") / (l2("emb") * l2("qemb")), 6
    ).alias("cos_sim")
    any_match = None
    for t in range(_ANN_TABLES):
        m = F.col(f"bk{t}") == F.col(f"qbk{t}")
        any_match = m if any_match is None else (any_match | m)
    cand = rest.filter(any_match).select("vec_id", cos)
    ann10 = cand.orderBy(F.desc("cos_sim"), "vec_id").limit(10).select("vec_id")
    ex10 = (
        rest.select("vec_id", cos)
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    n_hits = ann10.join(ex10, "vec_id").agg(F.count("*").alias("n_hits"))
    return n_cand.crossJoin(n_hits).select(
        "n_candidates",
        "n_hits",
        F.round(F.col("n_hits").cast("double") / 10, 6).alias("recall"),
    )


_MRL_PREFIX = 16  # truncation dims for the Matryoshka recall gate


def _mrl_pair_sum(xa: str, xb: str, dims: int) -> str:
    # left-associated, same IEEE fold order as the Spark dot() helper
    terms = " + ".join(f"{xa}[{i + 1}]*{xb}[{i + 1}]" for i in range(dims))
    return f"(0 + {terms})"


def _mrl_oracle() -> str:
    def cos(xa: str, xb: str, dims: int) -> str:
        return (
            f"round({_mrl_pair_sum(xa, xb, dims)} / "
            f"(sqrt({_mrl_pair_sum(xa, xa, dims)}) * "
            f"sqrt({_mrl_pair_sum(xb, xb, dims)})), 6)"
        )

    p = _MRL_PREFIX
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
      WHERE {nz_sql()}
    ), q AS (
      SELECT emb AS qemb FROM e WHERE vec_id = 0
    ), r AS (
      SELECT e.vec_id, e.emb, q.qemb FROM e, q WHERE e.vec_id != 0
    ), ex10 AS (
      SELECT vec_id FROM (
        SELECT vec_id, {cos('emb', 'qemb', _ANN_DIM)} AS cos_sim FROM r)
      ORDER BY cos_sim DESC, vec_id LIMIT 10
    ), pre AS (
      SELECT vec_id, emb, qemb FROM r
      WHERE {_mrl_pair_sum('emb', 'emb', p)} <> 0
        AND {_mrl_pair_sum('qemb', 'qemb', p)} <> 0
    ), pre10 AS (
      SELECT vec_id FROM (
        SELECT vec_id, {cos('emb', 'qemb', p)} AS cos_sim FROM pre)
      ORDER BY cos_sim DESC, vec_id LIMIT 10
    )
    SELECT (SELECT count(*) FROM pre) AS n_prefix_ranked,
           (SELECT count(*) FROM pre10 JOIN ex10 USING (vec_id)) AS n_hits,
           round((SELECT count(*) FROM pre10 JOIN ex10 USING (vec_id))::DOUBLE
                 / 10, 6) AS recall
    """


@query("q_llm_matryoshka_recall", oracle=_mrl_oracle())
def q_llm_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation retrieval gate (extra, beyond §2.B10): recall@10
    of ranking by the first {_MRL_PREFIX}-of-{_ANN_DIM} dims' cosine
    against full-dimension cosine for the vec_id=0 query — the quality
    check behind Matryoshka-style embeddings, where serving truncates
    stored vectors to a prefix to cut ANN index memory dims/64-fold and
    needs the retained-recall number before committing to it.

    Mechanics mirror q_llm_ann_recall's exact-checked recall shape: both
    rankings read ONE contract-enforced scan (nonzero/nz_sql), the query
    row joins in as a broadcast (no collect — an absent or all-zero query
    degrades to the 1-row (0, 0, 0.0) report identically on both engines),
    and every cosine is a bit-identical sequential double fold (Spark's
    left fold == the oracle's left-associated sum), so the ranked top-10
    sets cannot diverge at equal inputs; ties break on vec_id. Candidates
    whose PREFIX is all-zero (possible for a nonzero full vector) cannot
    be prefix-ranked and are excluded from the truncated ranking on both
    engines before any division — same for a prefix-zero query, which
    empties the truncated ranking and reports recall 0.

    100 TB plan: ONE corpus pass computes BOTH similarities map-side
    against the broadcast 1-row query, projecting down to a skinny
    (vec_id, cos_full, cos_pre) row that is pinned with a lazy
    localCheckpoint — the q_cdc_merge shared-subtree pattern — so the
    four consumers (two rankings, two counts) never rescan the corpus;
    the prefix-zero guard is a CASE branch (NULL = not prefix-rankable),
    which under Spark 4's ANSI mode is the only safe way to divide on a
    filtered subset inside a shared projection. Each top-10 is
    TakeOrderedAndProject (limit before any window), so only k rows reach
    a single task. The full-dim ranking is the fixture-scale denominator —
    production estimates truncation recall on a sampled query set the
    same way, against the ANN index rather than brute force.
    """
    e = nonzero(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", as_double("embedding").alias("emb")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qemb"))
    rest = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "emb",
            "qemb",
            F.slice("emb", 1, _MRL_PREFIX).alias("pemb"),
            F.slice("qemb", 1, _MRL_PREFIX).alias("pq"),
        )
    )
    scored = rest.select(
        "vec_id",
        F.round(dot("emb", "qemb") / (l2("emb") * l2("qemb")), 6).alias(
            "cos_full"
        ),
        F.when(
            (dot("pemb", "pemb") != 0.0) & (dot("pq", "pq") != 0.0),
            F.round(dot("pemb", "pq") / (l2("pemb") * l2("pq")), 6),
        ).alias("cos_pre"),
    ).localCheckpoint(eager=False)
    ex10 = (
        scored.orderBy(F.desc("cos_full"), "vec_id").limit(10).select("vec_id")
    )
    pre = scored.filter(F.col("cos_pre").isNotNull())
    pre10 = (
        pre.orderBy(F.desc("cos_pre"), "vec_id").limit(10).select("vec_id")
    )
    n_pre = pre.agg(F.count("*").alias("n_prefix_ranked"))
    n_hits = pre10.join(ex10, "vec_id").agg(F.count("*").alias("n_hits"))
    return n_pre.crossJoin(n_hits).select(
        "n_prefix_ranked",
        "n_hits",
        F.round(F.col("n_hits").cast("double") / 10, 6).alias("recall"),
    )


@query(
    "q_llm_dim_stats",
    oracle="""
    WITH x AS (
      SELECT unnest(range(len(embedding))) AS pos,
             unnest(embedding::DOUBLE[]) AS val
      FROM embeddings
    ), sums AS (
      SELECT CAST(pos AS BIGINT) AS pos,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(val AS DECIMAL(28,12))) AS DOUBLE) AS s1,
             CAST(sum(CAST(val * val AS DECIMAL(28,12))) AS DOUBLE) AS s2,
             min(val) AS mn, max(val) AS mx
      FROM x GROUP BY pos
    ), derived AS (
      SELECT *, greatest(s2 / n - (s1 / n) * (s1 / n), 0) AS var
      FROM sums
    )
    SELECT pos, n,
           round(s1 / n, 6) AS mean,
           round(sqrt(var), 6) AS std,
           round(mn, 6) AS min_val,
           round(mx, 6) AS max_val,
           (var <= 0.000000000001) AS collapsed
    FROM derived
    """,
)
def q_llm_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health profile (extra, beyond §2.B10): for
    each of the 64 dimensions, the count, mean, population std, min/max,
    and a collapsed flag (variance <= 1e-12) — the audit run before
    trusting an embedding column: a dead/collapsed dimension means the
    encoder under-utilizes capacity (or a pipeline bug zeroed a slice),
    and heavily off-center means (|mean| >> std) signal the anisotropy
    the companion q_llm_anisotropy key quantifies. Scans ALL vectors
    (zero vectors included — column stats must see them; no division by
    any norm happens here).

    Exactness: per-row terms (val, val*val) are identical doubles on
    both engines (raw parquet values, shared expression text); each is
    cast to DECIMAL(28,12) BEFORE the cross-row sum, so the per-dim sums
    are exact decimal arithmetic — order-independent at any parallelism
    (the q_llm_kl_divergence / q_diag_column_entropy technique). All
    downstream math (mean, raw-moment variance with a greatest(.,0)
    clamp — the q_agg_corr form) is single-op double arithmetic on those
    exact sums.

    100 TB plan: posexplode → partial+final agg on pos — 64 groups, never
    skewed, map-side combine absorbs the 64x row explosion (measured at
    1000x rows on the same shape: q_llm_centroids factor 2.15, SCALE.md).
    Output is always exactly dim rows.
    """
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(F.posexplode(as_double("embedding")).alias("pos", "val"))
    dec = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    agg = x.groupBy(F.col("pos").cast("long").alias("pos")).agg(
        F.count("*").alias("n"),
        F.sum(dec(F.col("val"))).alias("s1"),
        F.sum(dec(F.col("val") * F.col("val"))).alias("s2"),
        F.min("val").alias("mn"),
        F.max("val").alias("mx"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.greatest(
        F.col("s2").cast("double") / F.col("n") - mean * mean, F.lit(0.0)
    )
    return agg.select(
        "pos",
        "n",
        F.round(mean, 6).alias("mean"),
        F.round(F.sqrt(var), 6).alias("std"),
        F.round("mn", 6).alias("min_val"),
        F.round("mx", 6).alias("max_val"),
        (var <= 1e-12).alias("collapsed"),
    )


def _aniso_oracle() -> str:
    p = _mrl_pair_sum
    d = _ANN_DIM
    return f"""
    WITH e AS (
      SELECT embedding::DOUBLE[] AS emb FROM embeddings WHERE {nz_sql()}
    ), u AS (
      SELECT emb, sqrt({p('emb', 'emb', d)}) AS nrm FROM e
    ), comp AS (
      SELECT unnest(range(len(emb))) AS pos, unnest(emb) AS val, nrm FROM u
    ), s AS (
      SELECT pos,
             sum(CAST(val / nrm AS DECIMAL(28,12))) AS s_d,
             sum(CAST((val / nrm) * (val / nrm) AS DECIMAL(28,12))) AS q_d,
             CAST(count(*) AS BIGINT) AS cnt
      FROM comp GROUP BY pos
    ), fin AS (
      SELECT sum(CAST(CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE)
                      AS DECIMAL(28,12))) AS ssq,
             sum(q_d) AS dg,
             CAST(coalesce(sum(CASE WHEN pos = 0 THEN cnt ELSE 0 END), 0)
                  AS BIGINT) AS n
      FROM s
    )
    SELECT n AS n_vectors,
           round(CAST(ssq AS DOUBLE), 6) AS centroid_norm_sq,
           round((CAST(ssq AS DOUBLE) - CAST(dg AS DOUBLE))
                 / NULLIF(CAST(n AS DOUBLE) * (n - 1), 0), 6)
             AS avg_pairwise_cos
    FROM fin
    """


@query("q_llm_anisotropy", oracle=_aniso_oracle())
def q_llm_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level embedding anisotropy (extra, beyond §2.B10): the mean
    pairwise cosine over ALL distinct vector pairs, computed WITHOUT the
    pair join via the normalized-sum identity
    avg_cos = (||SUM v_hat||^2 - SUM ||v_hat||^2) / (n(n-1)) — the
    "narrow cone" diagnostic (Ethayarajh 2019): contextual embedding
    spaces whose random pairs average cosine >> 0 waste representational
    capacity and degrade cosine retrieval, and this one number is the
    standard before/after check for whitening or mean-centering a corpus
    of embeddings. Also reports ||SUM v_hat||^2 (the un-normalized
    centroid energy) and n.

    Exactness: normalization is SCALAR division by a per-row norm
    column (sqrt of the left-associated fold — bit-identical on both
    engines per the matryoshka/ann contract), never an array-transform
    lambda (an in-lambda division gets hoisted by whole-stage codegen's
    eager subexpression elimination and evaluated on rows the nonzero
    filter rejects, re-raising the ANSI DIVIDE_BY_ZERO the scan
    contract exists to prevent — measured, this round). Every cross-row
    sum casts its per-row double term to DECIMAL(28,12) first, so the
    per-dim sums, the per-dim squared-component sums (whose 64-row
    total is the diagonal), and the 64-term squared-sum are all exact
    decimal arithmetic — order-independent at any parallelism. Zero
    vectors cannot be normalized and are rejected at the scan
    (nonzero/nz_sql, the r7 cosine-family contract); n <= 1 leaves no
    pairs, so the NULLIF'd denominator yields NULL identically on both
    engines (n counts the pos=0 group, COALESCEd to 0 on an empty
    scan).

    100 TB plan: ONE corpus scan (verified in the executed plan — the
    diagonal and the count both derive from the same per-dim
    aggregation rather than a second pass) normalizes map-side and
    feeds a single 64-group partial+final agg (the q_llm_centroids
    shape, measured sub-linear at 1000x); all remaining math runs on
    the 64-row result. No pair join ever exists; the identity replaces
    O(n^2) work with one pass. DECIMAL(28,12) leaves 16 integer digits:
    the sums stay in range past 10^15 unit vectors.
    """
    e = nonzero(load_table(spark, sf_dir, "embeddings")).select(
        as_double("embedding").alias("emb")
    )
    u = e.select("emb", l2("emb").alias("nrm"))
    comp = u.select("nrm", F.posexplode("emb").alias("pos", "val"))
    uval = F.col("val") / F.col("nrm")
    s = comp.groupBy("pos").agg(
        F.sum(uval.cast("decimal(28,12)")).alias("s_d"),
        F.sum((uval * uval).cast("decimal(28,12)")).alias("q_d"),
        F.count("*").alias("cnt"),
    )
    fin = s.agg(
        F.sum(
            (F.col("s_d").cast("double") * F.col("s_d").cast("double")).cast(
                "decimal(28,12)"
            )
        ).alias("ssq"),
        F.sum("q_d").alias("dg"),
        F.coalesce(
            F.sum(F.when(F.col("pos") == 0, F.col("cnt")).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("n"),
    )
    ssq_d = F.col("ssq").cast("double")
    return fin.select(
        F.col("n").alias("n_vectors"),
        F.round(ssq_d, 6).alias("centroid_norm_sq"),
        F.round(
            (ssq_d - F.col("dg").cast("double"))
            / F.nullif(
                F.col("n").cast("double") * (F.col("n") - 1), F.lit(0.0)
            ),
            6,
        ).alias("avg_pairwise_cos"),
    )


@query(
    "q_llm_embedding_coverage",
    oracle="""
    SELECT count(d.doc_id) AS n_docs,
           count(e.vec_id) AS n_vecs,
           count(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL
                      THEN 1 END) AS n_matched,
           count(CASE WHEN e.vec_id IS NULL THEN 1 END) AS n_unembedded,
           count(CASE WHEN d.doc_id IS NULL THEN 1 END) AS n_orphan_vecs,
           round(count(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL
                            THEN 1 END)::DOUBLE
                 / count(d.doc_id), 6) AS coverage
    FROM documents d FULL OUTER JOIN embeddings e ON e.vec_id = d.doc_id
    """,
)
def q_llm_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal-alignment audit: which documents have an embedding row
    (vec_id keyed to doc_id) and which vectors are orphans. The
    referential-integrity check every embedding-dependent stage (ANN,
    semantic prune, hard negatives) silently assumes — here it is a
    measured, driver-checked number instead (at sf0.1 the fixture itself
    is 40% covered: 5,000 docs, 2,000 vectors).

    100 TB plan: one full-outer SMJ on the id key (both sides uniform),
    counting only — no payload columns move, and the count aggregate is
    partial map-side. Run it before the expensive embedding consumers.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id")
    j = d.join(e, d.doc_id == e.vec_id, "full_outer")
    matched = F.count(
        F.when(F.col("doc_id").isNotNull() & F.col("vec_id").isNotNull(), 1)
    )
    return j.agg(
        F.count("doc_id").alias("n_docs"),
        F.count("vec_id").alias("n_vecs"),
        matched.alias("n_matched"),
        F.count(F.when(F.col("vec_id").isNull(), 1)).alias("n_unembedded"),
        F.count(F.when(F.col("doc_id").isNull(), 1)).alias("n_orphan_vecs"),
        F.round(matched.cast("double") / F.count("doc_id"), 6).alias("coverage"),
    )


# --- Product quantization (ADC) -------------------------------------------
# The memory-compression tier of the ANN family: vectors are stored as M=8
# 4-bit codeword ids (16-entry codebook per 8-dim subspace) — 4 bytes per
# vector vs 256 raw, the layout that lets a 100 TB embedding corpus fit an
# in-memory serving tier. Codebooks here are DETERMINISTIC seed vectors
# (the 16 lowest non-query vec_ids' subvectors) so the whole pipeline is
# exactly reproducible in SQL; a production build trains them with the
# Lloyd's iterator already shipped as q_llm_kmeans (same assign/update
# algebra, per subspace).
_PQ_M = 8  # subspaces
_PQ_SUB = 8  # dims per subspace (8*8 = 64 = _ANN_DIM)
_PQ_K = 16  # codewords per subspace (4-bit codes)


def _pq_subdist_sql(a: str, b: str) -> str:
    """Squared L2 between subvectors m of a and b: left-associated fold,
    identical IEEE op sequence to the Spark F.aggregate fold."""
    terms = " + ".join(
        f"({a}[m*{_PQ_SUB} + {j}] - {b}[m*{_PQ_SUB} + {j}])"
        f" * ({a}[m*{_PQ_SUB} + {j}] - {b}[m*{_PQ_SUB} + {j}])"
        for j in range(1, _PQ_SUB + 1)
    )
    return f"(0 + {terms})"


def _pq_fulldist_sql(a: str, b: str) -> str:
    terms = " + ".join(
        f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])"
        for i in range(1, _PQ_M * _PQ_SUB + 1)
    )
    return f"(0 + {terms})"


def _pq_subdist_col(a: str, b: str) -> Column:
    """Squared L2 between the m-th subvectors of array columns a and b —
    the Spark twin of _pq_subdist_sql (same left-associated IEEE fold).
    slice(col, m*8+1, 8): the m-th subvector; reads the bound column m."""
    sa = F.slice(F.col(a), F.col("m") * _PQ_SUB + 1, _PQ_SUB)
    sb = F.slice(F.col(b), F.col("m") * _PQ_SUB + 1, _PQ_SUB)
    return F.aggregate(
        F.zip_with(sa, sb, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_encode_kernel(cb_np):
    """Arrow encode-kernel factory: batches of (vec_id, emb) → (vec_id,
    m, c) integer code rows, argmin over the closed-over (16, 64)
    codebook.

    Exactness argument (the char_entropy-style split, adapted for the
    FLOAT caveat SCALE.md r11 documented): the kernel emits INTEGER code
    ids only, and the float work it does to pick them uses nothing but
    IEEE-754 basic ops (subtract, multiply, add) — each correctly
    rounded and therefore bit-identical across numpy, the JVM, and
    DuckDB — applied in the ORACLE'S exact fold order: the explicit
    k-loop below accumulates d = t0 + t1 + ... left-associated, matching
    _pq_subdist_sql's ``(0 + t1 + ... + t8)`` (0 + t0 == t0 exactly).
    numpy's np.sum is deliberately NOT used (its pairwise base case
    regroups additions). Ties break via np.argmin's first-minimum rule ==
    the oracle's ORDER BY d, c / min(struct(d, c)) lexicographic rule.
    No libm call ever runs in Python, so the r10 char_entropy
    non-promotion hazard (1-ulp transcendental drift flipping a decimal
    round) is structurally absent, not waived.
    """

    def encode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["emb"].to_numpy()).astype(np.float64, copy=False)
            n = X.shape[0]
            codes = np.empty((n, _PQ_M), dtype=np.int32)
            for m in range(_PQ_M):
                Xm = X[:, m * _PQ_SUB:(m + 1) * _PQ_SUB]
                Cm = cb_np[:, m * _PQ_SUB:(m + 1) * _PQ_SUB]
                t = Xm[:, None, 0] - Cm[None, :, 0]
                d = t * t
                for k in range(1, _PQ_SUB):
                    t = Xm[:, None, k] - Cm[None, :, k]
                    d = d + t * t
                codes[:, m] = np.argmin(d, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(
                        pdf["vec_id"].to_numpy(np.int64), _PQ_M
                    ),
                    "m": np.tile(
                        np.arange(_PQ_M, dtype=np.int32), n
                    ),
                    "c": codes.reshape(-1),
                }
            )

    return encode


def _pq_codes_arrow(e: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, m, c) PQ codes for the non-query corpus via the Arrow
    kernel. cb is the pinned 16-row codebook; collecting it is a bounded
    16×64-double fetch (house collect policy: codebooks/centroids only).
    The kernel input is pinned to (vec_id, emb) — nothing else crosses
    Arrow (tests/test_plan_shape.py).

    The collect runs at CONSTRUCTION time (the kernel closure needs the
    codebook values): one Spark job per construction, which a plan-only
    consumer (audit_plans, the plan-shape tests) pays too."""
    import numpy as np

    cb_np = np.array(
        [r["cemb"] for r in sorted(cb.collect(), key=lambda r: r["c"])],
        dtype=np.float64,
    )
    return (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", "emb")
        .mapInPandas(
            _pq_encode_kernel(cb_np), schema="vec_id bigint, m int, c int"
        )
    )


def _pq_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), cb AS (
      SELECT vec_id - 1 AS c, emb AS cemb FROM e
      WHERE vec_id BETWEEN 1 AND {_PQ_K}
    ), grid AS (
      SELECT unnest(range({_PQ_M})) AS m
    ), dists AS (
      SELECT v.vec_id, g.m, cb.c,
             {_pq_subdist_sql('v.emb', 'cb.cemb')} AS d
      FROM e v CROSS JOIN grid g CROSS JOIN cb
      WHERE v.vec_id != 0
    ), codes AS (
      SELECT vec_id, m, c FROM (
        SELECT vec_id, m, c,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c)
                 AS rn
        FROM dists
      ) WHERE rn = 1
    ), q AS (
      SELECT emb AS qemb FROM e WHERE vec_id = 0
    ), lut AS (
      SELECT g.m, cb.c, {_pq_subdist_sql('q.qemb', 'cb.cemb')} AS dq
      FROM q CROSS JOIN grid g CROSS JOIN cb
    ), adc AS (
      SELECT codes.vec_id,
             round(CAST(sum(CAST(lut.dq AS DECIMAL(28,12))) AS DOUBLE), 6)
               AS adc_dist
      FROM codes JOIN lut USING (m, c)
      GROUP BY codes.vec_id
    ), adc10 AS (
      SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 10
    ), ex AS (
      SELECT v.vec_id, {_pq_fulldist_sql('v.emb', 'q.qemb')} AS d
      FROM e v CROSS JOIN q WHERE v.vec_id != 0
    ), ex10 AS (
      SELECT vec_id FROM ex ORDER BY d, vec_id LIMIT 10
    ), hits AS (
      SELECT count(*)::BIGINT AS n_hits
      FROM adc10 JOIN ex10 USING (vec_id)
    )
    SELECT row_number() OVER (ORDER BY adc_dist, vec_id) AS rnk,
           vec_id, adc_dist,
           round(n_hits::DOUBLE / 10, 6) AS recall
    FROM adc10 CROSS JOIN hits
    """


@query("q_llm_pq_adc", oracle=_pq_oracle())
def q_llm_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation:
    encode every vector as 8 four-bit codeword ids (64x smaller than the
    raw floats), answer the vec_id=0 query from a broadcast 128-entry
    query-to-codeword lookup table, and report the ADC top-10 plus its
    recall@10 against the exact L2 top-10 — the quality gate in the same
    row set.

    Measured recall@10 is ~0.1-0.2 on the fixture — same cause as the
    _ANN_BITS note above: fixture embeddings are near-random, so the
    true top-10's distance margin over noise (~1.03 vs ~1.2 squared-L2)
    is smaller than the quantization error of 16 seed codewords; on
    clustered real-world embeddings (margin >> cell size) trained PQ
    sits at 0.8-0.95 recall at this code budget. The key's contract is
    the exact-checked PIPELINE + honest in-query recall, not fixture
    recall itself.

    Exactness: codebooks are deterministic data rows (vec_ids 1..16), all
    subspace/full distances are left-associated IEEE folds with the same
    op sequence both engines, argmin ties break on codeword id, and the
    8-term ADC sum folds in DECIMAL(28,12) so aggregation order cannot
    move it. The rank column materializes the output order.

    100 TB plan: encoding is MAP-ONLY — an Arrow kernel per scan batch
    against the closed-over 16-row codebook (the raw corpus never
    shuffles; the kernel emits n·8 skinny integer code rows); serving
    touches only those codes plus the broadcast 128-entry LUT, and the
    decimal fold is a partial-aggregable groupBy on vec_id. The exact-L2
    denominator is the documented fixture-scale brute force (production
    samples queries, as q_llm_ann_recall does).
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    # pin the 16-row codebook and 1-row query (each feeds two branches;
    # unpinned, every reference re-scans the corpus for a point lookup)
    cb = (
        e.filter(F.col("vec_id").between(1, _PQ_K))
        .select((F.col("vec_id") - 1).alias("c"), F.col("emb").alias("cemb"))
        .localCheckpoint(eager=False)
    )
    grid = spark.range(1).select(
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("m")
    )

    # ENCODE (r12 Arrow promotion, measured — SCALE.md, "Round 12 runs"):
    # the encode argmin is a numpy kernel over (vec_id, emb) emitting
    # INTEGER code ids only (see _pq_encode_kernel for the IEEE
    # bit-exactness argument — basic ops in the oracle's fold order, no
    # libm, ties by first-minimum). History of this stage, all measured:
    # r9-r10 ran a row_number window over n·8·16 distance rows (n·128
    # shuffle+sort — 1373.3 s at 20 M vectors, the record's worst
    # four-decade time); r11 rewrote it to min(struct(d, c))
    # partial-agg (exact, but the interpreted zip_with/aggregate HOF
    # still pays ~8·16 lambda evals per vector: 1553.3 s at 20 M
    # vectors, SCALE.md r12); the kernel vectorizes the same arithmetic
    # batch-wise — 131.5 s -> 2.77 s encode-only at 2 M vectors (47x,
    # SCALE.md "Round 12 runs", code sets identical on 16k + 1.6 M
    # rows) and 31.6 s for the FULL query at 20 M vectors (vs 1373.3 s
    # r11 / 1553.3 s min(struct)). A fully unrolled in-row JVM argmin
    # was also tried: its 1024-term expression breaks whole-stage
    # codegen (janino limits) — rejected on measurement in r11.
    codes = _pq_codes_arrow(e, cb)
    q = (
        e.filter(F.col("vec_id") == 0)
        .select(F.col("emb").alias("qemb"))
        .localCheckpoint(eager=False)
    )
    lut = (
        q.crossJoin(F.broadcast(grid))
        .crossJoin(F.broadcast(cb))
        .select("m", "c", _pq_subdist_col("qemb", "cemb").alias("dq"))
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "c"])
        .groupBy("vec_id")
        .agg(
            F.round(
                F.sum(F.col("dq").cast("decimal(28,12)")).cast("double"), 6
            ).alias("adc_dist")
        )
    )
    # pin the 10-row result: it feeds the hit count AND the final
    # projection — unpinned, the whole encode pipeline executes twice
    adc10 = (
        adc.orderBy("adc_dist", "vec_id").limit(10).localCheckpoint(eager=False)
    )
    ex10 = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(
                    F.col("emb"),
                    F.col("qemb"),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    hits = adc10.join(ex10, "vec_id").agg(F.count("*").alias("n_hits"))
    w_rnk = Window.orderBy("adc_dist", "vec_id")
    return (
        adc10.crossJoin(F.broadcast(hits))
        .select(
            F.row_number().over(w_rnk).alias("rnk"),
            "vec_id",
            "adc_dist",
            F.round(F.col("n_hits").cast("double") / 10, 6).alias("recall"),
        )
    )

"""Property-based oracle parity (SURVEY.md §5.5 stretch goal).

hypothesis generates random predicate/projection combinations over lineitem
and asserts Spark ≡ DuckDB on the result. Derandomized (fixed seed, fixed
example count) so the suite stays deterministic in CI.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from token_burn_listener_spark.tables import load_table

NUMERIC_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
OPS = ["<", "<=", ">", ">=", "=", "<>"]
FLAG_VALUES = ["A", "N", "R"]

predicate = st.one_of(
    st.tuples(
        st.sampled_from(NUMERIC_COLS),
        st.sampled_from(OPS),
        st.floats(min_value=0.0, max_value=60.0, allow_nan=False).map(
            lambda v: round(v, 2)
        ),
    ).map(lambda t: f"{t[0]} {t[1]} {t[2]}"),
    st.sampled_from(FLAG_VALUES).map(lambda v: f"l_returnflag = '{v}'"),
)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    return con


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(preds=st.lists(predicate, min_size=1, max_size=3), conj=st.booleans())
def test_random_filters_match_duckdb(spark, sf_dir, duck, preds, conj):
    glue = " AND " if conj else " OR "
    where = glue.join(preds)
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    spark_n = spark.sql(f"SELECT count(*) FROM lineitem WHERE {where}").collect()[0][0]
    duck_n = duck.execute(f"SELECT count(*) FROM lineitem WHERE {where}").fetchone()[0]
    assert spark_n == duck_n, where


# ---------------------------------------------------------------------------
# Connected components vs a union-find reference (the components kernel's
# only in-fixture oracle is a recursive CTE on ONE edge distribution; this
# exercises arbitrary random graphs, including the shapes that distribution
# never produces: long chains, self-loops, isolated vertices).
# ---------------------------------------------------------------------------

N_VERTICES = 16


def _union_find_min_labels(edges):
    parent = list(range(N_VERTICES))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots = {}
    for v in range(N_VERTICES):
        roots.setdefault(find(v), []).append(v)
    return {v: min(members) for members in roots.values() for v in members}


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(0, N_VERTICES - 1), st.integers(0, N_VERTICES - 1)
        ),
        max_size=24,
    )
)
def test_min_label_components_matches_union_find(spark, edges):
    from token_burn_listener_spark.llm.dedup import min_label_components

    nodes = spark.createDataFrame(
        [(v,) for v in range(N_VERTICES)], "vid long"
    )
    pairs = spark.createDataFrame(
        edges or [], "va long, vb long"
    )
    got = {
        r.vid: r.component_id
        for r in min_label_components(nodes, pairs, "vid").collect()
    }
    assert got == _union_find_min_labels(edges)


# --- bit-level kernels of the r4b storage/join operators -------------------
# The z-order interleave and the bloom bit probes are built as generated SQL
# expressions; these properties pin them against plain-Python references so
# an expression-generation slip (off-by-one shift, sign issue) can't pass
# silently just because the end-to-end key still returned plausible rows.


def _z_interleave_py(x: int, y: int) -> int:
    z = 0
    for k in range(16):
        z |= ((x >> k) & 1) << (2 * k)
        z |= ((y >> k) & 1) << (2 * k + 1)
    return z


@settings(max_examples=25, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(xy=st.lists(st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
                   min_size=1, max_size=8))
def test_zorder_interleave_expression_matches_python(spark, xy):
    from pyspark.sql import functions as F

    z_expr = " + ".join(
        f"(((xq >> {k}) & 1) << {2 * k}) + (((yq >> {k}) & 1) << {2 * k + 1})"
        for k in range(16)
    )
    df = spark.createDataFrame(xy, "xq: long, yq: long").withColumn(
        "z", F.expr(z_expr)
    )
    for r in df.collect():
        assert r.z == _z_interleave_py(r.xq, r.yq), (r.xq, r.yq, r.z)
    # Morton monotonicity sanity: quadrant ordering is preserved.
    assert _z_interleave_py(0, 0) < _z_interleave_py(1, 0) < _z_interleave_py(0, 1)


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(keys=st.lists(st.integers(0, 10_000_000), min_size=1, max_size=50,
                     unique=True),
       probes=st.lists(st.integers(0, 10_000_000), min_size=1, max_size=50,
                       unique=True))
def test_bloom_bitmap_has_no_false_negatives(spark, keys, probes):
    """Re-derive the q_join_bloom bitmap construction on arbitrary keys:
    every inserted key must probe positive (bloom filters never have false
    negatives); uninserted probes MAY collide, which is fine."""
    from pyspark.sql import functions as F

    M = 1 << 16
    MIX = [(2654435761, 97), (2246822519, 51), (3266489917, 13)]

    def positions(key: int) -> list[int]:
        return [(key * a + b) % M for a, b in MIX]

    words: dict[int, int] = {}
    for k in keys:
        for p in positions(k):
            words[p // 64] = words.get(p // 64, 0) | (1 << (p % 64))

    def member(k: int) -> bool:
        return all(
            (words.get(p // 64, 0) >> (p % 64)) & 1 for p in positions(k)
        )

    for k in keys:
        assert member(k), f"false negative for inserted key {k}"
    # Spark-side expression agreement on the probe set:
    df = spark.createDataFrame([(p,) for p in probes], "k: long")
    for h, (a, b) in enumerate(MIX):
        df = df.withColumn(f"pos{h}", (F.col("k") * a + b) % M)
    rows = df.collect()
    for r in rows:
        assert [r.pos0, r.pos1, r.pos2] == positions(r.k)


# ---------------------------------------------------------------------------
# Reorg canonical-walk vs a reference implementation on random forked chains


def _reference_canonical(blocks: list[dict], depth: int) -> set[str]:
    """Independent Python walk: from the unique max-height tip, follow
    parent pointers through the confirmation window; everything below
    tip-depth is final."""
    by_hash = {b["hash"]: b for b in blocks}
    tip_h = max(b["height"] for b in blocks)
    (tip,) = [b for b in blocks if b["height"] == tip_h]
    canonical = set()
    cur = tip
    while cur is not None and cur["height"] >= tip_h - depth:
        canonical.add(cur["hash"])
        cur = by_hash.get(cur["parent_hash"])
    canonical |= {b["hash"] for b in blocks if b["height"] < tip_h - depth}
    return canonical


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    hmax=st.integers(8, 14),
    forks=st.lists(
        # (fork_offset_from_tip 1..4, uncle_len 1..3): uncle branch forks
        # off the canonical chain INSIDE the confirmation window (the
        # key's documented precondition) and stays strictly below the tip
        st.tuples(st.integers(1, 4), st.integers(1, 3)),
        max_size=2,
    ),
)
def test_flag_canonical_matches_reference_walk(spark, hmax, forks):
    from token_burn_listener_spark.operators.events import (
        _REORG_DEPTH,
        flag_canonical,
    )

    blocks = [
        {
            "height": h,
            "hash": f"a:{h}",
            "parent_hash": f"a:{h - 1}" if h > 0 else None,
            "n_events": 1,
        }
        for h in range(hmax + 1)
    ]
    for fi, (off, length) in enumerate(forks):
        start = hmax - off  # uncle base height; parent is canonical
        for j in range(length):
            h = start + j
            if h >= hmax:  # tip must stay unique
                break
            blocks.append(
                {
                    "height": h,
                    "hash": f"u{fi}:{h}",
                    "parent_hash": (
                        f"a:{h - 1}" if j == 0 else f"u{fi}:{h - 1}"
                    ),
                    "n_events": 1,
                }
            )
    # drop accidental duplicate (height, hash) rows from overlapping forks
    blocks = list({b["hash"]: b for b in blocks}.values())
    df = spark.createDataFrame(
        [
            (b["height"], b["hash"], b["parent_hash"], b["n_events"])
            for b in blocks
        ],
        "height long, hash string, parent_hash string, n_events long",
    )
    got = {
        r.hash
        for r in flag_canonical(df).collect()
        if r.canonical
    }
    assert got == _reference_canonical(blocks, _REORG_DEPTH)


def test_flag_canonical_jobs_do_not_grow_with_depth(
    spark, monkeypatch, spark_jobs
):
    """The walk collects the confirmation window once and walks it on
    the driver, so its Spark job count is the same at any depth — a
    walk that runs one join per step starts more jobs the deeper it
    goes."""
    from token_burn_listener_spark.operators import events

    blocks = [
        {
            "height": h,
            "hash": f"a:{h}",
            "parent_hash": f"a:{h - 1}" if h > 0 else None,
            "n_events": 1,
        }
        for h in range(13)
    ] + [
        {"height": 10, "hash": "u:10", "parent_hash": "a:9", "n_events": 1},
        {"height": 11, "hash": "u:11", "parent_hash": "u:10", "n_events": 1},
    ]
    df = spark.createDataFrame(
        [(b["height"], b["hash"], b["parent_hash"], b["n_events"]) for b in blocks],
        "height long, hash string, parent_hash string, n_events long",
    )
    jobs = {}
    for depth in (2, 6):
        monkeypatch.setattr(events, "_REORG_DEPTH", depth)
        rows, jobs[depth] = spark_jobs(
            lambda: events.flag_canonical(df).collect()
        )
        got = {r.hash for r in rows if r.canonical}
        assert got == _reference_canonical(blocks, depth)
    assert jobs[2] == jobs[6], jobs


# ---------------------------------------------------------------------------
# Gap detection vs a complement-interval reference on random id sets.
# The in-fixture oracle only sees the one deterministic drop pattern
# (event_id % 7 == 0); this exercises arbitrary presence sets — and at
# three base magnitudes, including past the double-precision integer
# cliff (2^53) where the pre-r6 float bucketing silently mis-binned.


def _reference_gaps(present: set[int], mn: int, mx: int) -> list[tuple[int, int]]:
    out = []
    run = None
    for i in range(mn, mx + 1):
        if i not in present:
            run = (run[0], i) if run else (i, i)
        elif run:
            out.append(run)
            run = None
    if run:
        out.append(run)
    return out


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=st.sampled_from([-300, 0, 2**53, -(2**63), 2**63 - 120]),
    offsets=st.sets(st.integers(0, 119), min_size=1, max_size=80),
)
def test_detect_gaps_matches_complement_reference(spark, base, offsets):
    from token_burn_listener_spark.operators.events import detect_gaps

    ids = sorted(base + o for o in offsets)
    mn, mx = ids[0], ids[-1]
    ing = spark.createDataFrame([(i,) for i in ids], "event_id long")
    got = sorted(
        (r.gap_start, r.gap_end)
        for r in detect_gaps(spark, ing, mn, mx).collect()
    )
    assert got == _reference_gaps(set(ids), mn, mx)

"""Driver-contract and infrastructure sanity tests."""

from __future__ import annotations

import os

from token_burn_listener_spark.registry import ORACLES, QUERIES, load_all_modules
from token_burn_listener_spark.scratch import materialize

load_all_modules()


def test_every_oracle_key_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


def test_key_naming_convention():
    assert all(k.startswith("q_") for k in QUERIES)


def test_sf01_gate_keys_registered():
    """Every ``parity-sf0.1`` gate key is registered, and as a
    ``check_parity.py`` prefix selects exactly that one key: a prefix
    matching nothing would check 0 keys and still print ``0 fail``."""
    from tools.verify_all import SF01_KEYS

    missing = [k for k in SF01_KEYS if k not in QUERIES]
    assert not missing, f"parity-sf0.1 gate names unregistered keys: {missing}"
    selects = {p: [k for k in QUERIES if k.startswith(p)] for p in SF01_KEYS}
    assert all(ks == [p] for p, ks in selects.items()), selects


def test_queries_order_is_module_order():
    """``queries()`` lists every key once, grouped by ``_MODULES`` order and
    in source order within a module; the oracles follow the same order."""
    import __spark_entry__ as contract
    from token_burn_listener_spark.registry import _MODULES

    keys = list(contract.queries())
    assert sorted(keys) == sorted(QUERIES)
    modules = [QUERIES[k].__module__ for k in keys]
    assert set(modules) <= set(_MODULES)
    ranks = [_MODULES.index(m) for m in modules]
    assert ranks == sorted(ranks)
    for m in set(modules):
        lines = [QUERIES[k].__code__.co_firstlineno for k in keys
                 if QUERIES[k].__module__ == m]
        assert lines == sorted(lines), f"{m}: keys out of source order"
    oracle_keys = list(contract.oracle_sql())
    assert oracle_keys == [k for k in keys if k in ORACLES]
    assert "q_stream_listener_e2e" in keys[:50]


def test_materialize_ignores_partial_dirs(tmp_path):
    """A crashed (no _SUCCESS) scratch dir must be rebuilt, not reused;
    the rebuilt copy is fenced by materialize, not by its writer."""
    final = str(tmp_path / "copy")

    def write(_df, path):
        os.makedirs(path)
        with open(os.path.join(path, "part-0"), "w") as f:
            f.write("data")

    # simulate a partial prior write at the final path (no _SUCCESS)
    os.makedirs(final)
    with open(os.path.join(final, "part-0"), "w") as f:
        f.write("partial")

    materialize(None, final, write)
    assert os.path.exists(os.path.join(final, "_SUCCESS"))
    with open(os.path.join(final, "part-0")) as f:
        assert f.read() == "data"  # rebuilt, not the stale partial


def test_materialize_reuses_complete_dirs(tmp_path):
    """A copy materialize fenced is reused, though its writer wrote no
    fence of its own."""
    final = str(tmp_path / "copy")
    calls = []

    def write(_df, path):
        os.makedirs(path)
        calls.append(path)

    materialize(None, final, write)
    materialize(None, final, write)
    assert len(calls) == 1


def test_hll_union_estimate_error_bound(spark, sf_dir):
    """Merged HLL estimates must sit within 2% of the exact distinct count
    (lgConfigK=12 default: ~1.6% RSE; the fixture cardinalities are far
    below saturation so the estimate is typically exact)."""
    rows = QUERIES["q_agg_hll_union"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        err = abs(r.est_users - r.exact_users) / max(r.exact_users, 1)
        assert err <= 0.02, (r.event_type, r.est_users, r.exact_users)


def test_feed_sink_append_overwrite_and_fence(spark, sf_dir, tmp_path):
    """r12 review pins for the custom event_feed sink/reader contract:
    (1) append mode publishes AFTER existing parts instead of renaming
    over them; (2) overwrite mode replaces them; (3) a fenced EMPTY
    commit reads back as an empty DataFrame; (4) an unfenced dir (a
    simulated half-commit: parts present, no _FEEDCOMMIT) is rejected
    rather than partially read, and so is a dir fenced only by Spark's
    _SUCCESS, which the feed's own sink never writes alone."""
    import os

    from pyspark.sql import functions as F

    from token_burn_listener_spark.sources.feed import register_feed_source
    from token_burn_listener_spark.tables import load_table

    register_feed_source(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )
    n = ev.count()
    target = str(tmp_path / "feed")

    def read_count():
        return (
            spark.read.format("event_feed").option("path", target).load()
        ).count()

    w = ev.write.format("event_feed").option("path", target)
    w.mode("append").save()
    assert read_count() == n
    w.mode("append").save()  # second append must ADD, not clobber
    assert read_count() == 2 * n
    w.mode("overwrite").save()  # overwrite must replace both commits
    assert read_count() == n

    # fenced empty commit is readable as empty
    empty_target = str(tmp_path / "empty")
    (
        ev.filter(F.lit(False))
        .write.format("event_feed")
        .option("path", empty_target)
        .mode("append")
        .save()
    )
    assert os.path.exists(os.path.join(empty_target, "_FEEDCOMMIT"))
    assert (
        spark.read.format("event_feed").option("path", empty_target).load()
    ).count() == 0

    # unfenced dir (half-commit) and a Spark-fenced dir are rejected
    import pytest as _pytest

    for name, fences in (("half", ()), ("spark_fenced", ("_SUCCESS",))):
        d = str(tmp_path / name)
        os.makedirs(d)
        with open(os.path.join(d, "part-00000.jsonl"), "w") as f:
            f.write('{"event_id": 1, "ts_us": 0, "user_id": 1, '
                    '"event_type": "view", "value": 1.0}\n')
        for fence in fences:
            open(os.path.join(d, fence), "w").close()
        with _pytest.raises(Exception, match="commit fence"):
            (
                spark.read.format("event_feed").option("path", d).load()
            ).count()


def test_key_runs_with_driver_outside_repository_root(spark, sf_dir, tmp_path):
    """A driver whose cwd is not the repository root, with the package
    importable on the driver only, still runs a key whose Python data
    source is pickled by module name: ``configure`` puts the package on
    the Python workers' path."""
    import subprocess
    import sys

    from token_burn_listener_spark.tables import load_table

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        f"import sys; sys.path.insert(0, {root!r})\n"
        "from pyspark.sql import SparkSession\n"
        "import __spark_entry__ as contract\n"
        "spark = (SparkSession.builder.master('local[2]')"
        ".config('spark.ui.enabled', 'false').getOrCreate())\n"
        "df = contract.queries()['q_src_python_batch'](spark, "
        f"{sf_dir!r})\n"
        "print('rows', df.count())\n"
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != root
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    n = load_table(spark, sf_dir, "events").count()
    assert f"rows {n}" in out.stdout.splitlines(), out.stdout


def test_load_table_infers_schema_once_per_file_version(
    spark, tmp_path, spark_jobs
):
    """load_table reuses the schema Spark inferred for a file: a second
    load of the unchanged file starts no Spark job (a plain
    spark.read.parquet starts a schema-inference job every call), and
    rewriting the file with an added column is a new version whose
    column appears."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from token_burn_listener_spark.tables import load_table

    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    load_table(spark, str(tmp_path), "region")
    df, jobs = spark_jobs(lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs == 0
    assert sorted(r.r_regionkey for r in df.collect()) == [0, 1]

    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "ASIA"]}), path
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, "AFRICA"), (1, "ASIA")]


def test_package_code_is_used_by_the_product():
    """Every top-level function or class of the package, other than the
    @query keys, is referenced from the package, __spark_entry__.py or
    perfbench/ — no package code is kept alive only for tools or tests.

    A reference is resolved by module, so a common name (``start``,
    ``decode``) is not "used" by some other object's method: it counts as
    a Name in the defining module, an import of the name from that module,
    or an attribute on a name bound to that module by an import."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "token_burn_listener_spark"
    sources = [
        *pkg.rglob("*.py"),
        root / "__spark_entry__.py",
        *(root / "perfbench").rglob("*.py"),
    ]

    def module_of(path: pathlib.Path) -> str:
        parts = path.relative_to(root).with_suffix("").parts
        return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)

    modules = {module_of(p) for p in pkg.rglob("*.py")}

    def is_query(dec: ast.expr) -> bool:
        return (
            isinstance(dec, ast.Call)
            and isinstance(dec.func, ast.Name)
            and dec.func.id == "query"
        )

    def dotted(node: ast.expr, bound: dict[str, str]) -> str | None:
        """The module a Name/Attribute chain names, through ``bound``."""
        if isinstance(node, ast.Name):
            return bound.get(node.id)
        if isinstance(node, ast.Attribute):
            head = dotted(node.value, bound)
            return head and f"{head}.{node.attr}"
        return None

    defined: list[tuple[str, str]] = []
    used: set[tuple[str, str]] = set()
    for path in sources:
        tree = ast.parse(path.read_text(), filename=str(path))
        here = module_of(path)
        bound: dict[str, str] = {}  # local name -> the module it is bound to
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    local = a.asname or a.name.partition(".")[0]
                    bound[local] = a.name if a.asname else local
            elif isinstance(node, ast.ImportFrom) and node.module:
                for a in node.names:
                    used.add((node.module, a.name))
                    bound[a.asname or a.name] = f"{node.module}.{a.name}"
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                used.add((here, node.id))
            elif isinstance(node, ast.Attribute):
                owner = dotted(node.value, bound)
                if owner in modules:
                    used.add((owner, node.attr))
        if pkg in path.parents:
            defined += [
                (here, node.name)
                for node in tree.body
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
                and not any(map(is_query, node.decorator_list))
            ]
    assert defined
    unused = [f"{m}.{name}" for m, name in defined if (m, name) not in used]
    assert not unused, f"package code no product path references: {unused}"


def test_perfbench_decode_matches_listener(spark, monkeypatch):
    """perfbench composes its own listener, and its exactly-once check
    compares against its own decode: until it calls ``listener``, a drift
    in the package's decode would go unseen there."""
    import pathlib

    from token_burn_listener_spark import listener
    from token_burn_listener_spark.sources.feed import FEED_SCHEMA

    monkeypatch.syspath_prepend(
        str(pathlib.Path(__file__).resolve().parent.parent / "perfbench")
    )
    import gen
    from workloads import _decode

    assert listener.WATCHED == gen.WATCHED
    day = 86_400_000_000
    src = spark.createDataFrame(
        [
            (1, 1_700_000_000_123_456, 7, "purchase", 12.3456789),
            (2, -day - 1, 8, "purchase", None),
            (3, 0, None, "purchase", -0.0000005),
            (4, day, 9, "view", 1.5),
            (5, 3, 10, None, 2.0),
            (6, 2 * day, 11, "PURCHASE", 4.0),
            (7, day - 1, 12, "purchase", 2.5e-7),
        ],
        FEED_SCHEMA,
    )
    ours, theirs = listener.decode(src), _decode(src)
    assert ours.schema == theirs.schema
    rows = sorted(ours.collect(), key=lambda r: r.event_id)
    assert [r.event_id for r in rows] == [1, 2, 3, 7]
    assert rows == sorted(theirs.collect(), key=lambda r: r.event_id)

"""Storage-layout operators: format interchange, partitioned sinks,
bucketed tables (SURVEY.md §2.B1 sources extended with the sink half).

These are the layout decisions that dominate 100 TB economics:

- **Columnar interchange** (ORC next to parquet): same pruning/pushdown
  machinery, one `format()` switch. (Avro is NOT exercised: the
  `spark-avro` datasource module is external since Spark 2.4 and is not
  deployed in this container — verified: `Failed to find data source:
  avro`; no network to add it. ORC covers the second-columnar-format
  surface.)
- **Partition pruning**: a sink partitioned by a predicate column turns
  WHERE-clauses into directory pruning — the scan never opens the other
  partitions' files. The plan is asserted, not assumed.
- **Bucketing**: pre-shuffling both sides of a recurring join into the
  same bucket layout removes the join exchange entirely — THE lever for
  a fact⋈fact join run every day at 100 TB. The no-extra-exchange plan
  is asserted, not assumed.

Derived copies live in the scratch cache (scratch.py: atomic, keyed on
fixture path+mtime). Bucketed tables keep their DATA in the same
content-addressed scratch (built once per fixture) and re-attach to each
session's in-memory catalog through one DDL (_ensure_bucketed) — so a
fresh session pays metadata registration, not a bucketBy rewrite.
"""

from __future__ import annotations

import glob
import json
import re
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from token_burn_listener_spark.registry import query
from token_burn_listener_spark.scratch import materialize, scratch_dir
from token_burn_listener_spark.tables import load_table


def _plan(df: DataFrame) -> str:
    """Formatted physical plan text (the plan asserts, tools/audit_plans.py
    and tools/plan_dump.py all read this form)."""
    jvm_mode = (
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    return df._jdf.queryExecution().explainString(jvm_mode)


def _ensure_bucketed(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str,
    prefix: str,
    n_buckets: int = 8,
    build: Callable[[SparkSession, str], DataFrame] | None = None,
    source: str | None = None,
) -> str:
    """Register (building at most once per fixture) an ``n_buckets``-bucket
    layout of ``table`` clustered+sorted on ``key``; returns the catalog
    table name.

    ``build`` lets the layout hold a DERIVED table instead of a raw
    fixture copy — e.g. the shingled corpus q_llm_minhash_bucketed
    clusters on doc_id. The callable produces the DataFrame to bucket;
    ``source`` names the fixture file whose (mtime, size) content-
    addresses the layout (defaults to ``{table}.parquet``, which derived
    builds usually are not). Derived builds should repartition on the
    bucket key so each bucket lands in ONE file — Spark only reports the
    layout's SortOrder (skipping the merge-join re-sort) for
    single-file buckets.

    The bucketed DATA is content-addressed on disk (scratch_dir keyed on
    the source file's own mtime/size, so regenerating one fixture can
    never reuse another's stale layout) and reused across sessions: a
    fresh session re-registers the files through one catalog DDL instead
    of re-paying the bucketBy write, as a lake-resident layout would be
    attached at 100 TB; the DDL's column list is read from one part
    file's footer, so a warm registration starts no Spark job. The build
    runs inside ``materialize``'s write (``build`` may start Spark jobs,
    which a warm layout must not pay): saveAsTable writes the temp dir under a throwaway name, and DROP
    TABLE on that external table keeps the files. Cold and warm paths
    register through the SAME DDL, so the zero-exchange plan asserts
    always run against the DDL-registered form.
    """
    import uuid

    src = source if source is not None else f"{sf_dir}/{table}.parquet"
    path = scratch_dir(sf_dir, f"bkt{n_buckets}_{table}_{key}", source=src)
    # the catalog name must carry the BUCKETING KEY too: the scratch hash
    # is keyed on (sf_dir, source stat) only, so two call sites sharing a
    # prefix+table but clustering on different columns would otherwise
    # collide in tableExists and silently reuse the wrong layout
    name = f"{prefix}_{table}_{key}_" + path.split("/")[-2]
    if spark.catalog.tableExists(name):
        return name

    def write(_df: None, tmp: str) -> None:
        tmp_name = f"{name}_build_{uuid.uuid4().hex[:8]}"
        df = (
            build(spark, sf_dir)
            if build is not None
            else load_table(spark, sf_dir, table)
        )
        (
            df.write.bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", tmp)
            .mode("overwrite")
            .saveAsTable(tmp_name)
        )
        spark.sql(f"DROP TABLE {tmp_name}")  # external: files stay

    materialize(None, path, write)
    # Spark's writer keeps its schema in every footer; reading it through
    # spark.read.parquet(path).schema would start a Spark job
    footer = pq.read_metadata(sorted(glob.glob(f"{path}/part-*"))[0]).metadata
    schema = StructType.fromJson(
        json.loads(footer[b"org.apache.spark.sql.parquet.row.metadata"])
    )
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )
    spark.sql(
        f"CREATE TABLE {name} ({cols}) USING parquet"
        f" CLUSTERED BY ({key}) SORTED BY ({key}) INTO {n_buckets} BUCKETS"
        f" LOCATION '{path}'"
    )
    return name


@query(
    "q_scan_orc",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source: the nation fixture round-tripped through ORC.

    Spark's ORC reader shares the columnar scan machinery with parquet
    (pruning, row-group stats pushdown); the parquet-backed oracle checks
    content equality across formats.
    """
    path = materialize(
        load_table(spark, sf_dir, "nation"),
        scratch_dir(sf_dir, "nation_orc", source=f"{sf_dir}/nation.parquet"),
        lambda df, p: df.coalesce(1).write.orc(p),
    )
    return spark.read.orc(path).select("n_nationkey", "n_name", "n_regionkey")


@query(
    "q_sink_partitioned",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + partition-pruned scan.

    Orders are written `partitionBy(o_orderstatus)` (3 directories); the
    status predicate then prunes at the DIRECTORY level — `PartitionFilters`
    in the scan node, zero data files opened for the other statuses. At
    100 TB this is the difference between scanning one partition and
    scanning the table; the assert fails if the filter ever degrades to a
    post-scan predicate (e.g. because the sink stopped partitioning).
    """
    path = materialize(
        load_table(spark, sf_dir, "orders"),
        scratch_dir(sf_dir, "orders_bystatus", source=f"{sf_dir}/orders.parquet"),
        lambda df, p: df.write.partitionBy("o_orderstatus").parquet(p),
    )
    out = (
        spark.read.parquet(path)
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    )
    plan = _plan(out)
    if "PartitionFilters" not in plan or "o_orderstatus" not in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]:
        raise AssertionError(
            "partition pruning not engaged: no PartitionFilters on o_orderstatus"
        )
    return out


@query(
    "q_join_bucketed",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both tables pre-bucketed on the join key →
    sort-merge join with NO join-side exchange.

    Both sides are written `bucketBy(8, key).sortBy(key)` once per fixture;
    the recurring join then reads bucket i against bucket i directly. The
    plan assert pins it: exactly ONE Exchange in the whole query — the
    aggregation's — where the unbucketed join would carry three. The
    merge hint only pins SMJ over broadcast (the fixture dim is tiny);
    bucketing is what removes the exchanges. At 100 TB this converts the
    daily fact⋈fact join from two full shuffles into a metadata lookup —
    the same trade the scratch cache models: pay the layout cost once,
    amortize over every subsequent run.
    """
    o_name = _ensure_bucketed(spark, sf_dir, "orders", "o_custkey", "bkt")
    c_name = _ensure_bucketed(spark, sf_dir, "customer", "c_custkey", "bkt")
    o, c = spark.table(o_name), spark.table(c_name)
    out = (
        o.join(c.hint("merge"), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    plan = _plan(out)
    # formatted mode lists every node twice (tree + detail); count the
    # "(<id>) Exchange" detail headers so each node counts once
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    if n_exchanges != 1:
        raise AssertionError(
            f"bucketed join not exchange-free: {n_exchanges} Exchanges in plan"
            " (expected 1: the aggregation's)"
        )
    return out


@query(
    "q_tpch_q18_bucketed",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 300
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q_tpch_q18_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_tpch_q18ish over an order-key-bucketed layout: the SHUFFLE-FREE
    form of the round-10 probe's biggest structural finding, promoted to
    a driver key so the layout win stays permanent driver evidence
    (VERDICT r10 #6).

    The plain q18 shape at 1000× is dominated by the ~150 M-group
    l_orderkey aggregation shuffle (SCALE.md r9: 464.9 s honest; the
    shuffle-partition knob made it WORSE). A bucketing probe (SCALE.md
    r10) measured the structural fix: lineitem and orders pre-bucketed on the
    order key drop the q18 shape from 3 shuffle exchanges to 0 and
    16.9× wall time at 1000×, for a once-per-ingest layout cost that
    amortizes over every downstream order-keyed query. This key runs the
    IDENTICAL logical query (same oracle text as q_tpch_q18ish) over
    8-way bucketed scratch tables and ASSERTS the zero-shuffle plan:
    the groupBy consumes the scan's HashPartitioning(l_orderkey)
    directly, the orders join is bucket-co-located (merge hint pins SMJ
    over the fixture-size broadcast), and the customer join broadcasts —
    at 100 TB the customer side is still the dimension, so broadcast is
    the right production shape too.

    r12 (VERDICT r11 #4): the bucketed layout is content-addressed on
    disk and reused ACROSS sessions (_ensure_bucketed) — a fresh
    driver/bench session re-registers the files via DDL instead of
    rebuilding, so this key's bench line now measures the query the
    layout was built FOR, not the once-per-ingest build (r11's 4.41 s
    line was ~98% bucketBy write, cpu_sec 0.037).
    """
    l_name = _ensure_bucketed(spark, sf_dir, "lineitem", "l_orderkey", "bkt_q18")
    o_name = _ensure_bucketed(spark, sf_dir, "orders", "o_orderkey", "bkt_q18")
    l, o = spark.table(l_name), spark.table(o_name)
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    out = (
        big.join(o.hint("merge"), big["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
    )
    plan = _plan(out)
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    if n_exchanges != 0:
        raise AssertionError(
            f"bucketed q18 not shuffle-free: {n_exchanges} Exchanges in plan"
            " (expected 0: agg + order join consume the bucket layout,"
            " customer broadcasts)"
        )
    return out


@query(
    "q_sink_compaction",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def q_sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: a fragmented sink (64 files) rewritten to 4
    right-sized files, content-identical — the maintenance job every
    streaming/incremental sink needs (each micro-batch writes
    files-per-trigger × shuffle-partitions small files; scan cost at
    100 TB is dominated by file COUNT once files drop under a row group).

    Both layouts are asserted by direct file listing, and the oracle
    proves the rewrite lost nothing. At scale the repartition target comes
    from bytes/OPTIMAL_FILE_SIZE (with maxRecordsPerFile as the guard);
    the fixed 64→4 here keeps the fixture deterministic.
    """
    import glob

    frag = materialize(
        load_table(spark, sf_dir, "orders"),
        scratch_dir(sf_dir, "orders_frag", source=f"{sf_dir}/orders.parquet"),
        lambda df, p: df.repartition(64).write.parquet(p),
    )
    comp = materialize(
        spark.read.parquet(frag),
        scratch_dir(sf_dir, "orders_compact", source=f"{sf_dir}/orders.parquet"),
        lambda df, p: df.repartition(4).write.parquet(p),
    )
    n_frag = len(glob.glob(f"{frag}/part-*"))
    n_comp = len(glob.glob(f"{comp}/part-*"))
    if not (n_frag >= 32 and n_comp == 4):
        raise AssertionError(
            f"compaction layout wrong: {n_frag} fragmented / {n_comp} compacted files"
        )
    return spark.read.parquet(comp).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )


@query(
    "q_scan_schema_evolution",
    oracle="""
    SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source, 1::BIGINT AS batch
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, lang, source, 2::BIGINT AS batch
    FROM documents WHERE doc_id % 2 = 1
    """,
)
def q_scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches written with DIFFERENT
    schemas (batch 2 adds the `source` column) unified by mergeSchema —
    old rows surface the new column as NULL. This is how a long-lived
    100 TB dataset actually looks: columns arrive mid-history, and readers
    must merge footer schemas instead of failing or silently dropping.

    The merged schema is asserted, not assumed. At scale mergeSchema=true
    costs a footer read per file — production pins the merged schema in a
    catalog/metastore after one inference pass; the read path is the same.
    """
    base_dir = scratch_dir(
        sf_dir, "docs_evolving", source=f"{sf_dir}/documents.parquet"
    )

    def write_batches(df: DataFrame, p: str) -> None:
        old = df.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "lang", F.lit(1).cast("long").alias("batch")
        )
        new = df.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "lang", "source", F.lit(2).cast("long").alias("batch")
        )
        old.write.parquet(f"{p}/b1")
        new.write.parquet(f"{p}/b2")

    path = materialize(load_table(spark, sf_dir, "documents"), base_dir, write_batches)
    out = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    got = set(out.columns)
    if not {"doc_id", "lang", "source", "batch"} <= got:
        raise AssertionError(f"merged schema missing columns: {got}")
    return out.select("doc_id", "lang", "source", "batch")


@query(
    "q_scan_text",
    oracle="""
    SELECT count(*) AS n_lines,
           sum(length(text))::BIGINT  AS n_chars,
           min(length(text))::BIGINT  AS min_len,
           max(length(text))::BIGINT  AS max_len
    FROM documents
    """,
)
def q_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source (the raw-corpus ingestion format): the
    documents fixture exported one doc per line, re-read with
    ``spark.read.text`` and summarized — content equality vs the
    parquet-backed oracle proves the round trip.

    The fixture corpus is single-line by construction (whitespace word
    salad); a real corpus with embedded newlines uses this same reader
    with ``lineSep``/``wholetext`` or escapes at export. At 100 TB text
    splits by line boundaries within HDFS blocks — fully parallel, but
    no column pruning/pushdown (why parquet wins downstream; this op is
    the ingest boundary, not the query path).
    """
    path = materialize(
        load_table(spark, sf_dir, "documents").select("text"),
        scratch_dir(
            sf_dir, "documents_text", source=f"{sf_dir}/documents.parquet"
        ),
        lambda df, p: df.coalesce(1).write.text(p),
    )
    lines = spark.read.text(path)
    return lines.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).cast("long").alias("n_chars"),
        F.min(F.length("value")).cast("long").alias("min_len"),
        F.max(F.length("value")).cast("long").alias("max_len"),
    )


@query(
    "q_sink_zorder",
    oracle="""
    WITH b AS (
      SELECT min(l_partkey) AS pmn, max(l_partkey) AS pmx,
             min(l_suppkey) AS smn, max(l_suppkey) AS smx
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
    FROM lineitem, b
    WHERE l_partkey <= pmn + (pmx - pmn) // 8
      AND l_suppkey <= smn + (smx - smn) // 8
    """,
)
def q_sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered sink + two-dimensional data skipping.

    lineitem is rewritten clustered by the Morton (Z-order) interleaving of
    its 16-bit-quantized (l_partkey, l_suppkey): repartitionByRange on the
    z-value + sortWithinPartitions gives every file a tight min/max box in
    BOTH dimensions — a linear sort gets skipping on one column only. The
    layout is asserted from the parquet footers (pyarrow, driver-side
    metadata read): a 1/8-domain probe on EITHER column must overlap at
    most half the files. The returned rows are the 2-D probe-box read off
    the clustered copy, oracle-checked against the original table.

    100 TB plan: this is the Delta/Iceberg OPTIMIZE ZORDER trade — one
    range shuffle at write time buys every subsequent selective scan
    file-level pruning on two predicates; the z-value is 32 bit ops in
    whole-stage codegen, and quantization bounds come from a 1-row agg
    (bounded scalar, the repo's collect() convention).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    b = li.agg(
        F.min("l_partkey"), F.max("l_partkey"), F.min("l_suppkey"), F.max("l_suppkey")
    ).collect()[0]
    pmn, pmx, smn, smx = b[0], b[1], b[2], b[3]

    def quant(col: str, mn: int, mx: int) -> str:
        return f"cast(({col} - {mn}) * 65535.0 / {max(mx - mn, 1)} as bigint)"

    z_expr = " + ".join(
        f"(((xq >> {k}) & 1) << {2 * k}) + (((yq >> {k}) & 1) << {2 * k + 1})"
        for k in range(16)
    )

    def write(df: DataFrame, path: str) -> None:
        (
            df.withColumn("xq", F.expr(quant("l_partkey", pmn, pmx)))
            .withColumn("yq", F.expr(quant("l_suppkey", smn, smx)))
            .withColumn("z", F.expr(z_expr))
            .repartitionByRange(16, "z")
            .sortWithinPartitions("z")
            .drop("xq", "yq", "z")
            .write.parquet(path)
        )

    path = materialize(
        li,
        scratch_dir(sf_dir, "lineitem_zorder", source=f"{sf_dir}/lineitem.parquet"),
        write,
    )

    # Layout assert: per-file min/max boxes from footers must let a
    # 1/8-domain probe on either dimension skip at least half the files.
    import glob as _glob

    import pyarrow.parquet as _pq

    files = sorted(_glob.glob(f"{path}/part-*.parquet"))
    boxes = []
    for f in files:
        md = _pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        lo = [None, None]
        hi = [None, None]
        for rg in range(md.num_row_groups):
            for d, col in enumerate(("l_partkey", "l_suppkey")):
                st = md.row_group(rg).column(idx[col]).statistics
                if st is None:  # stats disabled by writer config: self-describe
                    raise AssertionError(
                        f"parquet footer statistics missing for {col} in {f}; "
                        "z-order skipping cannot be verified"
                    )
                lo[d] = st.min if lo[d] is None else min(lo[d], st.min)
                hi[d] = st.max if hi[d] is None else max(hi[d], st.max)
        boxes.append((lo, hi))
    p_cut = pmn + (pmx - pmn) // 8
    s_cut = smn + (smx - smn) // 8
    p_hits = sum(1 for lo, hi in boxes if lo[0] <= p_cut)
    s_hits = sum(1 for lo, hi in boxes if lo[1] <= s_cut)
    if not (p_hits <= len(files) // 2 and s_hits <= len(files) // 2):
        raise AssertionError(
            f"z-order skipping degraded: probe overlaps {p_hits}/{s_hits} "
            f"of {len(files)} files on partkey/suppkey"
        )

    return spark.read.parquet(path).filter(
        (F.col("l_partkey") <= p_cut) & (F.col("l_suppkey") <= s_cut)
    )


@query(
    "q_scan_time_travel",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(o_totalprice, 2) AS o_totalprice
    FROM orders WHERE o_orderkey % 3 <> 0
    """,
)
def q_scan_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-pinned snapshot read ("time travel"): two commits land in
    one directory — v1 (orderkey % 3 <> 0) then an appended v2 delta (the
    rest) — and each commit records ITS file list in a JSON manifest. A
    reader pins a snapshot by reading exactly the manifest's files, so v1
    stays byte-stable forever regardless of later appends — the Iceberg/
    Delta time-travel mechanism reduced to its parquet + manifest core.

    The layout assert pins snapshot isolation live: the v2 manifest must
    strictly contain v1's files, and the v1 read must NOT see the delta
    rows. Returned rows are the as-of-v1 read, oracle-checked against the
    v1 predicate on the source table.

    100 TB plan: a manifest read turns "which files make up snapshot N"
    into a KB-sized metadata lookup instead of a directory listing race;
    appends never rewrite data, and readers never block writers. This is
    the file-level contract every lakehouse table format builds on.
    """
    import json
    import os

    def write(df: DataFrame, path: str) -> None:
        data = f"{path}/data"
        df.filter(F.col("o_orderkey") % 3 != 0).coalesce(2).write.parquet(data)
        v1 = sorted(
            f for f in os.listdir(data) if f.endswith(".parquet")
        )
        df.filter(F.col("o_orderkey") % 3 == 0).coalesce(2).write.mode(
            "append"
        ).parquet(data)
        v2 = sorted(
            f for f in os.listdir(data) if f.endswith(".parquet")
        )
        with open(f"{path}/manifest-v1.json", "w") as fh:
            json.dump(v1, fh)
        with open(f"{path}/manifest-v2.json", "w") as fh:
            json.dump(v2, fh)

    o = load_table(spark, sf_dir, "orders")
    path = materialize(
        o,
        scratch_dir(sf_dir, "orders_timetravel", source=f"{sf_dir}/orders.parquet"),
        write,
    )
    with open(f"{path}/manifest-v1.json") as fh:
        v1 = json.load(fh)
    with open(f"{path}/manifest-v2.json") as fh:
        v2 = json.load(fh)
    if not (set(v1) < set(v2)):
        raise AssertionError("snapshot isolation broken: v2 must strictly contain v1")
    as_of_v1 = spark.read.parquet(*[f"{path}/data/{f}" for f in v1])
    if as_of_v1.filter(F.col("o_orderkey") % 3 == 0).limit(1).count() != 0:
        raise AssertionError("v1 snapshot read leaked delta rows")
    return as_of_v1.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


@query(
    "q_scan_csv_corrupt",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrupt,
           CAST(sum(CASE WHEN o_orderkey % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clean,
           round(sum(CASE WHEN o_orderkey % 10 <> 0 THEN o_totalprice END), 2)
             AS clean_totalprice
    FROM orders
    """,
)
def q_scan_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record ingestion: a CSV copy of orders where every 10th
    order's totalprice is corrupted to a non-numeric token, read back in
    PERMISSIVE mode with a columnNameOfCorruptRecord sink column — the
    dirty-feed reality of any ingest boundary. Corrupt rows survive (in
    the quarantine column, null typed fields) instead of killing the job
    (FAILFAST) or silently vanishing (DROPMALFORMED).

    The oracle derives the expected accounting from the clean source
    table (we KNOW which rows were corrupted), so the check pins that the
    reader quarantined EXACTLY the injected rows and parsed everything
    else — not merely that it didn't crash.

    100 TB plan: PERMISSIVE parse is map-only; the quarantine column
    routes to a dead-letter sink (filter + write) while clean rows flow
    on — one scan, no pre-validation pass over the feed.
    """
    o = load_table(spark, sf_dir, "orders")
    line = F.concat_ws(
        ",",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("oops")).otherwise(
            F.col("o_totalprice").cast("string")
        ),
    )
    path = materialize(
        o.select(line.alias("value")),
        scratch_dir(sf_dir, "orders_dirty_csv", source=f"{sf_dir}/orders.parquet"),
        lambda df, p: df.coalesce(2).write.text(p),
    )
    parsed = (
        spark.read.schema(
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    return parsed.agg(
        F.count("*").alias("n_rows"),
        F.count("_corrupt").alias("n_corrupt"),
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_clean"),
        F.round(
            F.sum(F.when(F.col("_corrupt").isNull(), F.col("o_totalprice"))), 2
        ).alias("clean_totalprice"),
    )


@query(
    "q_scan_dpp",
    oracle="""
    WITH dim(status, kind) AS (
      VALUES ('F', 'done'), ('O', 'open'), ('P', 'pending')
    )
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN dim ON o_orderstatus = dim.status
    WHERE dim.kind <> 'open'
    GROUP BY o_orderstatus
    """,
)
def q_scan_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is the status-partitioned
    orders sink (q_sink_partitioned's layout) and the pruning predicate
    lives on a DIMENSION (kind <> 'open'), not the partition column — so
    static pruning cannot apply. Catalyst must inject a runtime
    ``dynamicpruning`` subquery on o_orderstatus that skips the 'O'
    partition's files after evaluating the dim. The assert pins it; if
    DPP degrades to a full scan + post-join filter, the key fails loudly.

    100 TB plan: THE mechanism that makes star joins over partitioned
    facts viable — the dim filter decides which fact partitions exist for
    the scan, turning a table scan into a partition scan at runtime.
    """
    path = materialize(
        load_table(spark, sf_dir, "orders"),
        scratch_dir(sf_dir, "orders_bystatus", source=f"{sf_dir}/orders.parquet"),
        lambda df, p: df.write.partitionBy("o_orderstatus").parquet(p),
    )
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("F", "done"), ("O", "open"), ("P", "pending")], "status string, kind string"
    )
    out = (
        fact.join(dim, fact.o_orderstatus == dim.status)
        .filter(F.col("kind") != "open")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    plan = _plan(out)
    if "dynamicpruning" not in plan:
        raise AssertionError(
            "dynamic partition pruning not engaged: no dynamicpruning "
            "subquery on the partitioned scan"
        )
    return out

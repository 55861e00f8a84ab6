"""Custom Python data source: the listener's event-feed subscription
(SURVEY.md §2.A A1/A8), on Spark 4's Python DataSource API. The listener
itself — this source, the decode and the exactly-once sink on one
checkpoint — is composed in ``listener.py``.

The reference subscribed to an external event provider over RPC and kept a
resume cursor so a restart continued from the last delivered event. That
contract — poll(cursor) → (new events, next cursor) — is EXACTLY the
``SimpleDataSourceStreamReader`` interface, so the parity slice gets a real
custom source instead of only the built-in file replay:

- **Batch reader** (`format("event_feed")`): splits each JSONL part into
  byte ranges whose edges are moved forward to the next newline — the
  full-backfill path, read in parallel.
- **Streaming reader** (`readStream.format("event_feed")`): the offset IS
  the listener's cursor, ``{"part": <part file name>, "byte": <next unread
  byte>, "pos": <rows delivered>}``. Parts are append-only and published
  atomically, so a byte offset into a named part is stable: a poll seeks
  there and reads at most ``rows_per_batch`` whole lines (A10's rate
  limit), never the prefix before it. ``readBetweenOffsets`` replays a
  committed byte range verbatim after restart (A8/A9 exactly-once
  semantics). A checkpoint holding the older line-count offset
  ``{"pos": n}`` cannot resume and is rejected with an error.

Both readers parse with one helper: ``pyarrow.json.read_json`` under the
explicit ``FEED_SCHEMA`` (a missing key reads as null, an extra key is
ignored), returning ``pyarrow.RecordBatch``es that Spark takes without a
per-row conversion.

Python-in-the-scan-path note: a custom source IS the ingest boundary (the
reference's RPC client was JavaScript for the same reason) — UDF policy
(SURVEY.md §2.B11) governs transforms AFTER ingest, which stay relational
here. At 100 TB the equivalent source is Kafka/cloud-log (JVM connectors);
this demonstrates the API contract, sized for feed ingest, not for
re-scanning a lake.

The feed file itself is the events fixture as JSON-lines with epoch-µs
timestamps (a raw provider feed shape; µs longs avoid timestamp-format
parsing drift between writer and reader). Every feed is published by the
feed's own two-phase sink (``_FeedWriter``, ``write.format("event_feed")``),
so readers accept exactly one commit fence, its ``_FEEDCOMMIT`` manifest.
"""

from __future__ import annotations

import glob
import io
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.json as pa_json
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from token_burn_listener_spark.registry import query
from token_burn_listener_spark.scratch import materialize, scratch_dir
from token_burn_listener_spark.session import configure
from token_burn_listener_spark.streaming.replay import nonempty_batches
from token_burn_listener_spark.tables import load_table

FEED_SCHEMA = (
    "event_id long, ts_us long, user_id long, event_type string, value double"
)
_ARROW_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts_us", pa.int64()),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
    ]
)
_COLS = tuple(_ARROW_SCHEMA.names)
_PARSE_OPTIONS = pa_json.ParseOptions(
    explicit_schema=_ARROW_SCHEMA, unexpected_field_behavior="ignore"
)
# Bytes read per step while a poll looks for its last line.
_READ_BLOCK = 1 << 20


def _feed_files(path: str) -> list[str]:
    """All JSONL part files inside a committed feed dir (sorted for
    determinism).

    Readers enforce the commit fence: a dir without ``_FEEDCOMMIT``, the
    manifest ``_FeedWriter.commit`` writes after publishing every part,
    is a crashed half-commit and is rejected rather than read partially.
    The writer is the feed's only one, so Spark's ``_SUCCESS`` is refused:
    a Spark-written dir names its parts ``part-<index>-<job uuid>``, and a
    later append would sort by uuid, not by time, behind a cursor already
    past it. A fenced dir with zero parts is a validly committed EMPTY
    feed and returns []."""
    if not os.path.exists(os.path.join(path, "_FEEDCOMMIT")):
        raise FileNotFoundError(
            f"feed at {path} has no commit fence (_FEEDCOMMIT) — "
            "uncommitted or half-visible data is rejected"
        )
    return sorted(glob.glob(os.path.join(path, "part-*")))


def _parse(
    chunks: list[bytes], feed: str, start: tuple[str, int], end: tuple[str, int]
) -> pa.Table:
    """Byte chunks of whole JSON lines as one ``FEED_SCHEMA`` table.

    A chunk may end in a part's final line without a newline, so one is
    added before the next chunk. The semantics are those of ``json.loads``
    then ``rec.get(c)`` per column: a missing key is null, an extra key is
    ignored, an integer literal in ``value`` reads as that double, and
    doubles parse bit-exactly. Blank lines hold no row. One block covers
    the whole input, so no line can straddle a block edge.

    The chunks are the bytes of ``feed`` from ``start`` to ``end``, each a
    ``(part name, byte)``. A malformed line raises a ``ValueError`` naming
    that range: a restart replays the same range and fails the same way,
    so the error must say where the line is.
    """
    data = b"".join(c if c.endswith(b"\n") else c + b"\n" for c in chunks)
    if not data.strip():
        return _ARROW_SCHEMA.empty_table()
    try:
        return pa_json.read_json(
            io.BytesIO(data),
            read_options=pa_json.ReadOptions(
                use_threads=False, block_size=min(len(data), 1 << 30)
            ),
            parse_options=_PARSE_OPTIONS,
        ).select(list(_COLS))
    except pa.ArrowInvalid as e:
        first = start[0] or "the first part"
        raise ValueError(
            f"event_feed {feed}: malformed line between {first} byte {start[1]}"
            f" and {end[0]} byte {end[1]} (its rows count from 0 there): {e}"
        ) from e


def _read_range(file: str, start: int, end: int) -> bytes:
    with open(file, "rb") as f:
        f.seek(start)
        return f.read(end - start)


def _take_lines(file: str, start: int, limit: int) -> tuple[bytes, int]:
    """Up to ``limit`` whole lines of ``file`` from byte ``start``: their
    bytes and their count. A final line without a newline counts, since a
    part is published whole."""
    out: list[bytes] = []
    n = 0
    with open(file, "rb") as f:
        f.seek(start)
        while n < limit:
            buf = f.read(_READ_BLOCK)
            if not buf:
                if out and not out[-1].endswith(b"\n"):
                    n += 1
                break
            need, k = limit - n, buf.count(b"\n")
            if k >= need:  # cut after the need-th newline
                nl = np.flatnonzero(np.frombuffer(buf, np.uint8) == ord("\n"))
                out.append(buf[: nl[need - 1] + 1])
                n = limit
            else:
                out.append(buf)
                n += k
    return b"".join(out), n


def _line_start(f, pos: int) -> int:
    """The first byte at or after ``pos`` that begins a line of ``f``."""
    if pos == 0:
        return 0
    f.seek(pos - 1)
    return pos - 1 + len(f.readline())


class _ByteRange(InputPartition):
    def __init__(self, file: str, start: int, end: int):
        self.file, self.start, self.end = file, start, end


class _FeedBatchReader(DataSourceReader):
    """Backfill: per-part byte ranges of whole lines, read in parallel (A2)."""

    def __init__(self, options):
        self.path = options["path"]
        self.n_splits = int(options.get("n_splits", "4"))

    def partitions(self):
        out = []
        for file in _feed_files(self.path):
            size = os.path.getsize(file)
            step = max(1, -(-size // self.n_splits))
            with open(file, "rb") as f:
                edges = sorted(
                    {_line_start(f, i) for i in range(0, size, step)} | {size}
                )
            out.extend(_ByteRange(file, a, b) for a, b in zip(edges, edges[1:]))
        return out

    def read(self, partition: _ByteRange):
        if partition is None:  # fenced EMPTY feed: partitions() was []
            return
        file, start, end = partition.file, partition.start, partition.end
        name = os.path.basename(file)
        data = _read_range(file, start, end)
        yield from _parse([data], self.path, (name, start), (name, end)).to_batches()


def _offset(part: str, byte: int, pos: int) -> dict:
    return {"part": part, "byte": byte, "pos": pos}


def _cursor(offset: dict) -> tuple[str, int, int]:
    """``(part, byte, pos)`` of a stream offset, or an error naming the
    expected shape (a line-count ``{"pos": n}`` offset cannot resume)."""
    if set(offset) != {"part", "byte", "pos"}:
        raise ValueError(
            f"event_feed offset {json.dumps(offset)} is not a byte cursor "
            '{"part": <part file name>, "byte": <next unread byte>, '
            '"pos": <rows delivered>}; a checkpoint holding line-count '
            'offsets {"pos": n} cannot resume — start from a new checkpoint'
        )
    return offset["part"], offset["byte"], offset["pos"]


class _FeedStreamReader(SimpleDataSourceStreamReader):
    """The listener's poll loop: offset = ``{"part", "byte", "pos"}``, the
    next unread byte of a named part plus the rows delivered so far."""

    def __init__(self, options):
        self.path = options["path"]
        self.rows_per_batch = int(options.get("rows_per_batch", "2500"))

    def initialOffset(self):
        return _offset("", 0, 0)

    def read(self, start):
        part, byte, pos = _cursor(start)
        begin, chunks, n = (part, byte), [], 0
        for file in _feed_files(self.path):
            name = os.path.basename(file)
            if name < part:  # already delivered: never reopened
                continue
            if n >= self.rows_per_batch:
                break
            first = byte if name == part else 0
            data, k = _take_lines(file, first, self.rows_per_batch - n)
            if data:
                chunks.append(data)
                n += k
                part, byte = name, first + len(data)
        if not chunks:
            return iter([]), start
        table = _parse(chunks, self.path, begin, (part, byte))
        return iter(table.to_batches()), _offset(part, byte, pos + table.num_rows)

    def readBetweenOffsets(self, start, end):
        # Restart replay (A8/A9): deliver the committed byte range verbatim.
        s_part, s_byte, s_pos = _cursor(start)
        e_part, e_byte, e_pos = _cursor(end)
        chunks = []
        for file in _feed_files(self.path):
            name = os.path.basename(file)
            if s_part <= name <= e_part:
                chunks.append(
                    _read_range(
                        file,
                        s_byte if name == s_part else 0,
                        e_byte if name == e_part else os.path.getsize(file),
                    )
                )
        table = _parse(chunks, self.path, (s_part, s_byte), (e_part, e_byte))
        if table.num_rows != e_pos - s_pos:
            raise ValueError(
                f"event_feed replay of {json.dumps(start)} .. {json.dumps(end)}"
                f" parsed {table.num_rows} rows, expected {e_pos - s_pos}: a"
                " committed part changed after it was delivered"
            )
        return iter(table.to_batches())


class _FeedCommit(WriterCommitMessage):
    def __init__(self, staged: str, n_rows: int):
        self.staged, self.n_rows = staged, n_rows


class _FeedWriter(DataSourceWriter):
    """The external-store upsert (A7) as a two-phase commit:

    each task stages its rows to ``_stage/<uuid>.jsonl`` and returns the
    staged path as its commit message; only when EVERY task succeeded does
    the driver publish — rename each staged file to ``part-…`` and write
    the ``_FEEDCOMMIT`` manifest (the idempotency fence the listener
    needed against its REST store: readers accept only fenced data, a
    crashed job leaves staging garbage but never a half-visible commit).
    """

    def __init__(self, options, overwrite: bool = False):
        self.path = options["path"]
        self.overwrite = overwrite

    def write(self, iterator) -> _FeedCommit:
        import uuid as _uuid  # executor-side import

        stage_dir = os.path.join(self.path, "_stage")
        os.makedirs(stage_dir, exist_ok=True)
        staged = os.path.join(stage_dir, f"{_uuid.uuid4().hex}.jsonl")
        n = 0
        with open(staged, "w") as f:
            for row in iterator:
                f.write(json.dumps({c: row[c] for c in _COLS}) + "\n")
                n += 1
        return _FeedCommit(staged, n)

    def commit(self, messages) -> None:
        # r12 review: honor the save mode. Append publishes AFTER the
        # existing parts (previously every commit numbered from 0,
        # silently renaming over an earlier commit's files AND breaking
        # the stream reader's append-only cursor contract); overwrite
        # removes the old parts at publish time.
        #
        # r13 (ADVICE r12): the cursor contract is LEXICOGRAPHIC
        # sorted-name order, so the next index derives from the
        # lexicographically-LAST part — a numeric max over mixed-width
        # names (part-000.json vs part-00002.jsonl) could publish a new
        # part that sorts BEFORE an old one, which a committed cursor
        # already past that name would never read. Mixed widths are
        # rejected outright, and a new part whose padded index would
        # overflow the feed's established width (sorting before
        # part-999...) fails loudly too.
        existing = sorted(glob.glob(os.path.join(self.path, "part-*")))
        if self.overwrite:
            for p in existing:
                os.remove(p)
            existing = []
        width = 5
        base = 0
        if existing:
            stems = [
                re.search(r"part-(\d+)", os.path.basename(p)) for p in existing
            ]
            if not all(stems):
                bad = [
                    os.path.basename(p)
                    for p, mt in zip(existing, stems)
                    if mt is None
                ]
                raise ValueError(
                    f"unparseable part names {bad} in {self.path}: the "
                    "append-only cursor order needs part-<index> names"
                )
            widths = {len(mt.group(1)) for mt in stems}
            if len(widths) > 1:
                raise ValueError(
                    f"mixed part-index widths {sorted(widths)} in "
                    f"{self.path}: lexicographic cursor order would be "
                    "ambiguous — refusing to append"
                )
            width = widths.pop()
            base = int(stems[-1].group(1)) + 1
        # Validate EVERY final name up-front, then link with rollback on
        # failure — a mid-loop raise after the first link would leave a
        # half-visible commit behind the still-valid old fence (the exact
        # state the two-phase design promises never to expose).
        non_empty = [m for m in messages if m is not None and m.n_rows > 0]
        idxs = [f"{base + i:0{width}d}" for i in range(len(non_empty))]
        if any(len(s) > width for s in idxs):
            raise ValueError(
                f"appending {len(non_empty)} parts at base {base} overflows "
                f"the feed's {width}-digit naming in {self.path}: a wider "
                "name would sort before existing parts"
            )
        linked: list[str] = []
        try:
            for m, s in zip(non_empty, idxs):
                dest = os.path.join(self.path, f"part-{s}.jsonl")
                # exclusive publish: two concurrent appends that computed
                # the same base fail loudly (EEXIST) instead of
                # rename-clobbering each other's part
                os.link(m.staged, dest)
                linked.append(dest)
        except OSError:
            for dest in linked:  # restore all-or-nothing visibility
                try:
                    os.remove(dest)
                except OSError:
                    pass
            raise
        for m in messages:
            if m is not None:
                os.remove(m.staged)
        total = sum(m.n_rows for m in messages if m is not None)
        with open(os.path.join(self.path, "_FEEDCOMMIT"), "w") as f:
            json.dump({"n_rows": total, "n_tasks": len(messages)}, f)

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.staged):
                os.remove(m.staged)


class EventFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "event_feed"

    def schema(self) -> str:
        return FEED_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _FeedBatchReader(self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return _FeedStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return _FeedWriter(self.options, overwrite)


def feed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture in the feed's row shape (``FEED_SCHEMA``)."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )


def ensure_feed(spark: SparkSession, sf_dir: str) -> str:
    """Register the source and materialize the events fixture as a
    single-part feed, published by the feed's own sink (``_FeedWriter``).
    The tag's ``_v2`` keeps copies cached by Spark's JSON writer, which
    the reader refuses, out of use."""
    register_feed_source(spark)
    return materialize(
        feed_rows(spark, sf_dir),
        scratch_dir(
            sf_dir, "events_feed_v2", source=f"{sf_dir}/events.parquet"
        ),
        lambda d, p: d.coalesce(1)
        .write.format("event_feed")
        .option("path", p)
        .mode("append")
        .save(),
    )


def register_feed_source(spark: SparkSession) -> None:
    configure(spark)  # the source is pickled with the workers' path
    spark.dataSource.register(EventFeedDataSource)


_FEED_ORACLE_ROWS = """
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
    FROM events
"""


@query("q_src_python_batch", oracle=_FEED_ORACLE_ROWS)
def q_src_python_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 parity: full backfill through the custom Python batch source —
    every event row, read via parallel newline-aligned byte-range
    partitions, value-exact against the parquet-backed oracle (JSON double
    round-trip is shortest-repr exact)."""
    path = ensure_feed(spark, sf_dir)
    return spark.read.format("event_feed").option("path", path).load()


@query(
    "q_src_python_stream",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def q_src_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A8/A10 parity: the subscription loop as a custom STREAMING source.

    The cursor offset advances ``rows_per_batch`` lines per poll, so the
    backfill drains in ≥4 bounded micro-batches (asserted); the aggregate
    over the fully-drained stream equals the batch answer — proof the
    cursor neither dropped nor double-delivered rows.

    Trigger note: availableNow collapses a Simple stream reader's whole
    backlog into one batch (it resolves the end offset first, then reads
    the full committed range), so the poll-loop shape needs the
    processing-time path: run micro-batches until ``processAllAvailable``
    sees the cursor stop advancing, then stop — which is also exactly how
    the listener's poll loop terminated a backfill.
    """
    import uuid

    from token_burn_listener_spark.scratch import fresh_run_dir

    path = ensure_feed(spark, sf_dir)
    n_events = load_table(spark, sf_dir, "events").count()
    per_batch = max(1, n_events // 4)
    src = (
        spark.readStream.format("event_feed")
        .option("path", path)
        .option("rows_per_batch", str(per_batch))
        .load()
    )
    agg = src.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value")
    )
    name = f"feed_{uuid.uuid4().hex[:10]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", fresh_run_dir("feed_cp"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_batches = nonempty_batches(q)
    if n_batches < 4:
        raise AssertionError(
            f"cursor rate limit not applied: {n_batches} non-empty"
            " micro-batches, expected >= 4"
        )
    return spark.table(name)


@query("q_src_python_sink", oracle=_FEED_ORACLE_ROWS)
def q_src_python_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 parity: write the event feed THROUGH the custom Python sink's
    two-phase commit, then read it back through the batch reader —
    full-row exact means no task's rows were lost, duplicated, or
    published before the commit fence.

    The `_FEEDCOMMIT` manifest existence is asserted (a reader trusting
    unfenced data would also pass the row check on a happy path — the
    fence is the part that matters on a crashed one).
    """
    from token_burn_listener_spark.scratch import fresh_run_dir

    register_feed_source(spark)
    target = fresh_run_dir("feed_sink")
    os.makedirs(target, exist_ok=True)
    (
        feed_rows(spark, sf_dir)
        .repartition(4)
        .write.format("event_feed")
        .option("path", target)
        .mode("append")
        .save()
    )
    if not os.path.exists(os.path.join(target, "_FEEDCOMMIT")):
        raise AssertionError("sink commit fence missing: no _FEEDCOMMIT")
    return spark.read.format("event_feed").option("path", target).load()


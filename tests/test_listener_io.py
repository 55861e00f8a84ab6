"""The listener's two ends, pinned below the streaming engine.

1. **Feed cursor** — ``_FeedStreamReader`` called directly, no Spark
   session: the ``{"part", "byte", "pos"}`` offset crosses part edges,
   replays verbatim, survives appends, and never re-reads the prefix a
   committed cursor has passed.
2. **Feed parse** — the one Arrow parse path both readers share matches
   ``json.loads`` then ``rec.get(c)`` value for value.
3. **Upsert sink** — ``batch_upsert_writer``'s single-file, rename-onto
   layout: replay-idempotent, temp files invisible, empty batches typed,
   timestamps exact.
4. **Checkpoint logs** — the listener (``listener.start``/``drain``: feed →
   decode → sink) writes its offset and commit logs through the
   FileSystem-based manager, on a handed-over session too, with a
   ``.crc`` beside every entry; a temp entry left by a crash before its
   rename is ignored on restart, a torn or bit-flipped entry fails the
   restart with a checksum error, and a second run on an active checkpoint
   stops the first (the one-writer precondition of the manager's
   exists-then-rename).
"""

from __future__ import annotations

import datetime
import json
import os
import random
import re
import struct
import uuid

import pyarrow as pa
from pyspark.errors import StreamingQueryException
import pytest

from token_burn_listener_spark import listener
from token_burn_listener_spark.session import configure
from token_burn_listener_spark.sources.feed import (
    _COLS,
    _FeedBatchReader,
    _FeedStreamReader,
    _offset,
)
from token_burn_listener_spark.streaming.replay import (
    batch_upsert_writer,
    read_upsert_target,
)


def _line(i: int, **extra) -> str:
    rec = {
        "event_id": i,
        "ts_us": 1_700_000_000_000_000 + i,
        "user_id": i % 7,
        "event_type": "purchase" if i % 3 == 0 else "view",
        "value": i / 4,
    }
    rec.update(extra)
    return json.dumps(rec) + "\n"


def _feed(tmp_path, *parts: list[str]) -> str:
    """A fenced feed dir holding one ``part-<k>.jsonl`` per line list."""
    feed = tmp_path / "feed"
    feed.mkdir(exist_ok=True)
    for k, lines in enumerate(parts):
        (feed / f"part-{k:05d}.jsonl").write_text("".join(lines))
    (feed / "_FEEDCOMMIT").write_text("{}")
    return str(feed)


def _reader(feed: str, rows_per_batch: int) -> _FeedStreamReader:
    return _FeedStreamReader({"path": feed, "rows_per_batch": str(rows_per_batch)})


def _rows(batches) -> list[tuple]:
    out = []
    for b in batches:
        out += zip(*(b.column(c).to_pylist() for c in _COLS))
    return out


def _ids(batches) -> list[int]:
    return [r[0] for r in _rows(batches)]


def _drain(reader: _FeedStreamReader, start: dict) -> list[tuple[dict, dict, list]]:
    """Poll until the cursor stops: ``(start, end, rows)`` per poll."""
    polls = []
    while True:
        it, end = reader.read(start)
        if end == start:
            return polls
        polls.append((start, end, _rows(it)))
        start = end


# ---------------------------------------------------------------------------
# 1. feed cursor
# ---------------------------------------------------------------------------


def test_feed_poll_spans_part_boundary(tmp_path):
    a = [_line(i) for i in range(3)]
    b = [_line(i) for i in range(3, 6)]
    reader = _reader(_feed(tmp_path, a, b), 4)
    it, end = reader.read(reader.initialOffset())
    assert _ids(it) == [0, 1, 2, 3]
    assert end == {"part": "part-00001.jsonl", "byte": len(b[0]), "pos": 4}
    it, end2 = reader.read(end)
    assert _ids(it) == [4, 5]
    assert end2 == {"part": "part-00001.jsonl", "byte": len("".join(b)), "pos": 6}


def test_feed_replay_between_offsets_equals_poll(tmp_path):
    parts = [[_line(i) for i in range(k * 5, k * 5 + 5)] for k in range(3)]
    reader = _reader(_feed(tmp_path, *parts), 4)
    polls = _drain(reader, reader.initialOffset())
    assert [r[0] for _, _, rows in polls for r in rows] == list(range(15))
    for start, end, rows in polls:
        # a fresh reader: the replay path after a restart has no cache
        assert _rows(_reader(reader.path, 4).readBetweenOffsets(start, end)) == rows


def test_feed_append_keeps_committed_offsets(tmp_path):
    feed = _feed(tmp_path, [_line(i) for i in range(5)])
    reader = _reader(feed, 2)
    polls = _drain(reader, reader.initialOffset())
    last = polls[-1][1]
    with open(os.path.join(feed, "part-00001.jsonl"), "w") as f:
        f.writelines(_line(i) for i in range(5, 9))
    for start, end, rows in polls:
        assert _rows(reader.readBetweenOffsets(start, end)) == rows
    it, end = reader.read(last)
    assert _ids(it) == [5, 6] and end["pos"] == 7


def test_feed_final_line_without_newline_is_read(tmp_path):
    a = [_line(0), _line(1).rstrip("\n")]
    b = [_line(2)]
    reader = _reader(_feed(tmp_path, a, b), 10)
    it, end = reader.read(reader.initialOffset())
    assert _ids(it) == [0, 1, 2] and end["pos"] == 3
    assert _ids(reader.readBetweenOffsets(reader.initialOffset(), end)) == [0, 1, 2]
    # a cut inside the unterminated part, then the rest of it
    reader = _reader(reader.path, 1)
    polls = _drain(reader, reader.initialOffset())
    assert [r[0] for _, _, rows in polls for r in rows] == [0, 1, 2]


def test_feed_read_without_new_data_keeps_offset(tmp_path):
    reader = _reader(_feed(tmp_path, [_line(i) for i in range(3)]), 10)
    _, end = reader.read(reader.initialOffset())
    it, again = reader.read(end)
    assert again == end and list(it) == []
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_FEEDCOMMIT").write_text("{}")  # a fenced feed with no parts
    reader = _reader(str(empty), 10)
    it, again = reader.read(reader.initialOffset())
    assert again == reader.initialOffset() and list(it) == []


def test_feed_deep_poll_never_rereads_passed_parts(tmp_path):
    parts = [[_line(i) for i in range(k * 4, k * 4 + 4)] for k in range(3)]
    feed = _feed(tmp_path, *parts)
    reader = _reader(feed, 6)
    _, end = reader.read(reader.initialOffset())
    assert end["part"] == "part-00001.jsonl"
    # part-00000 is behind the cursor: if a poll reopened it, this fails
    with open(os.path.join(feed, "part-00000.jsonl"), "w") as f:
        f.write("{not json\n" * 4)
    it, end = reader.read(end)
    assert _ids(it) == list(range(6, 12)) and end["pos"] == 12


def test_feed_line_count_offset_is_rejected(tmp_path):
    reader = _reader(_feed(tmp_path, [_line(0)]), 10)
    with pytest.raises(ValueError, match=r'"part".*"byte".*"pos"'):
        reader.read({"pos": 1})
    with pytest.raises(ValueError, match="cannot resume"):
        reader.readBetweenOffsets({"pos": 0}, {"pos": 1})


def test_feed_malformed_line_names_its_part(tmp_path):
    bad = [_line(3), "{not json\n", _line(5)]
    feed = _feed(tmp_path, [_line(i) for i in range(3)], bad)
    reader = _reader(feed, 3)
    _, end = reader.read(reader.initialOffset())  # all of part-00000
    size = len("".join(bad))
    where = f"{re.escape(feed)}: .* and part-00001.jsonl byte {size}"
    with pytest.raises(ValueError, match=where) as err:
        reader.read(end)
    assert isinstance(err.value.__cause__, pa.ArrowInvalid)
    with pytest.raises(ValueError, match=where):
        reader.readBetweenOffsets(end, _offset("part-00001.jsonl", size, 6))
    batch = _FeedBatchReader({"path": feed, "n_splits": "1"})
    whole_part = f"part-00001.jsonl byte 0 and part-00001.jsonl byte {size}"
    with pytest.raises(ValueError, match=whole_part):
        for p in batch.partitions():
            list(batch.read(p))


def test_feed_batch_ranges_cover_every_line_once(tmp_path):
    # lines of very different lengths, so some ranges hold no line edge
    parts = [
        [_line(i, pad="x" * (i % 5) * 40) for i in range(k * 11, k * 11 + 11)]
        for k in range(3)
    ]
    parts[2][-1] = parts[2][-1].rstrip("\n")
    feed = _feed(tmp_path, *parts)
    for n_splits in (1, 3, 7, 64):
        reader = _FeedBatchReader({"path": feed, "n_splits": str(n_splits)})
        ids = sorted(i for p in reader.partitions() for i in _ids(reader.read(p)))
        assert ids == list(range(33)), n_splits


# ---------------------------------------------------------------------------
# 2. feed parse exactness
# ---------------------------------------------------------------------------


def test_feed_parse_matches_json_loads(tmp_path):
    rng = random.Random(7)
    values = []
    for _ in range(20_000):
        kind = rng.random()
        if kind < 0.4:  # any finite double, subnormals and extremes included
            v = struct.unpack("<d", struct.pack("<Q", rng.getrandbits(64)))[0]
            if v != v or abs(v) == float("inf"):
                continue
        elif kind < 0.5:  # subnormal
            v = struct.unpack("<d", struct.pack("<Q", rng.getrandbits(52)))[0]
        elif kind < 0.8:
            v = round(rng.uniform(-1e6, 1e6), 2)
        else:
            v = rng.uniform(-1.0, 1.0)
        values.append(v)
    lines = [_line(i, value=v) for i, v in enumerate(values)]
    lines += [
        '{"event_id": 900001, "value": 42}\n',  # integer literal in value
        '{"event_id": 900002, "value": -7, "ts_us": 3}\n',
        '{"event_id": 900003}\n',  # missing keys -> null
        '{"event_id": 900004, "user_id": 5, "extra": {"a": [1, 2]},'
        ' "note": "x"}\n',  # extra keys ignored
        json.dumps({"event_id": 900005, "event_type": "brûlé ⛽ 燃焼 \U0001f525"})
        + "\n",
        '{"event_id": 900006, "event_type": "\\u00e9\\ud83d\\udd25"}\n',
    ]
    reader = _reader(_feed(tmp_path, lines), len(lines))
    got = _rows(reader.read(reader.initialOffset())[0])
    want = [tuple(json.loads(line).get(c) for c in _COLS) for line in lines]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:4] == w[:4]
        if w[4] is None:
            assert g[4] is None
        else:  # bit-exact, and an integer literal reads as that double
            assert isinstance(g[4], float)
            assert struct.pack("<d", g[4]) == struct.pack("<d", float(w[4])), w


# ---------------------------------------------------------------------------
# 3. upsert sink
# ---------------------------------------------------------------------------


def _batch_df(spark, n: int):
    base = datetime.datetime(2024, 2, 29, 23, 59, 59, 999_999)
    rows = [
        (i, base + datetime.timedelta(microseconds=7 * i), f"u{i}", i / 3)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user string, value double"
    )


def test_sink_replayed_batch_leaves_one_file(spark, tmp_path):
    target = str(tmp_path / "db")
    upsert = batch_upsert_writer(target)
    upsert(_batch_df(spark, 10), 0)
    upsert(_batch_df(spark, 4), 0)  # a replay replaces, never adds
    assert os.listdir(os.path.join(target, "batch=0")) == ["part-00000.parquet"]
    assert read_upsert_target(spark, target).count() == 4


def test_sink_temp_file_is_invisible(spark, tmp_path):
    target = str(tmp_path / "db")
    batch_upsert_writer(target)(_batch_df(spark, 5), 3)
    # a crash between the write and the rename leaves this behind
    with open(os.path.join(target, "batch=3", "_0123abcd.parquet"), "wb") as f:
        f.write(b"PAR1 half-written")
    assert read_upsert_target(spark, target).count() == 5


def test_sink_empty_batch_keeps_schema(spark, tmp_path):
    target = str(tmp_path / "db")
    df = _batch_df(spark, 3)
    batch_upsert_writer(target)(df.limit(0), 0)
    back = spark.read.parquet(os.path.join(target, "batch=0"))
    assert back.count() == 0
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]


def test_sink_timestamp_round_trips_exactly(spark, tmp_path):
    target = str(tmp_path / "db")
    df = _batch_df(spark, 50)
    batch_upsert_writer(target)(df, 0)
    back = read_upsert_target(spark, target)
    assert back.schema["ts"].dataType == df.schema["ts"].dataType
    assert sorted(back.collect()) == sorted(df.collect())


# ---------------------------------------------------------------------------
# 4. checkpoint logs
# ---------------------------------------------------------------------------

_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _log_managers(q) -> list[str]:
    sq = q._jsq.streamingQuery()
    return [
        sq.offsetLog().fileManager().getClass().getSimpleName(),
        sq.commitLog().fileManager().getClass().getSimpleName(),
    ]


def _target_ids(spark, target: str) -> list[int]:
    rows = read_upsert_target(spark, target).select("event_id").collect()
    return sorted(r.event_id for r in rows)


def _watched(ids) -> list[str]:
    """Feed lines the listener's decode keeps, one per id."""
    return [_line(i, event_type=listener.WATCHED) for i in ids]


def _append_part(feed: str, k: int, ids) -> None:
    with open(os.path.join(feed, f"part-{k:05d}.jsonl"), "w") as f:
        f.writelines(_watched(ids))


def test_checkpoint_logs_use_filesystem_manager_with_crc(spark, tmp_path):
    feed = _feed(tmp_path, _watched(range(10)))
    target = str(tmp_path / "db")
    q = listener.drain(spark, feed, target, str(tmp_path / "cp"), 4)
    assert _log_managers(q) == ["FileSystemBasedCheckpointFileManager"] * 2
    for log in ("offsets", "commits"):
        names = set(os.listdir(tmp_path / "cp" / log))
        entries = sorted(n for n in names if n.isdigit())
        assert entries == ["0", "1", "2"], (log, names)
        assert {f".{n}.crc" for n in entries} <= names, (log, names)
    # a handed-over session: the driver built it, configure() runs on it
    saved = spark.conf.get(_MANAGER_KEY)
    try:
        spark.conf.unset(_MANAGER_KEY)
        configure(spark)
        q = listener.drain(spark, feed, str(tmp_path / "db2"), str(tmp_path / "cp2"), 4)
        assert _log_managers(q) == ["FileSystemBasedCheckpointFileManager"] * 2
    finally:
        spark.conf.set(_MANAGER_KEY, saved)
    assert _target_ids(spark, target) == list(range(10))


def test_checkpoint_stray_temp_entry_is_ignored(spark, tmp_path):
    feed = _feed(tmp_path, _watched(range(10)))
    target, cp = str(tmp_path / "db"), str(tmp_path / "cp")
    listener.drain(spark, feed, target, cp, 4)
    # a crash between writing entry 3 and renaming it into place
    with open(os.path.join(cp, "offsets", f".3.{uuid.uuid4()}.tmp"), "w") as f:
        f.write('v1\n{"batchWatermarkMs":0,"batchTi')
    _append_part(feed, 1, range(10, 16))
    listener.drain(spark, feed, target, cp, 4)
    assert _target_ids(spark, target) == list(range(16))


def test_checkpoint_damaged_offset_entry_fails_restart(spark, tmp_path):
    feed = _feed(tmp_path, _watched(range(10)))
    target, cp = str(tmp_path / "db"), str(tmp_path / "cp")
    listener.drain(spark, feed, target, cp, 4)
    before = sorted(map(tuple, read_upsert_target(spark, target).collect()))
    last = os.path.join(cp, "offsets", "2")
    with open(last, "rb") as f:
        entry = f.read()
    cursor = re.search(rb'"byte": \d+', entry)
    flipped = bytearray(entry)
    flipped[cursor.end() - 1] ^= 1  # still valid JSON, a different cursor
    _append_part(feed, 1, range(10, 16))
    # torn by a crash mid-write, then one flipped bit in the resume cursor
    for damaged in (entry[:-3], bytes(flipped)):
        with open(last, "wb") as f:
            f.write(damaged)
        with pytest.raises(
            StreamingQueryException, match=r"Checksum error: .*offsets/2"
        ):
            listener.drain(spark, feed, target, cp, 4)
        after = sorted(map(tuple, read_upsert_target(spark, target).collect()))
        assert after == before
    # the failed restarts wrote nothing: the repaired log resumes exactly
    with open(last, "wb") as f:
        f.write(entry)
    listener.drain(spark, feed, target, cp, 4)
    assert _target_ids(spark, target) == list(range(16))


def test_checkpoint_second_run_stops_the_first(spark, tmp_path):
    feed = _feed(tmp_path, _watched(range(10)))
    target, cp = str(tmp_path / "db"), str(tmp_path / "cp")
    first = listener.start(spark, feed, target, cp, 4)
    second = None
    try:
        first.processAllAvailable()
        second = listener.start(spark, feed, target, cp, 4)
        assert [first.isActive, second.isActive] == [False, True]
        _append_part(feed, 1, range(10, 16))
        second.processAllAvailable()
    finally:
        first.stop()
        if second is not None:
            second.stop()
    assert _target_ids(spark, target) == list(range(16))

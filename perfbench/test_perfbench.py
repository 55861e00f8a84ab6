"""Tests of the benchmark itself: python3 -m pytest perfbench -q

They need no Spark session: the generators, statistics and the open-loop
schedule are plain Python, and the metric lists are read from the modules.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _inputs_digest(seed: int, tmp_path) -> str:
    """Hash of every input a seed makes, at reduced sizes."""
    h = hashlib.sha256()
    cols = gen.events(seed, 2_000, 100)
    gen.write_events_parquet(cols, tmp_path / "events.parquet")
    docs, _ = gen.documents(seed, 300)
    gen.write_documents_parquet(docs, tmp_path / "documents.parquet")
    for name in ("events.parquet", "documents.parquet"):
        h.update((tmp_path / name).read_bytes())
    backfill, tail, truth = gen.listener_feed(seed, 1_000, 500, 100)
    h.update("".join(backfill + tail).encode())
    h.update(json.dumps(sorted(truth.items())).encode())
    return h.hexdigest()


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    for d in ("a", "b", "c"):
        (tmp_path / d).mkdir()
    first = _inputs_digest(7, tmp_path / "a")
    assert _inputs_digest(7, tmp_path / "b") == first
    assert _inputs_digest(8, tmp_path / "c") != first


def test_generated_inputs_have_the_stated_properties():
    cols = gen.events(1, 20_000, 1_000)
    purchases = (cols["event_type"] == gen.WATCHED).mean()
    assert 0.18 < purchases < 0.22
    ids = cols["event_id"]
    assert (ids[1:] > ids[:-1]).all() and ids[-1] + 1 > len(ids)  # gaps, no dups
    assert (cols["ts_us"][1:] < cols["ts_us"][:-1]).any()  # out of order
    docs, n_distinct = gen.documents(1, 1_000)
    assert len(set(docs.column("text").to_pylist())) == n_distinct == 900


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    names = list(e2e) + list(layer)
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    for unit in list(e2e.values()) + list(layer.values()):
        assert UNIT.match(unit), unit
    assert e2e == run.END_TO_END
    assert list(layer) == workloads.per_layer_names()
    assert layer == {n: run.layer_unit(n) for n in layer}
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def test_tail_percentile_has_ten_samples_beyond_it():
    rng = random.Random(0)
    for n in list(range(11, 60)) + [rng.randrange(60, 5_000) for _ in range(50)]:
        values = [rng.expovariate(1.0) for _ in range(n)]
        value, pct = stats.tail(values)
        assert sum(v > value for v in values) >= stats.TAIL_BEYOND
        assert sum(v > value for v in values) == stats.TAIL_BEYOND  # highest such
        assert pct == pytest.approx(100 * (n - stats.TAIL_BEYOND) / n)
    for n in range(0, 11):
        with pytest.raises(ValueError):
            stats.tail([1.0] * n)


def test_open_loop_generator_reports_its_lateness():
    """A slow publish makes the generator late; the schedule does not slip,
    so the parts after the stall are reported late too, and a run without
    stalls reports lateness near zero."""
    interval = 0.02

    def publish(lines):
        if lines == ["stall"]:
            time.sleep(5 * interval)

    parts = [["a"], ["stall"], ["b"], ["c"], ["d"]]
    late = workloads.open_loop(publish, parts, interval, time.monotonic())
    assert len(late) == len(parts)
    assert late[1] >= 5 * interval
    assert late[2] >= 3 * interval  # due 4 intervals before the stall ended
    on_time = workloads.open_loop(lambda _: None, [["x"]] * 5, interval, time.monotonic())
    assert max(on_time) < interval


def test_publish_part_is_fenced_and_ordered(tmp_path):
    for i in (0, 1, 2):
        gen.publish_part(str(tmp_path), i, [f"{i}\n"])
    names = sorted(os.listdir(tmp_path))
    assert names == ["_FEEDCOMMIT"] + [f"part-{i:05d}.jsonl" for i in (0, 1, 2)]

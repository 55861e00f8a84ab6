"""Seeded input generators for the benchmark workloads.

Every input the program sees is made here from the run's ``--seed``: the
same seed gives byte-identical files, another seed gives other files. The
generators also return the truth the correctness checks compare against,
so no check trusts the program to describe its own input.

Only numpy and pyarrow are used, so the generators (and their tests) run
without a Spark session.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
# ~20% purchases: the listener's watched event type.
EVENT_TYPE_P = (0.35, 0.20, 0.05, 0.05, 0.35)
WATCHED = "purchase"
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, as in the fixtures
DAY_US = 86_400_000_000
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.6, 0.1, 0.1, 0.1, 0.1)

# Sub-streams of one seed, so changing one table's size never shifts another.
_EVENTS, _FEED, _DOCS = 1, 2, 3


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def events(
    seed: int,
    n: int,
    n_users: int,
    days: int = 30,
    gap_rate: float = 0.01,
    stream: int = _EVENTS,
) -> dict[str, np.ndarray]:
    """Columns of ``n`` events in the fixture's ``events`` domain.

    Ids ascend with ~``gap_rate`` of them missing; timestamps follow the
    ids over ``days`` days with up to two id steps of out-of-order jitter;
    users are Zipf-skewed (exponent 1.1) over ``n_users`` ids.
    """
    rng = _rng(seed, stream)
    n_ids = int(round(n / (1.0 - gap_rate)))
    ids = np.sort(rng.choice(n_ids, size=n, replace=False)).astype(np.int64)
    step_us = days * DAY_US // n_ids
    jitter = rng.integers(-2 * step_us, 2 * step_us + 1, size=n)
    ts_us = BASE_US + 2 * step_us + ids * step_us + jitter
    weights = 1.0 / np.arange(1, n_users + 1) ** 1.1
    users = rng.permutation(n_users)[
        rng.choice(n_users, size=n, p=weights / weights.sum())
    ].astype(np.int64)
    etype = rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_P)
    value = np.round(rng.uniform(0.01, 490.02, size=n), 2)
    k = rng.integers(0, 100, size=n)
    return {
        "event_id": ids,
        "ts_us": ts_us.astype(np.int64),
        "user_id": users,
        "event_type": np.asarray(EVENT_TYPES)[etype],
        "value": value,
        "k": k,
    }


def write_events_parquet(cols: dict[str, np.ndarray], path: str) -> None:
    """Write events in the fixture schema (``ts`` as naive timestamp[ns])."""
    table = pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(cols["ts_us"] * 1000, pa.timestamp("ns")),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in cols["k"]], pa.string()),
        }
    )
    pq.write_table(table, path)


def feed_lines(cols: dict[str, np.ndarray]) -> list[str]:
    """Events as the ``event_feed`` source's JSONL lines (epoch-µs ``ts_us``)."""
    return [
        json.dumps(
            {
                "event_id": int(i),
                "ts_us": int(t),
                "user_id": int(u),
                "event_type": str(e),
                "value": float(v),
            }
        )
        + "\n"
        for i, t, u, e, v in zip(
            cols["event_id"],
            cols["ts_us"],
            cols["user_id"],
            cols["event_type"],
            cols["value"],
        )
    ]


def listener_feed(
    seed: int, n_backfill: int, n_tail: int, n_users: int
) -> tuple[list[str], list[str], dict[int, tuple]]:
    """The listener's feed: backfill lines, live-tail lines, and the truth.

    The truth maps each watched event's id to the row the sink must hold
    exactly once: ``(burner, amount, burn_day)`` as the reference's decode
    produces it.
    """
    cols = events(seed, n_backfill + n_tail, n_users, stream=_FEED)
    lines = feed_lines(cols)
    truth = {
        int(i): (int(u), round(float(v), 6), int(t) // DAY_US)
        for i, u, v, t, e in zip(
            cols["event_id"],
            cols["user_id"],
            cols["value"],
            cols["ts_us"],
            cols["event_type"],
        )
        if e == WATCHED
    }
    return lines[:n_backfill], lines[n_backfill:], truth


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, size=n)))
    return sorted(words)


def documents(
    seed: int,
    n_docs: int,
    exact_rate: float = 0.10,
    near_rate: float = 0.10,
    vocab_size: int = 3000,
) -> tuple[pa.Table, int]:
    """A ``documents`` table in the fixture schema, and its distinct-text count.

    ``exact_rate`` of the docs are byte copies of another doc and
    ``near_rate`` are copies with one or two tokens replaced. The returned
    count of distinct texts is what exact dedup must keep.
    """
    rng = _rng(seed, _DOCS)
    vocab = _vocabulary(rng, vocab_size)
    n_exact = int(n_docs * exact_rate)
    n_near = int(n_docs * near_rate)
    n_base = n_docs - n_exact - n_near
    token_docs = [
        list(rng.integers(0, vocab_size, size=int(rng.integers(12, 80))))
        for _ in range(n_base)
    ]
    for _ in range(n_near):
        toks = list(token_docs[int(rng.integers(0, n_base))])
        for pos in rng.choice(len(toks), size=int(rng.integers(1, 3)), replace=False):
            toks[pos] = (toks[pos] + int(rng.integers(1, vocab_size))) % vocab_size
        token_docs.append(toks)
    texts = [" ".join(vocab[t] for t in toks) for toks in token_docs]
    n_distinct = len(set(texts))
    if n_distinct != n_base + n_near:
        raise ValueError(f"seed {seed}: generated texts collide; use another seed")
    texts += [texts[int(rng.integers(0, len(texts)))] for _ in range(n_exact)]
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                np.asarray(LANGS)[rng.choice(len(LANGS), size=n_docs, p=LANG_P)],
                pa.string(),
            ),
            "source": pa.array(
                [f"src{s}" for s in rng.integers(0, 20, size=n_docs)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return table, n_distinct


def write_documents_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def publish_part(feed_dir: str, index: int, lines: list[str]) -> str:
    """Append one part to the feed atomically and fence the feed.

    The part is written under a name the readers' ``part-*`` glob skips and
    renamed into place, so a poll never sees half a part.
    """
    name = f"part-{index:05d}.jsonl"
    staged = os.path.join(feed_dir, f"_incoming_{name}")
    with open(staged, "w") as f:
        f.writelines(lines)
    os.rename(staged, os.path.join(feed_dir, name))
    fence = os.path.join(feed_dir, "_FEEDCOMMIT")
    if not os.path.exists(fence):
        with open(fence, "w") as f:
            json.dump({"published": name}, f)
    return name

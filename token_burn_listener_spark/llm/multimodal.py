"""B10 — multimodal (binary) column handling (SURVEY.md §2.B10).

Media are opaque ``binary`` columns with typed metadata; per-item decode /
feature extraction runs as an Arrow-batched ``mapInPandas`` pass — the
shape a 100 TB image/audio corpus uses (decode is per-partition, embarrassingly
parallel, never on the driver).

The decode step itself is a STUB: image/audio libraries are not in this
container, so ``_fake_decode`` derives deterministic pseudo-features from
the raw bytes (documented below). The Spark-side plumbing — binaryFile
source, schema, Arrow batch iteration, UDF signature — is real and tested.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from token_burn_listener_spark.registry import query
from token_burn_listener_spark.scratch import materialize, scratch_dir
from token_burn_listener_spark.session import configure

MULTIMODAL_SCHEMA = (
    "file_name string, n_bytes long, content_sha256 string, "
    "fake_width long, fake_height long, fake_mean double"
)


def _fake_decode(content: bytes) -> tuple[int, int, float]:
    """Deterministic stand-in for an image decode (STUB — no media libs here).

    A real pipeline would replace this body with PIL/ffmpeg/etc. Width and
    height come from the first content bytes; the 'pixel mean' is the mean
    of the first 4 KiB of bytes. Same bytes → same features, everywhere.
    """
    width = 1 + content[0] if content else 0
    height = 1 + content[1] if len(content) > 1 else 0
    head = content[:4096]
    mean = round(sum(head) / len(head), 6) if head else 0.0
    return width, height, mean


def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: one Arrow batch of (path, content, ...) in, features out."""
    for pdf in batches:
        feats = [_fake_decode(c) for c in pdf["content"]]
        yield pd.DataFrame(
            {
                "file_name": pdf["path"].map(lambda p: p.rsplit("/", 1)[-1]),
                "n_bytes": pdf["length"],
                "content_sha256": pdf["content"].map(
                    lambda c: hashlib.sha256(c).hexdigest()
                ),
                "fake_width": [f[0] for f in feats],
                "fake_height": [f[1] for f in feats],
                "fake_mean": [f[2] for f in feats],
            }
        )


@query("q_llm_multimodal")  # rows-only: paths/sizes are machine-local
def q_llm_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary ingestion → Arrow-batched decode → content-hash dedup tag.

    Reads the fixture parquet files themselves as opaque blobs (the corpus
    stand-in), extracts stub features per item via mapInPandas, and marks
    content-duplicate groups by sha256 — the multimodal dedup key.
    """
    blobs = configure(spark).read.format("binaryFile").load(f"{sf_dir}/*.parquet")
    feats = blobs.mapInPandas(decode_batches, MULTIMODAL_SCHEMA)
    dups = feats.groupBy("content_sha256").agg(F.count("*").alias("n_same_content"))
    return (
        feats.join(dups, "content_sha256")
        .select(
            "file_name",
            "n_bytes",
            "content_sha256",
            "fake_width",
            "fake_height",
            "fake_mean",
            "n_same_content",
        )
        .orderBy("file_name")
    )


FRAME_SCHEMA = (
    "file_name string, frame_idx long, frame_off long, frame_sha256 string, "
    "resized_w long, resized_h long"
)

N_FRAMES = 4
FRAME_BYTES = 1024


def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: N evenly-spaced 'frames' (byte slices) per blob.

    The frame-sample + resize shapes of a video pipeline with the decode
    STUBBED (no media libs in container): frames are fixed-width byte
    windows at evenly spaced offsets; 'resize' emits the target dims a real
    resampler would produce. The Spark-side contract — one input blob →
    N output rows, Arrow-batched, constant memory — is the real thing.
    """
    for pdf in batches:
        names, idxs, offs, shas, ws, hs = [], [], [], [], [], []
        for path, content in zip(pdf["path"], pdf["content"]):
            stride = max(len(content) // N_FRAMES, 1)
            for i in range(N_FRAMES):
                off = min(i * stride, max(len(content) - FRAME_BYTES, 0))
                frame = content[off : off + FRAME_BYTES]
                names.append(path.rsplit("/", 1)[-1])
                idxs.append(i)
                offs.append(off)
                shas.append(hashlib.sha256(frame).hexdigest())
                ws.append(224)  # stub resize target
                hs.append(224)
        yield pd.DataFrame(
            {
                "file_name": names,
                "frame_idx": idxs,
                "frame_off": offs,
                "frame_sha256": shas,
                "resized_w": ws,
                "resized_h": hs,
            }
        )


@query("q_llm_frames")  # rows-only: paths/byte layout are machine-local
def q_llm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling + resize over binary media (extra, beyond §2.B10).

    One blob in → N frame rows out through mapInPandas — the video
    ingestion shape (sample → decode → resize → embed) with decode stubbed
    deterministically; see sample_frames.
    """
    blobs = configure(spark).read.format("binaryFile").load(f"{sf_dir}/*.parquet")
    return blobs.mapInPandas(sample_frames, FRAME_SCHEMA).orderBy(
        "file_name", "frame_idx"
    )


# --- q_llm_media_decode: REAL decoders, analytically-verified ---------------
#
# The two keys above stub the decode (no media libs in this container).
# This key removes the stub where the standard library suffices: binary PPM
# (P6) images and RIFF/PCM WAV audio are fully parseable with bytes + the
# stdlib ``wave`` module. The corpus is SYNTHESIZED deterministically from
# closed-form pixel/sample functions, so the DuckDB oracle verifies the
# decoded features against ANALYTIC ground truth (computed from the
# generating formula via range() joins) — if the parser misreads a header,
# stride, or sample width, the exact-value check goes red.

_N_MEDIA = 12  # per modality


def _media_dir(sf_dir: str) -> str:
    """Generate-once media fixture (deterministic; no randomness, no time)."""
    import struct
    import wave

    def generate(_df: None, d: str) -> None:
        os.makedirs(d)
        for i in range(_N_MEDIA):
            w, h = 16 + i % 8, 12 + i % 5
            px = bytearray()
            for y in range(h):
                for x in range(w):
                    v = (x + y + i) % 256
                    px += bytes((v, v, v))  # grey: all 3 channels equal
            with open(os.path.join(d, f"media-{i:03d}.ppm"), "wb") as f:
                f.write(b"P6\n%d %d\n255\n" % (w, h) + bytes(px))
            n = 1000 + 50 * i
            samples = [((k * 73 + i * 37) % 201) - 100 for k in range(n)]
            with wave.open(os.path.join(d, f"audio-{i:03d}.wav"), "wb") as wf:
                wf.setnchannels(1)
                wf.setsampwidth(2)
                wf.setframerate(8000)
                wf.writeframes(struct.pack(f"<{n}h", *samples))

    return materialize(None, scratch_dir(sf_dir, "media_fixture_v1"), generate)


MEDIA_SCHEMA = (
    "file_name string, kind string, width long, height long, "
    "n_samples long, pixel_mean double, rms double"
)


def _decode_ppm(b: bytes) -> tuple[int, int, float]:
    """A real binary-PPM (P6) parser: header tokens, then raw RGB bytes."""
    if not b.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    tokens, pos = [], 2
    while len(tokens) < 3:  # width, height, maxval (comments start with #)
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if b[pos : pos + 1] == b"#":
            while b[pos : pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(b[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    raster = b[pos : pos + 3 * w * h]
    if len(raster) != 3 * w * h:
        raise ValueError("truncated raster")
    return w, h, sum(raster) / len(raster)


def _decode_wav(b: bytes) -> tuple[int, float]:
    """A real WAV decode via the stdlib wave module (RIFF + PCM16)."""
    import io
    import math
    import struct
    import wave

    with wave.open(io.BytesIO(b)) as wf:
        if wf.getsampwidth() != 2 or wf.getnchannels() != 1:
            raise ValueError("expected mono PCM16")
        n = wf.getnframes()
        samples = struct.unpack(f"<{n}h", wf.readframes(n))
    return n, math.sqrt(sum(s * s for s in samples) / n)


def media_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            name = path.rsplit("/", 1)[-1]
            if name.endswith(".ppm"):
                w, h, mean = _decode_ppm(bytes(content))
                rows.append((name, "image", w, h, None, round(mean, 6), None))
            elif name.endswith(".wav"):
                n, rms = _decode_wav(bytes(content))
                rows.append((name, "audio", None, None, n, None, round(rms, 6)))
        yield pd.DataFrame(
            rows,
            columns=[
                "file_name", "kind", "width", "height",
                "n_samples", "pixel_mean", "rms",
            ],
        )


@query(
    "q_llm_media_decode",
    oracle=f"""
    WITH ids AS (SELECT unnest(range({_N_MEDIA})) AS i),
    img AS (SELECT i, 16 + i % 8 AS w, 12 + i % 5 AS h FROM ids),
    imgstats AS (
      SELECT img.i, round(avg(((x.r + y.r + img.i) % 256)::DOUBLE), 6) AS m
      FROM img, range(0, 23) x(r), range(0, 16) y(r)
      WHERE x.r < img.w AND y.r < img.h
      GROUP BY img.i
    ),
    aud AS (SELECT i, 1000 + 50 * i AS n FROM ids),
    audstats AS (
      SELECT aud.i,
             round(sqrt(avg(pow(((k.r * 73 + aud.i * 37) % 201) - 100, 2))), 6)
               AS rms
      FROM aud, range(0, {1000 + 50 * (_N_MEDIA - 1)}) k(r)
      WHERE k.r < aud.n
      GROUP BY aud.i
    )
    SELECT 'media-' || lpad(img.i::VARCHAR, 3, '0') || '.ppm' AS file_name,
           'image' AS kind, img.w::BIGINT AS width, img.h::BIGINT AS height,
           CAST(NULL AS BIGINT) AS n_samples, s.m AS pixel_mean,
           CAST(NULL AS DOUBLE) AS rms
    FROM img JOIN imgstats s USING (i)
    UNION ALL
    SELECT 'audio-' || lpad(aud.i::VARCHAR, 3, '0') || '.wav' AS file_name,
           'audio' AS kind, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           aud.n::BIGINT, CAST(NULL AS DOUBLE), a.rms
    FROM aud JOIN audstats a USING (i)
    """,
)
def q_llm_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode under the exact-value gate: synthesize a
    deterministic PPM/WAV corpus (closed-form pixels/samples), ingest it
    as opaque binary via binaryFile, and DECODE it with genuine stdlib
    parsers inside an Arrow-batched mapInPandas — then let the DuckDB
    oracle recompute every feature (dims, pixel mean, sample count, RMS)
    from the GENERATING FORMULA. A parser bug (header offset, stride,
    sample width, endianness) is a red exact check, not a silent stub.

    100 TB plan: identical to q_llm_multimodal's shape — decode is
    per-partition mapInPandas over binary blobs, constant memory per Arrow
    batch, nothing on the driver; swapping the stdlib parsers for
    PIL/ffmpeg changes only the Python body, not the plan.
    """
    d = _media_dir(sf_dir)
    blobs = configure(spark).read.format("binaryFile").load(d)
    return blobs.mapInPandas(media_decode_batches, MEDIA_SCHEMA)

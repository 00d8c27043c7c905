"""Multimodal-column plumbing (beyond-reference; BASELINE.json north star).

Images/audio/video are opaque ``binary`` columns with typed metadata.
The container has no image/audio libraries, so *decode is a
deterministic fake* (clearly marked): payloads are synthesized with an
8-byte header ``[width u16 | height u16 | channels u8 | kind u8 | pad
u16]`` (little-endian) followed by the document's utf-8 bytes, and
"decoding" parses that header.  Everything Spark-side — schema, binary
columns, Arrow batch shape through ``mapInPandas``, partitioning,
frame-sample explode — is real and tested; swapping the fake for PIL /
ffmpeg changes only the inner function.

Scale notes: payload bytes never route through the driver; decode is a
pure ``mapInPandas`` map stage (no shuffle); frame sampling is a
JVM-side explode.  Real pipelines hold payloads in object storage and
carry (uri, offset, length) instead of inline bytes — same plumbing.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zarr_datafusion_spark.session import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

_KINDS = ("image", "audio", "video")


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def synthesize_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, media_type, payload binary, declared_* meta).

    Deterministic fake payloads (see module docstring).  Header fields
    are computed with JVM-side Spark expressions; the byte packing
    itself runs in an Arrow-batched pandas UDF (struct.pack per row) —
    a real pipeline carries (uri, offset, length) instead of
    synthesizing payloads, so this Python stage exists only for the
    self-contained fixture.
    """
    docs = load_table(spark, sf_dir, "documents")
    kind_idx = (F.col("doc_id") % 3).cast("int")
    width = (128 + (F.col("doc_id") % 8) * 64).cast("int")
    height = (128 + (F.col("doc_id") % 5) * 64).cast("int")
    channels = F.when(kind_idx == 0, 3).otherwise(1).cast("int")

    @F.pandas_udf("binary")
    def pack(width: pd.Series, height: pd.Series, channels: pd.Series,
             kind: pd.Series, text: pd.Series) -> pd.Series:
        return pd.Series(
            struct.pack("<HHBBH", w, h, c, k, 0) + t.encode()
            for w, h, c, k, t in zip(width, height, channels, kind, text)
        )

    return docs.select(
        "doc_id",
        F.element_at(F.lit(list(_KINDS)), kind_idx + 1).alias("media_type"),
        pack(width, height, channels, kind_idx, F.col("text")).alias("payload"),
        width.alias("declared_width"),
        height.alias("declared_height"),
    )


@_q(
    "mm_synthesize",
    """SELECT doc_id,
              ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS media_type,
              CAST(8 + octet_length(encode(text)) AS INTEGER) AS payload_bytes,
              CAST(128 + (doc_id % 8) * 64 AS INTEGER) AS declared_width,
              CAST(128 + (doc_id % 5) * 64 AS INTEGER) AS declared_height
       FROM documents""",
)
def mm_synthesize(spark, sf_dir):
    """Binary-column synthesis + size accounting.  Oracle (added r4):
    every output column is doc_id arithmetic or utf-8 byte length, so
    DuckDB recomputes them from ``documents`` directly — proving the
    pack UDF emits exactly 8 header bytes + the utf-8 body."""
    m = synthesize_media(spark, sf_dir)
    return m.select(
        "doc_id",
        "media_type",
        F.length("payload").alias("payload_bytes"),
        "declared_width",
        "declared_height",
    )  # unsorted: a sort would re-run the pack UDF for range sampling


_FEATURES_SCHEMA = (
    "doc_id long, media_type string, width int, height int, channels int, "
    "aspect double, payload_bytes int, body_bytes int"
)


def decode_features(media: DataFrame) -> DataFrame:
    """Header "decode" via mapInPandas — the real-decoder slot.

    A true image decoder (PIL etc.) would replace ``_decode_batch``'s
    body; the Arrow batch shape, output schema, and partitioning are
    exactly what it would use.
    """

    def _decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            headers = pdf["payload"].map(lambda b: struct.unpack("<HHBBH", b[:8]))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "width": headers.map(lambda h: h[0]).astype("int32"),
                    "height": headers.map(lambda h: h[1]).astype("int32"),
                    "channels": headers.map(lambda h: h[2]).astype("int32"),
                    "aspect": headers.map(lambda h: h[0] / h[1]),
                    "payload_bytes": pdf["payload"].map(len).astype("int32"),
                    "body_bytes": pdf["payload"].map(lambda b: len(b) - 8).astype(
                        "int32"
                    ),
                }
            )

    return media.mapInPandas(_decode_batch, schema=_FEATURES_SCHEMA)


@_q(
    "mm_extract_features",
    """SELECT doc_id,
              ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS media_type,
              CAST(128 + (doc_id % 8) * 64 AS INTEGER) AS width,
              CAST(128 + (doc_id % 5) * 64 AS INTEGER) AS height,
              CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 1 END AS INTEGER) AS channels,
              CAST(128 + (doc_id % 8) * 64 AS DOUBLE)
                / CAST(128 + (doc_id % 5) * 64 AS DOUBLE) AS aspect,
              CAST(8 + octet_length(encode(text)) AS INTEGER) AS payload_bytes,
              CAST(octet_length(encode(text)) AS INTEGER) AS body_bytes
       FROM documents""",
)
def mm_extract_features(spark, sf_dir):
    """Decode/feature-extract stage (header parse stands in for the real
    decoder — container lacks image libs).  Oracle-checked: the fake
    payload is deterministic (header fields are doc_id arithmetic, body
    is the document's utf-8 bytes), so DuckDB recomputes every decoded
    value straight from ``documents`` — the differential proves the
    pack -> binary column -> mapInPandas parse round-trip is lossless,
    which is exactly the plumbing a real decoder would ride."""
    return decode_features(synthesize_media(spark, sf_dir))


@_q(
    "mm_frame_sample",
    """SELECT doc_id, frame_idx,
              CAST(8 + octet_length(encode(text)) AS INTEGER) AS payload_bytes
       FROM documents, generate_series(0, 299, 30) AS t(frame_idx)
       WHERE doc_id % 3 = 2""",
)
def mm_frame_sample(spark, sf_dir):
    """Frame sampling for video rows: one output row per sampled frame
    index (every 30th of a fake 300-frame clip) — JVM-side explode, the
    shape a video pipeline uses before per-frame decode.  Oracle: the
    same rows via generate_series over the video subset (doc_id%3=2)."""
    m = synthesize_media(spark, sf_dir).filter(F.col("media_type") == "video")
    return (
        m.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(299), F.lit(30))).alias("frame_idx"),
            F.length("payload").alias("payload_bytes"),
        )
    )


RESIZE_TARGET = 224  # the classic vision-model input edge


@_q(
    "mm_resize",
    f"""WITH g AS (
          SELECT doc_id,
                 CAST(128 + (doc_id % 8) * 64 AS INTEGER) AS width,
                 CAST(128 + (doc_id % 5) * 64 AS INTEGER) AS height
          FROM documents WHERE doc_id % 3 = 0
        ),
        s AS (
          SELECT *, {RESIZE_TARGET}.0 / greatest(width, height) AS sc FROM g
        )
        SELECT doc_id, width, height,
               CAST(round(width * sc) AS INTEGER) AS new_width,
               CAST(round(height * sc) AS INTEGER) AS new_height,
               CAST(CAST(round(width * sc) AS BIGINT)
                    * CAST(round(height * sc) AS BIGINT) * 3 AS BIGINT) AS out_bytes
        FROM s""",
)
def mm_resize(spark, sf_dir):
    """Resize stage for image rows: scale the longer edge to
    ``RESIZE_TARGET`` preserving aspect (integer math on the header —
    the real resampler slot sits in the same mapInPandas stage as the
    decoder).  Emits old/new geometry so tests can check the aspect
    invariant.

    Oracle (added r4) recomputes the geometry from doc_id arithmetic.
    Rounding parity: pandas ``.round()`` is half-even and DuckDB
    ``round()`` is half-away, but the fixture's scale ratios
    (224·a/b for a in 2..9, b in 2..6) never produce an exact .5
    fraction, so the two conventions agree on every occurring value;
    the oracle mirrors the Python association ``w * (224/long)`` so
    the doubles are bit-identical before rounding."""
    imgs = decode_features(
        synthesize_media(spark, sf_dir).filter(F.col("media_type") == "image")
    )

    def _resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            long_edge = pdf[["width", "height"]].max(axis=1)
            scale = RESIZE_TARGET / long_edge
            new_w = (pdf["width"] * scale).round().astype("int32")
            new_h = (pdf["height"] * scale).round().astype("int32")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "new_width": new_w,
                    "new_height": new_h,
                    "out_bytes": (new_w * new_h * pdf["channels"]).astype("int64"),
                }
            )

    return imgs.mapInPandas(
        _resize_batch,
        schema=(
            "doc_id long, width int, height int, new_width int, "
            "new_height int, out_bytes long"
        ),
    )


def decode_image_real(payload: bytes):
    """The real decoder hook: intentionally unimplemented here.

    Raises NotImplementedError — the container ships no image/audio
    codecs.  ``decode_features`` is the deterministic fake used by the
    pipeline; swap this in when PIL/ffmpeg are available.
    """
    raise NotImplementedError(
        "real media decode requires PIL/ffmpeg, not present in this container"
    )


# ---------------------------------------------------------------------------
# Audio windowing (round 4): the audio-specific stage, completing the
# per-modality trio (resize=image, frame_sample=video, windows=audio)
# ---------------------------------------------------------------------------

_AUDIO_WIN = 256

_AUDIO_ORACLE = f"""
    WITH a AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n
      FROM documents WHERE doc_id % 3 = 1
    ),
    w AS (
      SELECT doc_id, text, n,
             unnest(range(0, CAST(ceil(n / {_AUDIO_WIN}.0) AS BIGINT))) AS win
      FROM a
    ),
    s AS (
      SELECT doc_id, win,
             CAST(LEAST({_AUDIO_WIN}, n - win * {_AUDIO_WIN}) AS BIGINT) AS n_samples,
             substr(text, CAST(win * {_AUDIO_WIN} + 1 AS BIGINT), {_AUDIO_WIN}) AS seg
      FROM w
    )
    SELECT doc_id,
           CAST(win AS BIGINT) AS win,
           n_samples,
           CAST(list_sum(list_transform(range(1, CAST(len(seg) + 1 AS BIGINT)),
                                        i -> ord(substr(seg, i, 1)))) AS DOUBLE)
             / n_samples AS mean_amp
    FROM s
"""


@_q("mm_audio_windows", _AUDIO_ORACLE)
def mm_audio_windows(spark, sf_dir):
    """Fixed-length analysis windows over audio payloads: each audio
    row's body bytes are treated as 8-bit samples and segmented into
    {W}-sample windows with a per-window mean amplitude — the
    feature-extraction shape (RMS/energy per frame window) an audio
    pipeline runs before VAD or codec work.  Window explosion and the
    byte-level reduction run in one mapInPandas pass (numpy over the
    Arrow batch); a real DSP kernel replaces the mean without touching
    the plumbing.

    Oracle: the fake payload body is the document's utf-8 text (pure
    ASCII in the driver corpus, asserted in tests), so DuckDB recomputes
    each window's byte mean with ord() over the same segmentation —
    integer sums + one division, exact cross-engine.

    100 TB posture: map-only (no shuffle, no wide state); output is one
    row per window, and the per-row cost is linear in payload bytes —
    the same bytes-scanned denominator as every other map stage.
    """
    import numpy as np

    # prune before the Arrow boundary: mapInPandas serializes every
    # input column to the Python worker whether read or not
    audio = (
        synthesize_media(spark, sf_dir)
        .filter(F.col("media_type") == "audio")
        .select("doc_id", "payload")
    )

    def _win_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids, wins, counts, means = [], [], [], []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                body = np.frombuffer(payload, dtype=np.uint8)[8:]
                for w in range(-(-len(body) // _AUDIO_WIN)):
                    seg = body[w * _AUDIO_WIN : (w + 1) * _AUDIO_WIN]
                    doc_ids.append(did)
                    wins.append(w)
                    counts.append(len(seg))
                    means.append(int(seg.sum(dtype=np.int64)) / len(seg))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "win": pd.Series(wins, dtype="int64"),
                    "n_samples": pd.Series(counts, dtype="int64"),
                    "mean_amp": pd.Series(means, dtype="float64"),
                }
            )

    return audio.mapInPandas(
        _win_batch, schema="doc_id long, win long, n_samples long, mean_amp double"
    )

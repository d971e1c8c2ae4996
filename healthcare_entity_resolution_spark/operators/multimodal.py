"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata (training-data pipeline surface).

The Spark-side plumbing is real and tested — schemas, Arrow batch shapes,
``mapInPandas`` signatures, partitioning.  ``decode_image(fake=False)`` does
a REAL header-level decode for PNG / JPEG / GIF / BMP bytes with pure
stdlib ``struct`` parsing (dimensions + channel count from the container
headers; no codec library needed); payloads in no recognized container
come back ``ok=False``.  Full *pixel* decode would still require
PIL/libvips — swap :func:`parse_image_header` for ``PIL.Image.open`` in
production; the DataFrame contract does not change.  ``fake=True`` keeps
the deterministic byte-derived stand-in (stable across runs/partitionings)
for tests that need every payload to "decode".

Design notes for 100 TB:
- binary payloads ride in their own column so column pruning keeps them out
  of every query that doesn't touch them (Parquet/Iceberg column split);
- `spark.sql.execution.arrow.maxRecordsPerBatch` bounds bytes-per-batch in
  the UDF stages; repartition by size-bucket before heavy decode so one
  batch of 4K videos doesn't OOM an executor;
- features come back as fixed-length `array<float>` ready for ann.py.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_META_SCHEMA = (
    "media_id string, kind string, n_bytes long, sha256 string, "
    "declared_width int, declared_height int, declared_ms int"
)


def attach_media_metadata(
    df: DataFrame, id_col: str, bin_col: str, kind_col: str
) -> DataFrame:
    """Typed metadata columns computed JVM-side from the binary payload —
    no decode needed: byte length + content digest (lineage/dedup key)."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.col(kind_col).alias("kind"),
        F.length(F.col(bin_col)).cast("long").alias("n_bytes"),
        F.sha2(F.col(bin_col), 256).alias("sha256"),
    )


# ---------------------------------------------------------------------------
# decode / feature-extract (mapInPandas; codec stubbed)
# ---------------------------------------------------------------------------

DECODE_SCHEMA = "media_id string, width int, height int, n_channels int, ok boolean"
FEATURE_DIM = 16
FEATURE_SCHEMA = f"media_id string, features array<double>"


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for a real image decode: dimensions derived
    from the content digest (every payload 'decodes')."""
    h = hashlib.sha256(payload).digest()
    return 64 + h[0] % 192, 64 + h[1] % 192, 3


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color type -> samples per pixel (spec 11.2.2)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# JPEG SOF markers: 0xC0-0xCF minus DHT (C4), JPG (C8), DAC (CC)
_JPEG_SOF = {m for m in range(0xC0, 0xD0)} - {0xC4, 0xC8, 0xCC}


def parse_image_header(payload: bytes) -> tuple[int, int, int] | None:
    """Header-level image decode for PNG / JPEG / GIF / BMP: (width, height,
    n_channels) from the container header, pure stdlib — no codec library.
    Returns None when the bytes are not a recognized image container."""
    import struct

    n = len(payload)
    if n >= 24 and payload[:8] == _PNG_SIG and payload[12:16] == b"IHDR":
        w, h = struct.unpack(">II", payload[16:24])
        color_type = payload[25] if n > 25 else 6
        return w, h, _PNG_CHANNELS.get(color_type, 3)
    if n >= 4 and payload[:2] == b"\xff\xd8":
        # walk the marker stream to the first SOFn frame header
        i = 2
        while i + 3 < n:
            if payload[i] != 0xFF:
                return None  # broken marker stream
            marker = payload[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker == 0x01 or 0xD0 <= marker <= 0xD9:
                # TEM/RSTn/SOI/EOI: standalone markers, no length word
                i += 2
                continue
            if i + 4 > n:
                return None
            seg_len = struct.unpack(">H", payload[i + 2:i + 4])[0]
            if marker in _JPEG_SOF:
                if i + 10 > n:
                    return None
                h, w = struct.unpack(">HH", payload[i + 5:i + 9])
                return w, h, payload[i + 9]
            i += 2 + seg_len
        return None
    if n >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", payload[6:10])
        return w, h, 3  # palette entries are RGB triples
    if n >= 30 and payload[:2] == b"BM":
        w, h = struct.unpack("<ii", payload[18:26])
        bpp = struct.unpack("<H", payload[28:30])[0]
        return w, abs(h), max(1, bpp // 8)
    return None


def decode_image(
    df: DataFrame, id_col: str, bin_col: str, fake: bool = False
) -> DataFrame:
    """Decode stage: Arrow-batched binary in, dimensions out.

    ``fake=False`` (default) runs the REAL stdlib header parser
    (:func:`parse_image_header`) — PNG/JPEG/GIF/BMP payloads yield their
    actual dimensions and channel count; unrecognized payloads yield
    ``ok=False`` with null dimensions.  ``fake=True`` substitutes the
    deterministic digest-derived stand-in (every payload 'decodes')."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[bin_col]):
                parsed = (
                    _fake_decode(bytes(payload)) if fake
                    else parse_image_header(bytes(payload))
                )
                if parsed is None:
                    rows.append({"media_id": mid, "width": None, "height": None,
                                 "n_channels": None, "ok": False})
                else:
                    w, h, c = parsed
                    rows.append({"media_id": mid, "width": w, "height": h,
                                 "n_channels": c, "ok": True})
            yield pd.DataFrame(rows, columns=["media_id", "width", "height",
                                              "n_channels", "ok"])

    return df.select(id_col, bin_col).mapInPandas(run, schema=DECODE_SCHEMA)


def extract_byte_features(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """REAL (not stubbed) feature extractor: 16-bin byte histogram per
    payload, L1-normalized — numpy over Arrow batches, deterministic, and a
    faithful stand-in for an embedding model's batch shape."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf[bin_col]:
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                if arr.size == 0:
                    feats.append([0.0] * FEATURE_DIM)
                    continue
                hist = np.bincount(arr >> 4, minlength=FEATURE_DIM).astype(np.float64)
                feats.append((hist / hist.sum()).tolist())
            yield pd.DataFrame({"media_id": pdf[id_col], "features": feats})

    return df.select(id_col, bin_col).mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample_plan(
    df: DataFrame, id_col: str, duration_ms_col: str, every_ms: int = 1000
) -> DataFrame:
    """Video frame-sampling *plan*: one row per (media, frame_ts) — the
    explode is JVM-side; the actual frame grab would consume this plan in a
    decode stage like ``decode_image``."""
    ts = F.sequence(
        F.lit(0), F.greatest(F.col(duration_ms_col) - 1, F.lit(0)), F.lit(every_ms)
    )
    return df.select(
        F.col(id_col).alias("media_id"),
        F.explode(ts).alias("frame_ts_ms"),
    )

"""Multimodal media columns: opaque binary + typed metadata.

The reference decodes images with PIL/cv2 on local paths
(build-index.py:46-48, query-index.py:122-139).  At warehouse scale media
rides in tables as opaque ``binary`` columns with typed metadata structs
(or as `spark.read.format("binaryFile")` scans of object storage), and
decode/feature work happens in Arrow-batched mapInPandas — the Spark-side
plumbing (schema, partition sizing, UDF signature, batch shape) is what
this module makes real.

Image/audio libraries are not installed in this sandbox, so the actual
codec step is STUBBED: `_try_real_decode` attempts PIL behind an
import-try and otherwise falls back to a deterministic fake decoder that
parses the fixture header (fixtures put width/height/format in the first
bytes).  Everything around the stub — batching, schema, null-handling,
quarantine semantics — is real and tested.

MEDIA_SCHEMA:
    media_id string, kind string ('image'|'video'|'audio'),
    content binary, meta struct<width:int, height:int, format:string,
                                n_frames:int>

Audio reuses the header slots (documented, not overloaded silently):
width = sample_rate, height = 1, n_frames = n_samples — the decode pass
is modality-agnostic.
"""

from __future__ import annotations

import struct as _struct
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import SEED
from ..worker import drop_zip_finders

MEDIA_SCHEMA = (
    "media_id string, kind string, content binary, "
    "meta struct<width:int,height:int,format:string,n_frames:int>"
)

_MAGIC = b"FAKEMEDIA1"


def synth_media_bytes(
    media_id: str, width: int, height: int, fmt: str = "img",
    n_frames: int = 1, seed: int = SEED,
) -> bytes:
    """Deterministic fake media blob: magic + header + seeded payload.
    The payload length scales with the nominal pixel count so partition
    sizing behaves like real media."""
    rng = np.random.default_rng(
        (seed << 32)
        ^ int.from_bytes(media_id.encode()[:8].ljust(8, b"\0"), "little")
    )
    header = _MAGIC + _struct.pack(
        "<iii4s", width, height, n_frames, fmt.encode()[:4].ljust(4, b"\0")
    )
    payload = rng.integers(0, 256, size=max(16, width * height // 64),
                           dtype=np.uint8).tobytes()
    return header + payload


def make_media_df(spark, n_media: int = 50, seed: int = SEED) -> DataFrame:
    rng = np.random.default_rng(seed * 31 + 7)
    rows = []
    for i in range(n_media):
        kind = ("video" if i % 5 == 0
                else "audio" if i % 5 == 3 else "image")
        if kind == "audio":
            w, h = 16_000, 1  # sample_rate, mono
            nf = int(rng.integers(16_000, 160_000))  # n_samples
            fmt = "wav"
        else:
            w = int(rng.integers(64, 1920))
            h = int(rng.integers(64, 1080))
            nf = int(rng.integers(24, 240)) if kind == "video" else 1
            fmt = "mp4" if kind == "video" else "jpg"
        mid = f"media{i:05d}"
        blob = synth_media_bytes(mid, w, h, fmt, nf, seed)
        if i == 7:  # baked-in corrupt blob: decode must quarantine, not die
            blob = b"NOTMEDIA" + blob[8:]
        rows.append((mid, kind, bytearray(blob), (w, h, fmt, nf)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _try_real_decode(blob: bytes):
    """Attempt a real decoder (PIL) behind an import-try; None if the
    library is unavailable — callers fall through to the fake decoder."""
    try:  # pragma: no cover - PIL absent in this sandbox
        import io

        from PIL import Image  # noqa: F401

        return Image.open(io.BytesIO(blob))
    except Exception:
        return None


def _fake_decode(blob: bytes) -> tuple[int, int, int, str]:
    """Parse the fixture header -> (width, height, n_frames, fmt).
    Raises ValueError on non-media bytes (quarantine path)."""
    if not blob or bytes(blob[: len(_MAGIC)]) != _MAGIC:
        raise ValueError("undecodable media")
    w, h, nf, fmt = _struct.unpack(
        "<iii4s", bytes(blob[len(_MAGIC): len(_MAGIC) + 16])
    )
    return w, h, nf, fmt.rstrip(b"\0").decode()


DECODED_SCHEMA = (
    "media_id string, kind string, width int, height int, n_frames int, "
    "format string, payload_bytes long, mean_byte double, skip_reason string"
)


def decode_media(media: DataFrame) -> DataFrame:
    """Decode/feature-extract pass: one row per media item; undecodable
    blobs yield skip_reason rows (run continues — build-index.py:53-61)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                blob = bytes(r.content) if r.content is not None else b""
                real = _try_real_decode(blob)
                try:
                    if real is not None:  # pragma: no cover
                        w, h = real.size
                        nf, fmt = 1, (real.format or "").lower()
                    else:
                        w, h, nf, fmt = _fake_decode(blob)
                    body = np.frombuffer(blob[len(_MAGIC) + 16:],
                                         dtype=np.uint8)
                    out.append((r.media_id, r.kind, w, h, nf, fmt,
                                len(blob), float(body.mean()) if len(body)
                                else 0.0, None))
                except ValueError:
                    out.append((r.media_id, r.kind, None, None, None, None,
                                len(blob), None, "decode_error"))
            yield pd.DataFrame(
                out, columns=[
                    "media_id", "kind", "width", "height", "n_frames",
                    "format", "payload_bytes", "mean_byte", "skip_reason",
                ]
            )

    return media.mapInPandas(run, schema=DECODED_SCHEMA)


def frame_sample_plan(decoded: DataFrame, every_n: int = 24) -> DataFrame:
    """Video frame sampling plan: one row per sampled frame index —
    posexplode of a sequence, no Python.  Feeds the same encode UDF the
    image spans use (one shared vector space, README.md:8-10)."""
    vids = decoded.filter(
        (F.col("kind") == "video") & F.col("skip_reason").isNull()
        & (F.col("n_frames") >= 1)
    )
    return vids.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )

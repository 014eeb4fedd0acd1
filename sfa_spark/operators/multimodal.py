"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed through ``mapInPandas`` with real schemas,
partitioning, and batch shapes. The actual decode step is STUBBED — the
image/audio libraries are not in this container — behind
``decoder=`` hooks: pass a real decoder on a cluster that has one, or use
the deterministic fake (`fake_image_decoder`) in tests.

Schema convention:
  media(media_id long, kind string, payload binary,
        meta struct<width:int, height:int, channels:int,
                    sample_rate:int, duration_ms:int>)
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, channels:int, "
    "sample_rate:int, duration_ms:int>"
)


def not_implemented_decoder(payload: bytes, meta) -> np.ndarray:
    raise NotImplementedError(
        "media decode requires an image/audio library not present in this "
        "container; inject a real decoder (e.g. PIL/libsndfile-backed) here"
    )


def image_or_fake_decoder(payload: bytes, meta) -> np.ndarray:
    """Decoder for mixed corpora: PNG decodes via the stdlib PNG path,
    lossless WebP (VP8L) via the stdlib WebP path, and anything else
    (JPEG, GIF, lossy VP8, AVIF, …) falls back to the deterministic fake
    so pipelines keep moving with rows flagged by shape. Real codecs for
    the other formats are injected through the ``decoder=`` seam."""
    import struct as _struct
    import zlib as _zlib

    from sfa_spark.operators.png import decode_png
    from sfa_spark.operators.webp import decode_webp

    for dec in (decode_png, decode_webp):
        try:
            return dec(payload, meta)
        except (
            ValueError,
            NotImplementedError,
            KeyError,
            IndexError,
            _struct.error,
            _zlib.error,
        ):
            continue
    return fake_image_decoder(payload, meta)


def fake_image_decoder(payload: bytes, meta) -> np.ndarray:
    """Deterministic stand-in: payload bytes tiled into (h, w, c) uint8."""
    h, w, c = int(meta["height"]), int(meta["width"]), int(meta["channels"])
    arr = np.frombuffer(payload, dtype=np.uint8)
    need = h * w * c
    tiled = np.resize(arr if arr.size else np.zeros(1, np.uint8), need)
    return tiled.reshape(h, w, c)


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes, dict], np.ndarray] = not_implemented_decoder,
    pool: int = 8,
) -> DataFrame:
    """Decode → pooled-mean feature vector per media row.

    Spark-side contract (real, tested): Arrow batches in, per-batch numpy
    work, ``array<float>`` feature column out; repartition upstream if
    payloads are large (a batch holds maxRecordsPerBatch payloads).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                img = decoder(bytes(payload or b""), meta)
                h = (img.shape[0] // pool) * pool or img.shape[0]
                w = (img.shape[1] // pool) * pool or img.shape[1]
                # pool in float64: block sums of uint8 divided by a
                # power-of-two count are EXACT doubles, so the only
                # rounding is the final deterministic float32 quantize —
                # which makes the whole kernel oracle-able in plain SQL
                img = img[:h, :w].astype(np.float64)
                hp, wp = max(h // pool, 1), max(w // pool, 1)
                pooled = img[: hp * pool, : wp * pool].reshape(
                    hp, pool if h >= pool else h, wp, pool if w >= pool else w, -1
                ).mean(axis=(1, 3))
                feats.append(pooled.astype(np.float32).ravel().tolist())
            yield pd.DataFrame({"media_id": pdf["media_id"], "features": feats})

    return media.mapInPandas(run, schema="media_id long, features array<float>")


def resize_images(
    media: DataFrame,
    out_w: int,
    out_h: int,
    decoder: Callable[[bytes, dict], np.ndarray] = not_implemented_decoder,
) -> DataFrame:
    """Decode → nearest-neighbor resize → re-emit binary payload + meta."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, metas = [], []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                img = decoder(bytes(payload or b""), meta)
                ys = (np.arange(out_h) * img.shape[0] // out_h).clip(0, img.shape[0] - 1)
                xs = (np.arange(out_w) * img.shape[1] // out_w).clip(0, img.shape[1] - 1)
                out = img[ys][:, xs]
                payloads.append(out.astype(np.uint8).tobytes())
                metas.append(
                    {
                        "width": out_w,
                        "height": out_h,
                        "channels": int(img.shape[2]) if img.ndim == 3 else 1,
                        "sample_rate": None,
                        "duration_ms": None,
                    }
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": payloads,
                    "meta": metas,
                }
            )

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


def sample_frames(
    media: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Frame-sampling plan for video rows: (media_id, frame_idx, ts_ms)
    rows derived from metadata — the downstream decode consumes this plan.
    Pure built-ins (sequence/explode)."""
    v = media.filter(F.col("kind") == "video")
    return v.select(
        "media_id",
        F.posexplode(
            F.sequence(
                F.lit(0),
                F.greatest((F.col("meta.duration_ms") / every_ms).cast("int"), F.lit(0)),
            )
        ).alias("frame_idx", "_step"),
    ).select(
        "media_id", "frame_idx", (F.col("frame_idx") * every_ms).alias("ts_ms")
    )


def synth_media(spark, n: int = 64, seed: int = 5) -> DataFrame:
    """Deterministic fake media table for tests."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rng = np.random.default_rng((seed, int(i)))
                kind = ["image", "audio", "video"][int(i) % 3]
                w, h, c = int(rng.integers(16, 64)), int(rng.integers(16, 64)), 3
                rows.append(
                    {
                        "media_id": int(i),
                        "kind": kind,
                        "payload": rng.integers(0, 256, size=256, dtype=np.uint8).tobytes(),
                        "meta": {
                            "width": w,
                            "height": h,
                            "channels": c,
                            "sample_rate": 16000 if kind == "audio" else None,
                            "duration_ms": int(rng.integers(500, 5000))
                            if kind == "video"
                            else None,
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)

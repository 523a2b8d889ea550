"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata, processed by Arrow-batched pandas UDFs over ``mapInPandas``.

The actual image/audio codecs are NOT in this container, so the decode
step is an optional-dependency hook (all modes clearly marked):

- ``decoder='auto'`` (default) resolves a real codec — one registered
  via :func:`register_media_decoder`, else Pillow when importable —
  and falls back to the deterministic fake otherwise;
- ``decoder='strict'`` raises ``NotImplementedError`` when no real
  codec resolved;
- ``decoder='fake'`` forces the deterministic fake feature vector
  derived from the payload bytes — the Spark-side plumbing (schema,
  batch shape, partitioning, UDF signature) is real and tested; only
  the codec is substituted.

Schema convention::

    media(media_id string, kind string, payload binary,
          meta struct<width:int, height:int, sample_rate:int, n_frames:int>)
"""

from __future__ import annotations

import hashlib
import importlib.util
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MEDIA_FEATURES = StructType([
    StructField("media_id", StringType(), False),
    StructField("kind", StringType(), True),
    StructField("n_bytes", IntegerType(), False),
    StructField("feature", ArrayType(FloatType()), True),
])

FEATURE_DIM = 32


# --- optional-dependency codec hook -----------------------------------
_registered_decoder: Callable | None = None


def register_media_decoder(fn: Callable | None) -> None:
    """Plug a media codec globally: ``fn(kind, raw_bytes) ->
    list[float]`` (FEATURE_DIM floats). Takes precedence over
    auto-detection; ``None`` clears. Must be cloudpickle-serializable —
    it ships to executors in the mapInPandas closure."""
    global _registered_decoder
    _registered_decoder = fn


def _pillow_decode(kind: str, raw: bytes) -> list:
    """Real image decode, active only when Pillow is installed: decode,
    resize to an 8x4 grayscale thumbnail, normalize to [0, 1] — a
    FEATURE_DIM-float signature with the exact contract the fake
    decoder stubs."""
    if kind != "image":
        return _fake_decode(raw).tolist()
    import io

    from PIL import Image

    img = Image.open(io.BytesIO(raw)).convert("L").resize((8, 4))
    return [p / 255.0 for p in img.getdata()]


def active_media_decoder() -> Callable | None:
    """Registered codec, then auto-detected Pillow (find_spec only —
    zero import cost when absent), else ``None``."""
    if _registered_decoder is not None:
        return _registered_decoder
    if importlib.util.find_spec("PIL") is not None:
        return _pillow_decode
    return None


def _fake_decode(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic fake feature: sha256-seeded byte histogram.
    STUB — replaces the real image/audio decode (libs unavailable)."""
    if payload is None:
        payload = b""
    h = hashlib.sha256(payload).digest()
    base = np.frombuffer((h * ((dim * 4) // len(h) + 1))[: dim * 4], dtype=np.uint32)
    return (base % 1000).astype(np.float32) / 1000.0


def extract_media_features(
    media: DataFrame, decoder="auto", batch_limit: int = 256
) -> DataFrame:
    """media -> (media_id, kind, n_bytes, feature) via mapInPandas.

    ``decoder``: ``"auto"`` (default) uses the registered /
    auto-detected codec when one is present and falls back to the
    deterministic fake otherwise; ``"fake"`` forces the stub;
    ``"strict"`` raises unless a real codec resolved; a callable
    ``fn(kind, raw) -> list[float]`` is used directly.
    ``batch_limit`` re-chunks Arrow batches so a batch of large blobs
    cannot blow executor memory (binary columns dominate batch size).
    """
    codec: Callable | None
    if callable(decoder):
        codec = decoder
    elif decoder == "fake":
        codec = None
    else:
        codec = active_media_decoder()
        if codec is None and decoder == "strict":
            raise NotImplementedError(
                "decoder='strict' but no media codec is available: "
                "install Pillow or register_media_decoder(fn) with "
                "fn(kind, raw) -> list[float] and the same batch contract"
            )

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), batch_limit):
                part = pdf.iloc[start : start + batch_limit]
                feats, nbytes = [], []
                for kind, payload in zip(part["kind"], part["payload"]):
                    raw = bytes(payload) if payload is not None else b""
                    nbytes.append(len(raw))
                    if codec is None:
                        feats.append(_fake_decode(raw).tolist())
                    else:
                        feats.append([float(x) for x in codec(kind, raw)])
                yield pd.DataFrame(
                    {
                        "media_id": part["media_id"].tolist(),
                        "kind": part["kind"].tolist(),
                        "n_bytes": nbytes,
                        "feature": feats,
                    }
                )

    return media.select("media_id", "kind", "payload").mapInPandas(
        feature_batches, schema=MEDIA_FEATURES
    )


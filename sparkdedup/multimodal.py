"""Multimodal asset columns: typed binary payloads + Spark-side plumbing.

Images/audio/video are carried as opaque ``binary`` columns with typed
metadata, processed via ``mapInPandas`` (Arrow batches of bytes). The
actual codec work (decode/resize/frame-sample) requires image/audio
libraries that are NOT in this container, so the codec step is a
clearly-marked deterministic STUB behind ``_decode_stub`` — the Spark
side (schema, batch iteration, partition sizing, UDF signatures, output
contract) is real and tested.

At 100 TB the rules that matter here:
  * never collect_list binary payloads; everything streams through
    mapInPandas batch-by-batch;
  * decode fan-out (video -> frames) multiplies rows — cap frames per
    asset and repartition by byte size BEFORE the UDF so one executor
    doesn't get all the 4K videos (spark.sql.files.maxPartitionBytes
    handles the scan).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("mime", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("sha256", StringType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)


def _decode_stub(payload: bytes, kind: str, dim: int = 16) -> np.ndarray:
    """STUB: deterministic fake of a decoded-asset feature vector.

    A real deployment replaces this with PIL/ffmpeg/torchaudio decode +
    model features; this stub hashes the payload into a reproducible
    pseudo-feature so the Spark plumbing is testable end-to-end.
    """
    digest = hashlib.sha256(kind.encode() + payload).digest()
    raw = np.frombuffer((digest * ((dim * 4) // len(digest) + 1))[: dim * 4], dtype=np.uint32)
    return (raw.astype(np.float64) / np.iinfo(np.uint32).max).astype(np.float32)


def _decode_image_pil(payload: bytes, dim: int) -> np.ndarray:
    """REAL image decode via PIL (imported lazily INSIDE the worker so a
    cluster whose executors have Pillow installed lights up with no env
    changes here): decode -> grayscale -> 8x8 thumbnail -> normalized
    pixel vector truncated/padded to ``dim``. Raises if PIL is absent or
    the payload doesn't decode — callers fall back to the stub."""
    from io import BytesIO

    from PIL import Image

    img = Image.open(BytesIO(payload)).convert("L").resize((8, 8))
    px = np.asarray(img, dtype=np.float32).ravel() / 255.0
    if len(px) >= dim:
        return px[:dim]
    return np.pad(px, (0, dim - len(px)))


def _decode(payload: bytes, kind: str, dim: int, use_real: bool) -> np.ndarray:
    """Dispatch: real codec when enabled AND importable AND the payload
    decodes; the deterministic stub otherwise. Per-asset fallback — one
    corrupt payload must not fail the Arrow batch."""
    if use_real and kind == "image":
        try:
            return _decode_image_pil(payload, dim)
        except Exception:
            return _decode_stub(payload, kind, dim)
    return _decode_stub(payload, kind, dim)


def _codecs_available() -> bool:
    """True iff a real image codec imports in THIS process (evaluated
    worker-side inside the UDF, not on the driver)."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except Exception:
        return False


def extract_features(
    assets: DataFrame, dim: int = 16, use_real_codecs: bool | None = None
) -> DataFrame:
    """mapInPandas feature extraction over binary assets.

    ``use_real_codecs``: None (default) auto-detects per worker process
    — decode with real codec libs when importable, deterministic stub
    otherwise; True forces the real path (stub fallback per asset);
    False pins the stub (deterministic output regardless of installed
    libs — what the oracle queries use implicitly via sha256/n_bytes,
    which never depend on the decoder)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        use_real = _codecs_available() if use_real_codecs is None else use_real_codecs
        for pdf in batches:
            feats = [
                _decode(p if p is not None else b"", k, dim, use_real).tolist()
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "sha256": [hashlib.sha256(p or b"").hexdigest() for p in pdf["payload"]],
                    "feature": feats,
                }
            )

    return assets.mapInPandas(run, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_no", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(assets: DataFrame, max_frames: int = 8) -> DataFrame:
    """mapInPandas frame sampling for video assets (1 input row -> up to
    max_frames output rows). The frame decode is stubbed: deterministic
    byte slices stand in for decoded frames."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nos, frames = [], [], []
            for aid, kind, payload in zip(pdf["asset_id"], pdf["kind"], pdf["payload"]):
                if kind != "video" or payload is None or len(payload) == 0:
                    continue
                n = min(max_frames, max(1, len(payload) // 64))
                step = max(1, len(payload) // n)
                for i in range(n):
                    ids.append(aid)
                    nos.append(i)
                    # STUB: real impl decodes frame i*step/duration
                    frames.append(bytes(payload[i * step : i * step + 64]))
            yield pd.DataFrame({"asset_id": ids, "frame_no": nos, "frame": frames})

    return assets.mapInPandas(run, schema=FRAME_SCHEMA)


def exact_asset_dedup(assets: DataFrame) -> DataFrame:
    """Byte-identical asset dedup: first-wins by asset_id over the
    payload hash (same plan shape as exact.exact_hash_dedup)."""
    hashed = assets.withColumn("__h__", F.sha2(F.col("payload"), 256))
    firsts = hashed.groupBy("__h__").agg(F.min("asset_id").alias("asset_id"))
    return hashed.join(firsts, on=["__h__", "asset_id"], how="inner").drop("__h__")


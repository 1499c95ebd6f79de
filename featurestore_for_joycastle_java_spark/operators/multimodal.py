"""Multimodal column plumbing (north-star §2.3): image/audio/video as
opaque BinaryType columns + typed metadata, with decode / feature-extract
/ resize / frame-sample as Arrow-batched mapInPandas stages.

The container has no image/audio libraries, so the actual codecs are
STUBBED exactly as the north star prescribes: `decode_image` raises
NotImplementedError unless PIL is importable, and `fake_decode_features`
is a deterministic stand-in (md5-derived pseudo-metadata) that keeps the
Spark-side plumbing — schema, partitioning, UDF signature, Arrow batch
shape — fully real and testable.

Scale notes: blobs ride in the DataFrame as binary; mapInPandas streams
Arrow record batches (bounded by spark.sql.execution.arrow.
maxRecordsPerBatch) so executor memory is batch-bounded, not
partition-bounded. Keep blobs out of shuffle keys; repartition by an id
BEFORE decode so the expensive stage parallelizes evenly.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

#: Output schema of the (stubbed) image decode stage.
DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("blob_len", IntegerType()),
        StructField("feat_mean", DoubleType()),
    ]
)


def attach_blob(df: DataFrame) -> DataFrame:
    """Materialize a binary column ``blob`` (fixtures have no real images;
    utf-8 bytes of ``text`` stand in — the plumbing is identical)."""
    return df.withColumn("blob", F.encode(F.col("text"), "utf-8"))


def decode_image(blob: bytes):
    """Real image decode — stubbed: the imaging library isn't in this
    container. Plug PIL/pyvips here on a real cluster."""
    try:
        from PIL import Image  # noqa: F401
        import io

        return Image.open(io.BytesIO(blob))
    except ImportError as e:
        raise NotImplementedError(
            "image decoding requires PIL/pyvips (not installed in this "
            "container); use fake_decode_features for plumbing tests"
        ) from e


def _fake_meta(blob: bytes) -> tuple[int, int, int, float]:
    """Deterministic pseudo-metadata from the blob content (md5-derived) —
    the stand-in for a real decoder's (width, height, channels, feature)."""
    h = hashlib.md5(blob).digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    n_channels = 1 + h[2] % 4
    feat_mean = round(int.from_bytes(h[4:8], "big") / 0xFFFFFFFF, 6)
    return width, height, n_channels, feat_mean


def fake_decode_features(df: DataFrame) -> DataFrame:
    """The decode/feature-extract stage over mapInPandas: Arrow batches in,
    Arrow batches out, schema fixed by DECODED_SCHEMA. Swapping
    `_fake_meta` for a real decoder changes nothing on the Spark side."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [_fake_meta(b) for b in pdf["blob"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": [m[0] for m in metas],
                    "height": [m[1] for m in metas],
                    "n_channels": [m[2] for m in metas],
                    "blob_len": [len(b) for b in pdf["blob"]],
                    "feat_mean": [m[3] for m in metas],
                }
            )

    return df.select("doc_id", "blob").mapInPandas(decode_batches, DECODED_SCHEMA)


#: Output schema of the (stubbed) resize stage.
RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("scale_mille", IntegerType()),
    ]
)


def fake_resize(df: DataFrame, max_dim: int = 224) -> DataFrame:
    """The resize stage over mapInPandas, chained after the decode stage
    (two Arrow hops, the real multimodal pipeline shape): fit the decoded
    (width, height) into a ``max_dim`` box preserving aspect ratio.

    All integer arithmetic (``(w * max_dim) // max(w, h)``) so the
    stand-in is bit-reproducible in any engine — the oracle replays it
    exactly; a real pipeline swaps the body for PIL/pyvips ``resize`` and
    keeps the schema."""
    import numpy as np

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            w = pdf["width"].to_numpy(dtype="int64")
            h = pdf["height"].to_numpy(dtype="int64")
            mx = np.maximum(w, h)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": w,
                    "height": h,
                    "out_w": np.maximum(1, (w * max_dim) // mx),
                    "out_h": np.maximum(1, (h * max_dim) // mx),
                    "scale_mille": (max_dim * 1000) // mx,
                }
            )

    return df.select("doc_id", "width", "height").mapInPandas(
        resize_batches, RESIZED_SCHEMA
    )


def frame_sample_plan(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Video frame-sampling plumbing: explode each blob into n_frames
    (frame extraction itself stubbed — frames are deterministic slices of
    the blob). Shows the blob→rows fan-out shape: posexplode keeps frame
    index, blobs never enter a shuffle key."""
    frame_idx = F.sequence(F.lit(0), F.lit(n_frames - 1))
    exploded = df.select(
        "doc_id", "blob", F.posexplode(frame_idx).alias("pos", "frame_no")
    )
    frame_len = F.greatest(
        (F.octet_length("blob") / n_frames).cast("int"), F.lit(1)
    )
    return exploded.select(
        "doc_id",
        "frame_no",
        F.substring(
            F.col("blob").cast("string"),
            (F.col("frame_no") * frame_len + 1).cast("int"),
            frame_len,
        ).alias("frame_bytes_preview"),
    )

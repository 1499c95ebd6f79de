"""Multimodal-column queries (SURVEY.md §2.3): binary blob stats
(oracle-checked) and the stubbed decode pipeline (rows-only — the decode
stand-in is Python-side by design)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from featurestore_for_joycastle_java_spark.operators import multimodal as M
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import load_table


@query(
    "multimodal_blob_stats",
    oracle="""
SELECT doc_id,
       CAST(OCTET_LENGTH(ENCODE(text)) AS INT) AS blob_len,
       md5(text) AS blob_md5
FROM documents
""",
)
def multimodal_blob_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata entirely JVM-side: byte length + content
    hash of the blob (utf-8 text bytes standing in for media bytes)."""
    d = M.attach_blob(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.octet_length("blob").alias("blob_len"),
        F.md5("blob").alias("blob_md5"),
    )


@query(
    "multimodal_decode_features",
    # The decode stand-in is md5-derived, so the oracle replays the exact
    # byte arithmetic from the hex digest — the mapInPandas stage gets a
    # full value-hash check, not just a rows-only count.
    oracle="""
SELECT doc_id,
       CAST(64 + (('0x' || substr(md5(text), 1, 2))::INT % 192) AS INT) AS width,
       CAST(64 + (('0x' || substr(md5(text), 3, 2))::INT % 192) AS INT) AS height,
       CAST(1 + (('0x' || substr(md5(text), 5, 2))::INT % 4) AS INT) AS n_channels,
       CAST(OCTET_LENGTH(ENCODE(text)) AS INT) AS blob_len,
       ROUND((('0x' || substr(md5(text), 9, 8))::BIGINT) / 4294967295.0, 6)
           AS feat_mean
FROM documents
""",
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal pipeline shape: attach blob → Arrow-batched
    mapInPandas decode/feature-extract → typed rows."""
    d = M.attach_blob(load_table(spark, sf_dir, "documents"))
    return M.fake_decode_features(d)


@query(
    "multimodal_frame_sample",
    oracle="""
WITH f AS (
    SELECT doc_id, text,
           GREATEST(CAST(FLOOR(OCTET_LENGTH(ENCODE(text)) / 4.0) AS INT), 1)
               AS frame_len
    FROM documents)
SELECT doc_id,
       CAST(frame_no AS INT) AS frame_no,
       substr(text, frame_no * frame_len + 1, frame_len)
           AS frame_bytes_preview
FROM f, UNNEST([0, 1, 2, 3]) AS u(frame_no)
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: posexplode each blob into 4 frame
    slices — the blob→rows fan-out shape with frame indexes preserved."""
    d = M.attach_blob(load_table(spark, sf_dir, "documents"))
    return M.frame_sample_plan(d, n_frames=4).select(
        "doc_id",
        F.col("frame_no").cast("int").alias("frame_no"),
        "frame_bytes_preview",
    )


@query(
    "multimodal_resize",
    # Chained Arrow stages (decode -> resize) with a full value oracle:
    # both stand-ins are integer/md5 arithmetic the SQL replays exactly.
    oracle="""
WITH d AS (
    SELECT doc_id,
           64 + (('0x' || substr(md5(text), 1, 2))::INT % 192) AS width,
           64 + (('0x' || substr(md5(text), 3, 2))::INT % 192) AS height
    FROM documents)
SELECT doc_id,
       CAST(width AS INT) AS width,
       CAST(height AS INT) AS height,
       CAST(GREATEST(1, (width * 224) // GREATEST(width, height)) AS INT)
           AS out_w,
       CAST(GREATEST(1, (height * 224) // GREATEST(width, height)) AS INT)
           AS out_h,
       CAST(224000 // GREATEST(width, height) AS INT) AS scale_mille
FROM d
""",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode -> resize as TWO chained mapInPandas stages (the real
    multimodal pipeline shape: each stage its own Arrow hop, blobs never
    in a shuffle key): fit decoded dims into a 224 box, aspect
    preserved, integer-exact."""
    d = M.attach_blob(load_table(spark, sf_dir, "documents"))
    return M.fake_resize(M.fake_decode_features(d), max_dim=224)

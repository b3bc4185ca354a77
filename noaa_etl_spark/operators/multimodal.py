"""Multimodal column support (SURVEY.md §2.I multimodal_cols).

Model: a modality payload is an opaque ``BinaryType`` column plus a
typed metadata struct (uri, mime, n_bytes, width/height/duration as
applicable). All Spark-side plumbing — schemas, partitioning, Arrow
batch shapes, binaryFile ingest — is real and tested; the actual
decoders (image/audio libs are not in this environment) are stubbed
behind import-guards with a deterministic fake so pipelines are
end-to-end runnable and testable.

Scale notes: payloads ride in the DataFrame as binary — at 100 TB keep
payloads in the lake and carry (uri, byte_range) metadata instead,
materializing bytes only inside the mapInPandas batch that decodes
them; ``spark.read.format("binaryFile")`` with ``pathGlobFilter`` is
the ingest path for raw media directories.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEDIA_META_SCHEMA = "uri string, mime string, n_bytes bigint"
FEATURE_DIM = 8


def read_binary_dir(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """Ingest a directory of raw media files as (path, modificationTime,
    length, content) via the built-in binaryFile source."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )


def attach_payload(df: DataFrame, text_col: str = "text", uri_prefix: str = "mem://doc/") -> DataFrame:
    """Fixture adapter: materialize a binary payload + metadata struct
    from the documents table (utf-8 bytes stand in for media bytes)."""
    payload = F.col(text_col).cast("binary")
    return df.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.concat(F.lit(uri_prefix), F.col("doc_id").cast("string")).alias("uri"),
            F.lit("text/plain").alias("mime"),
            F.octet_length(payload).cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def _byte_histogram_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic fake feature extractor: normalized byte-value
    histogram folded into ``dim`` buckets. Stands in for a real
    image/audio encoder with identical Spark-side plumbing (binary in,
    fixed-length float vector out)."""
    counts = [0] * dim
    for b in payload:
        counts[b % dim] += 1
    total = float(len(payload)) or 1.0
    return [c / total for c in counts]


def featurize(df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id") -> DataFrame:
    """Batch feature extraction over binary payloads via mapInPandas —
    the batch-inference shape (Arrow batches of bytes in, fixed-dim
    vectors out; no shuffle; scales with input partitions)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "features": [
                        _byte_histogram_features(bytes(p)) for p in pdf[payload_col]
                    ],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        extract, f"{id_col} bigint, features array<double>"
    )


def frame_manifest(
    spark: SparkSession,
    path: str,
    glob: str = "*",
    frame_bytes: int = 256 * 1024,
) -> DataFrame:
    """(uri, frame_idx, byte_offset, n_bytes) manifest for LARGE media
    files — the video ingest path.

    binaryFile never splits a file, so whole-file ingest parallelism is
    capped at the file count (SCALING.md: 8 × 16 MB files leave 24 of 32
    cores idle). This manifest reads only file LISTINGS (the binary
    source skips content when the ``content`` column is pruned), then
    explodes each file into fixed-size byte ranges — millions of
    manifest rows from thousands of files, repartitionable to any
    parallelism. The shuffle moves ~40-byte metadata rows, never
    payload."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "length")
    )
    n_frames = F.ceil(F.col("length") / F.lit(frame_bytes)).cast("int")
    return files.select(
        F.col("path").alias("uri"),
        F.col("length"),
        F.posexplode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx", "_u"),
    ).select(
        "uri",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        (F.col("_u").cast("bigint") * frame_bytes).alias("byte_offset"),
        F.least(
            F.lit(frame_bytes).cast("bigint"),
            F.col("length") - F.col("_u").cast("bigint") * frame_bytes,
        ).alias("n_bytes"),
    )


def read_frame_ranges(manifest: DataFrame) -> DataFrame:
    """Ranged decode over a :func:`frame_manifest`: each mapInPandas
    batch opens its frame's file, seeks, reads exactly ``n_bytes``, and
    featurizes — I/O is deferred to the task that needs the bytes, so
    a 16 MB file decodes as 64 independent 256 KB tasks instead of one.
    On a real lake the open/seek/read is a ranged GET against the same
    uri; the local-file branch here is the test/fixture form (the
    deterministic featurizer stands in for the frame decoder)."""

    def ranged(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for uri, off, ln in zip(
                pdf["uri"], pdf["byte_offset"], pdf["n_bytes"]
            ):
                local = uri[len("file:"):] if uri.startswith("file:") else uri
                with open(local, "rb") as f:
                    f.seek(int(off))
                    payload = f.read(int(ln))
                feats.append(_byte_histogram_features(payload))
            yield pd.DataFrame(
                {
                    "uri": pdf["uri"],
                    "frame_idx": pdf["frame_idx"],
                    "byte_offset": pdf["byte_offset"],
                    "features": feats,
                }
            )

    return manifest.mapInPandas(
        ranged,
        "uri string, frame_idx bigint, byte_offset bigint, features array<double>",
    )


def sample_frames(df: DataFrame, every_n_bytes: int = 64, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """'Frame sampling' stub over binary payloads: emit one row per
    fixed-size byte window (the video frame-sample shape: one payload →
    many frames, each with an index + its own payload slice). Pure
    native expressions (sequence + transform + explode + substring on
    binary is not supported — slice via substr on base64 would copy;
    instead emit (frame_idx, offset) metadata and leave byte slicing to
    the decode UDF, which is how a real pipeline defers I/O)."""
    n_frames = F.ceil(F.octet_length(F.col(payload_col)) / F.lit(every_n_bytes)).cast("int")
    return df.select(
        id_col,
        F.posexplode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx", "frame_offset_units"),
    ).select(
        id_col,
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        (F.col("frame_offset_units") * every_n_bytes).cast("bigint").alias("byte_offset"),
    )

"""X4: multimodal columns — image/audio/video as opaque ``binary``
payloads with a typed metadata struct, plus the decode / feature /
frame-sampling plumbing a 100 TB media pipeline needs.

Schema convention (the engine's contract for media tables):

    media_id   LONG      -- stable key
    kind       STRING    -- 'image' | 'audio' | 'video' | 'text'
    content    BINARY    -- opaque payload bytes (or NULL + uri set)
    uri        STRING    -- object-store pointer when bytes stay cold
    meta       STRUCT<mime STRING, width INT, height INT,
                      duration_ms INT, sample_rate INT>

Design for scale: payload bytes ride Arrow batches into pandas kernels
(mapInPandas — O(batch) memory); metadata-only plans (frame sampling,
stats) never touch ``content`` thanks to Parquet column pruning — a
scan computing n_frames from ``meta.duration_ms`` reads kilobytes per
row group, not the payloads.

Real codec decode (PIL/librosa/av) is NOT available in this
environment: ``decode_image_batches`` raises NotImplementedError unless
PIL is importable, and ``fake_decode_batches`` provides a deterministic
stand-in (dimensions derived from the payload's md5) so every piece of
Spark-side plumbing — schema, Arrow batch shape, partitioning — is
exercised and oracle-checked end to end.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

try:  # pragma: no cover - PIL is absent in this environment
    from PIL import Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

MEDIA_META_DDL = (
    "STRUCT<mime: STRING, width: INT, height: INT, "
    "duration_ms: INT, sample_rate: INT>"
)


def text_as_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Adapter: wrap a text corpus in the media schema (utf-8 payload
    bytes) — the fixture path for exercising binary plumbing."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit("text").alias("kind"),
        F.encode(F.col(text_col), "utf-8").alias("content"),
        F.lit(None).cast("string").alias("uri"),
        F.named_struct(
            F.lit("mime"), F.lit("text/plain"),
            F.lit("width"), F.lit(None).cast("int"),
            F.lit("height"), F.lit(None).cast("int"),
            F.lit("duration_ms"), (F.length(text_col) * 10).cast("int"),
            F.lit("sample_rate"), F.lit(None).cast("int"),
        ).alias("meta"),
    )


def binary_stats(df: DataFrame) -> DataFrame:
    """Payload stats without Python: byte size + md5 fingerprint, all
    JVM-side Column expressions over the binary column."""
    return df.select(
        "media_id",
        F.octet_length("content").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


def frame_sample_plan(df: DataFrame, every_ms: int) -> DataFrame:
    """Video frame-sampling *plan*: offsets to decode, computed purely
    from metadata (content column never read — column pruning keeps
    payloads cold)."""
    offsets = F.sequence(
        F.lit(0), F.col("meta.duration_ms").cast("int"), F.lit(every_ms)
    )
    return df.select(
        "media_id",
        F.size(offsets).alias("n_frames"),
        F.element_at(offsets, -1).alias("last_offset_ms"),
    )


def fake_decode_kernel(content: bytes | None) -> tuple[int, int]:
    """Deterministic stand-in for image decode: pseudo dimensions from
    the payload digest. Replace with a real codec in production."""
    if content is None:
        return (0, 0)
    h = hashlib.md5(content).hexdigest()
    return (1 + int(h[:4], 16) % 1920, 1 + int(h[4:8], 16) % 1080)


def fake_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel shape for decode/feature-extract: consumes
    (media_id, content) Arrow batches, emits typed features. Memory is
    O(batch); tune spark.sql.execution.arrow.maxRecordsPerBatch down
    when payloads are MBs."""
    for pdf in batches:
        dims = pdf["content"].map(fake_decode_kernel)
        yield pd.DataFrame(
            {
                "media_id": pdf["media_id"],
                "width": dims.map(lambda t: t[0]).astype("int32"),
                "height": dims.map(lambda t: t[1]).astype("int32"),
            }
        )


def decode_image_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Real image decode via PIL — unavailable in this environment.

    The Spark-side contract is identical to fake_decode_batches; only
    the kernel body differs.
    """
    if not HAVE_PIL:
        raise NotImplementedError(
            "image decode requires PIL, which is not installed; use "
            "fake_decode_batches for plumbing tests"
        )
    import io

    for pdf in batches:  # pragma: no cover - needs PIL
        out = []
        for media_id, content in zip(pdf["media_id"], pdf["content"]):
            with Image.open(io.BytesIO(content)) as im:
                out.append((media_id, im.width, im.height))
        yield pd.DataFrame(out, columns=["media_id", "width", "height"])


def decode_features(df: DataFrame) -> DataFrame:
    """Run the decode kernel (the deterministic ``fake_decode_batches``
    stand-in; ``decode_image_batches`` has the same contract) over
    (media_id, content) with the standard output schema."""
    return df.select("media_id", "content").mapInPandas(
        fake_decode_batches, "media_id LONG, width INT, height INT"
    )


def resize_plan(features: DataFrame, max_side: int) -> Column:
    """Scale factor per image so the long side fits max_side — metadata
    math that stays in codegen; the actual resample belongs in a decode
    kernel."""
    long_side = F.greatest("width", "height")
    return F.when(long_side <= max_side, F.lit(1.0)).otherwise(
        max_side / long_side.cast("double")
    )

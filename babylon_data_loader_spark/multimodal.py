"""Multimodal column support: image/audio/video as opaque BINARY
columns with typed metadata, processed through Arrow-batched
`mapInPandas` stages.

Decoding is REAL for the formats the container can handle from first
principles (functions/media_codecs.py: BMP/PPM/PNG images, PCM16 WAV
audio — byte-level codecs over stdlib + numpy); Pillow extends image
coverage when importable. Unsupported payloads raise so features are
never silently garbage. `fake=True` keeps the deterministic fake
decode for plumbing tests that exercise the batch shape without
caring about pixels.

At 100 TB: binary payloads dominate row size — keep them in their own
table keyed by content hash, set `spark.sql.files.maxPartitionBytes`
low enough that a task's batch of payloads fits executor memory, and
NEVER collect payload columns. The metadata/features table (hash,
width, height, duration, …) is the join surface for analytics.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sha256", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
    ]
)

AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sha256", StringType()),
        StructField("n_bytes", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("duration_s", DoubleType()),
        StructField("rms", DoubleType()),
        StructField("peak", IntegerType()),
    ]
)


def _image_features(payload: bytes, fake: bool) -> tuple:
    """(width, height, mean_r, mean_g, mean_b) for one payload."""
    if fake:
        # Deterministic fake: dims/means derived from payload bytes —
        # exercises the distributed plumbing without real pixels.
        h = sum(payload[:16]) if payload else 0
        return (
            64 + h % 512,
            64 + (h * 7) % 512,
            float(h % 256),
            float((h * 3) % 256),
            float((h * 5) % 256),
        )
    from babylon_data_loader_spark.functions.media_codecs import decode_image

    px = decode_image(payload)  # HxWx3 uint8; raises on unsupported
    means = px.astype("float64").mean(axis=(0, 1))
    return (
        int(px.shape[1]),
        int(px.shape[0]),
        float(means[0]),
        float(means[1]),
        float(means[2]),
    )


def extract_image_features(media: DataFrame, fake: bool = False) -> DataFrame:
    """BINARY column → image feature rows via Arrow-batched mapInPandas.

    The UDF sees pandas batches (whole Arrow record batches, not rows);
    payload bytes never round-trip through the driver.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                width, height, mr, mg, mb = _image_features(data, fake)
                rows.append(
                    (
                        media_id,
                        hashlib.sha256(data).hexdigest(),
                        len(data),
                        width,
                        height,
                        mr,
                        mg,
                        mb,
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in IMAGE_FEATURES_SCHEMA.fields]
            )

    src = media.filter(F.col("kind") == "image").select("media_id", "payload")
    return src.mapInPandas(batches, IMAGE_FEATURES_SCHEMA)


def resize_images(
    media: DataFrame, out_w: int, out_h: int
) -> DataFrame:
    """Decode → nearest-neighbor resize → re-encode (BMP), all inside
    Arrow-batched mapInPandas; returns MEDIA_SCHEMA so it composes
    with extract_image_features / dedup_media_by_content.

    Nearest-neighbor with the integer index map src = (dst·in)//out is
    fully deterministic (no float resampling kernel), which is what
    lets a solid-color fixture carry an exact arithmetic oracle
    through the resize. At 100 TB this is the normalize-before-embed
    step: payload bytes stay executor-side, batch shape is the Arrow
    record batch, and the output column is again an opaque BINARY."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from babylon_data_loader_spark.functions.media_codecs import (
            decode_image,
            encode_bmp,
            nn_resize,
        )

        for pdf in it:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                px = decode_image(bytes(payload))
                resized = nn_resize(px, out_w, out_h)
                rows.append(
                    (
                        int(media_id),
                        "image",
                        encode_bmp(resized),
                        "image/bmp",
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
            )

    src = media.filter(F.col("kind") == "image").select(
        "media_id", "payload"
    )
    return src.mapInPandas(batches, MEDIA_SCHEMA)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """BINARY column → audio feature rows (real PCM16 WAV decode)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import math

        from babylon_data_loader_spark.functions.media_codecs import (
            decode_wav,
        )

        for pdf in it:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                samples, sr = decode_wav(data)
                n, ch = samples.shape
                x = samples.astype("float64")
                rows.append(
                    (
                        media_id,
                        hashlib.sha256(data).hexdigest(),
                        len(data),
                        sr,
                        ch,
                        n,
                        n / sr,
                        math.sqrt(float((x * x).mean())) if n else 0.0,
                        int(abs(samples).max()) if n else 0,
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields]
            )

    src = media.filter(F.col("kind") == "audio").select("media_id", "payload")
    return src.mapInPandas(batches, AUDIO_FEATURES_SCHEMA)


def dedup_media_by_content(media: DataFrame) -> DataFrame:
    """Exact payload dedup: content-hash groupBy keeping min media_id —
    sha2 runs JVM-side on the binary column (no Python)."""
    return (
        media.withColumn("content_hash", F.sha2(F.col("payload"), 256))
        .groupBy("content_hash")
        .agg(
            F.min("media_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# -- deterministic synthetic media (generation is distributed too) -----------


def synthetic_image_table(
    spark, n: int = 200, dup_every: int | None = None
) -> DataFrame:
    """`n` solid-color BMP payloads with analytically-known features:
    content id j → width 8+(j%32), height 8+((7j)%32), color
    ((37j)%256, (59j)%256, (83j)%256). Generated inside mapInPandas —
    payload bytes are born on executors, never on the driver.

    `dup_every=k` derives the CONTENT from j = i - i%k while media_id
    stays i, planting exact duplicate payloads in runs of k — the
    fixture for content-hash dedup with an analytic oracle."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from babylon_data_loader_spark.functions.media_codecs import (
            encode_bmp,
        )

        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                j = i - i % dup_every if dup_every else i
                w, h = 8 + j % 32, 8 + (7 * j) % 32
                color = [(37 * j) % 256, (59 * j) % 256, (83 * j) % 256]
                px = np.tile(
                    np.array(color, dtype=np.uint8), (h, w, 1)
                )
                rows.append((i, "image", encode_bmp(px), "image/bmp"))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
            )

    return spark.range(n, numPartitions=_gen_partitions(spark, n)).mapInPandas(
        gen, MEDIA_SCHEMA
    )


def _gen_partitions(spark, n: int) -> int:
    """Partition count for synthetic generation: enough for parallelism
    at real n, but bounded below default parallelism for tiny fixtures
    — every partition costs a Python-worker cold start (numpy import)
    on first use, which dwarfs the work for a few hundred rows."""
    default = spark.sparkContext.defaultParallelism
    return max(1, min(default, n // 32 or 1))


def synthetic_audio_table(spark, n: int = 200) -> DataFrame:
    """`n` constant-amplitude PCM16 WAV payloads with analytically-known
    features: id i → 1000+10i samples at 8000/16000 Hz (by parity),
    every sample = 100+i."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from babylon_data_loader_spark.functions.media_codecs import (
            encode_wav,
        )

        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                n_samples = 1000 + 10 * i
                sr = 8000 if i % 2 == 0 else 16000
                samples = np.full(n_samples, 100 + i, dtype=np.int16)
                rows.append((i, "audio", encode_wav(samples, sr), "audio/wav"))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
            )

    return spark.range(n, numPartitions=_gen_partitions(spark, n)).mapInPandas(
        gen, MEDIA_SCHEMA
    )


VIDEO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sha256", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("fps", IntegerType()),
        StructField("duration_s", DoubleType()),
        StructField("mean_y", DoubleType()),
    ]
)


def extract_video_features(media: DataFrame) -> DataFrame:
    """BINARY column → video feature rows (real Y4M container parse).

    Container metadata (dims / frame count / duration) is O(1) header
    arithmetic per payload — no pixel decode; `mean_y` comes from
    FRAME-SAMPLING: up to 3 frames (first / evenly
    spaced / last) are random-access decoded, never the whole clip.
    That is the shape a 100 TB video table needs: metadata pass cheap,
    pixel pass bounded per row regardless of clip length.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np

        from babylon_data_loader_spark.functions.media_codecs import (
            decode_y4m_frame,
            y4m_info,
        )

        for pdf in it:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                info = y4m_info(data)
                n = info["n_frames"]
                k = min(3, n)
                idxs = sorted(
                    {int(round(j * (n - 1) / max(k - 1, 1))) for j in range(k)}
                )
                ys = [
                    decode_y4m_frame(data, i)[:, :, 0].astype("float64")
                    for i in idxs
                ]
                mean_y = float(np.mean([y.mean() for y in ys])) if ys else 0.0
                rows.append(
                    (
                        media_id,
                        hashlib.sha256(data).hexdigest(),
                        len(data),
                        info["width"],
                        info["height"],
                        n,
                        info["fps_num"],
                        info["duration_s"],
                        mean_y,
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in VIDEO_FEATURES_SCHEMA.fields]
            )

    src = media.filter(F.col("kind") == "video").select("media_id", "payload")
    return src.mapInPandas(batches, VIDEO_FEATURES_SCHEMA)


def synthetic_video_table(spark, n: int = 200) -> DataFrame:
    """`n` constant-plane Y4M clips with analytically-known features:
    id i → width 8+(i%16), height 8+((3i)%16), 5+(i%7) frames at
    24/30 fps (by parity), planes Y=(29i)%256 U=(43i)%256 V=(71i)%256.
    Constant planes make mean_y exact under any frame sampling."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from babylon_data_loader_spark.functions.media_codecs import (
            encode_y4m,
        )

        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                w, h = 8 + i % 16, 8 + (3 * i) % 16
                nf = 5 + i % 7
                fps = 24 if i % 2 == 0 else 30
                yuv = np.empty((nf, h, w, 3), dtype=np.uint8)
                yuv[..., 0] = (29 * i) % 256
                yuv[..., 1] = (43 * i) % 256
                yuv[..., 2] = (71 * i) % 256
                rows.append((i, "video", encode_y4m(yuv, fps), "video/x-y4m"))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
            )

    return spark.range(n, numPartitions=_gen_partitions(spark, n)).mapInPandas(
        gen, MEDIA_SCHEMA
    )


def resample_audio(media: DataFrame, target_sr: int) -> DataFrame:
    """Audio rows → WAV payloads resampled to `target_sr` via linear
    interpolation (functions/media_codecs.py::linear_resample), the
    audio twin of resize_images: decode → integer-exact index-map
    kernel → re-encode, all inside one Arrow mapInPandas batch — bytes
    never leave the executor, the driver sees only the new BINARY
    column. Output n_samples = floor(n·target/sr)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from babylon_data_loader_spark.functions.media_codecs import (
            decode_wav,
            encode_wav,
            linear_resample,
        )

        for pdf in it:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                samples, sr = decode_wav(bytes(payload))
                out = linear_resample(samples, sr, target_sr)
                rows.append(
                    (
                        int(media_id),
                        "audio",
                        encode_wav(out, target_sr),
                        "audio/wav",
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
            )

    src = media.filter(F.col("kind") == "audio").select(
        "media_id", "payload"
    )
    return src.mapInPandas(batches, MEDIA_SCHEMA)

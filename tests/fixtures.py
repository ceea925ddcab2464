"""Test-data builders the library itself never needs: image encoders
for codec round trips and the sampled-seed codebook for det-ANN
store tests."""

from __future__ import annotations

import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from babylon_data_loader_spark.operators.det_ann import quantize_vec

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def encode_ppm(pixels: np.ndarray) -> bytes:
    """HxWx3 uint8 RGB → binary PPM (P6)."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    return f"P6\n{w} {h}\n255\n".encode() + px.tobytes()


def encode_png(pixels: np.ndarray) -> bytes:
    """HxWx3 uint8 RGB → PNG (8-bit truecolor, filter 0)."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + px[r].tobytes() for r in range(h))
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def det_seed_codebook(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[int]]]:
    """The sampled-seed coarse codebook: quantized vectors of the k
    LOWEST ids (ids are contiguous from 0 in the corpus tables, so
    ``id < k`` selects them)."""
    rows = (
        emb.where(F.col(id_col) < k)
        .select(id_col, quantize_vec(F.col(vec_col)).alias("q"))
        .collect()
    )
    return sorted(
        (int(r[id_col]), [int(x) for x in r["q"]]) for r in rows
    )

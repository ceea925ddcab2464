"""Per-file Bloom-filter sidecars for lake POINT lookups.

Min/max stats (operators/lake_stats.py) prune ranges, but only if the
files are clustered on the probed column; a point lookup on an
UNCLUSTERED key (the reference's GetTransactionByID shape,
apiClient/apiClient.go:188-243) overlaps every file's [min, max] and
degenerates to a scan. Bloom filters fix exactly this: a 1 KiB bitset
per (file, key column) answers "definitely not in this file" with no
false negatives, so an id probe opens only the files whose filter
fires — Delta and Iceberg ship the same mechanism for the same
reason.

- **Build** happens at version-write time (where the stats sidecar is
  written): executors read ONLY the key column of their files via
  pyarrow and emit hex-encoded bitsets; the sidecar is parquet beside
  the data, removed with the version by vacuum.
- **Probe**: the query value hashes driver-side into k positions;
  files whose bitset has all k bits set are read (plus files with no
  filter — conservative, never over-prunes).
- Sizing: 8192 bits / 5 hashes ≈ 0.1% false-positive rate at ~600
  distinct keys per file; FPR only costs an extra file read, never
  correctness.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from babylon_data_loader_spark.session import local_frame

BLOOM_SIDECAR = "_bloom"
N_BITS = 8192
N_HASHES = 5

BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("subdir", T.StringType()),
        T.StructField("file", T.StringType()),
        T.StructField("column", T.StringType()),
        # hex bitset; None when the file's column could not be read
        # (no filter: the file is always kept)
        T.StructField("bits_hex", T.StringType()),
        T.StructField("n_bits", T.LongType()),
    ]
)


def bloom_positions(value: object) -> list[int]:
    """The N_HASHES bit positions (of N_BITS) for a value
    (md5-derived, engine-independent: values hash by their canonical
    string form)."""
    digest = hashlib.md5(str(value).encode("utf-8")).digest()
    digest += hashlib.md5((str(value) + "#salt2").encode("utf-8")).digest()
    return [
        int.from_bytes(digest[i * 4 : (i + 1) * 4], "big") % N_BITS
        for i in range(N_HASHES)
    ]


def _file_bloom(path: str, col: str) -> str | None:
    """Hex bitset over one file's column values (column-only read)."""
    import pyarrow.parquet as pq

    try:
        table = pq.read_table(path, columns=[col])
    except Exception:
        return None
    bits = bytearray(N_BITS // 8)
    for chunk in table.column(col).chunks:
        for v in chunk:
            v = v.as_py()
            if v is None:
                continue
            for pos in bloom_positions(v):
                bits[pos // 8] |= 1 << (pos % 8)
    return bits.hex()


def write_bloom_sidecar(
    spark: SparkSession,
    version_dir: str,
    partition_prefix: str,
    bloom_cols: list[str],
) -> None:
    """Build and persist ``<version_dir>/_bloom`` for this version's
    files — same listing scope and executor-side harvesting as the
    stats sidecar."""
    files = [
        (subdir, f)
        for subdir in sorted(os.listdir(version_dir))
        if subdir.startswith(partition_prefix)
        for f in sorted(os.listdir(os.path.join(version_dir, subdir)))
        if f.endswith(".parquet")
    ]
    if not files or not bloom_cols:
        return
    cols = list(bloom_cols)
    n_parts = max(1, min(32, len(files) // 64 + 1))
    paths = local_frame(
        spark, files, "subdir string, file string"
    ).repartition(n_parts)

    def harvest(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for subdir, rel in zip(pdf["subdir"], pdf["file"]):
                full = os.path.join(version_dir, subdir, rel)
                for col in cols:
                    rows.append(
                        {
                            "subdir": subdir,
                            "file": rel,
                            "column": col,
                            "bits_hex": _file_bloom(full, col),
                            "n_bits": N_BITS,
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    blooms = paths.mapInPandas(harvest, schema=BLOOM_SCHEMA)
    blooms.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(version_dir, BLOOM_SIDECAR)
    )


def bloom_keep_files(
    spark: SparkSession,
    version_dir: str,
    subdirs: list[str],
    col: str,
    value: object,
) -> dict[str, list[str]] | None:
    """Files in ``subdirs`` whose Bloom filter may contain ``value``
    (files without a filter are kept). None when the version predates
    bloom sidecars — caller reads the subdirs whole."""
    sidecar = os.path.join(version_dir, BLOOM_SIDECAR)
    if not os.path.isdir(sidecar):
        return None
    parts = [
        os.path.join(sidecar, f)
        for f in sorted(os.listdir(sidecar))
        if f.endswith(".parquet")
    ]
    if not parts:
        return None
    rows = (
        spark.read.schema(BLOOM_SCHEMA)
        .parquet(*parts)
        .filter(F.col("subdir").isin(subdirs) & (F.col("column") == col))
        .collect()  # O(files in touched subdirs) — index metadata
    )
    covered: dict[tuple[str, str], bool] = {}
    positions = bloom_positions(value)
    for r in rows:
        hit = True
        if r["bits_hex"] is not None:
            bits = bytes.fromhex(r["bits_hex"])
            hit = all(
                bits[p // 8] & (1 << (p % 8)) for p in positions
            )
        covered[(r["subdir"], r["file"])] = hit
    out: dict[str, list[str]] = {s: [] for s in subdirs}
    listed = {
        (s, f)
        for s in subdirs
        for f in sorted(os.listdir(os.path.join(version_dir, s)))
        if f.endswith(".parquet")
    }
    for s, f in sorted(listed):
        # no sidecar row for a data file ⇒ conservative keep
        if covered.get((s, f), True):
            out[s].append(f)
    return out

"""Delta Lake commit-log export bridge for the transactional lake.

The tx lake (operators/tx_lake.py) is a faithful homegrown Delta
analog — atomic manifest swap, time travel, CDF, vacuum — but its
manifest format is private. This module emits the EQUIVALENT Delta
Lake transaction log for the current version, so external engines
that speak the open Delta protocol (Spark+delta-rs, DuckDB `delta`,
Trino, Polars) can read the lake's current state without copying a
byte of data: `add` actions use absolute file URIs into the lake's
immutable version directories, which the Delta spec explicitly allows.

Reference parity: the reference's collections were readable by any
Mongo client (/root/reference/storage/mongo.go:14-16) — interop with
a standard on-disk contract is the lake-world equivalent.

Log layout written under `<out_path>/_delta_log/`:
    00000000000000000000.json   one commit: protocol, metaData,
                                one `add` per live parquet file

Only the actions a static snapshot needs are emitted (protocol v1
reader: no deletion vectors, no column mapping); each export is a
fresh single-commit table describing the lake's current version.
"""

from __future__ import annotations

import json
import os
import uuid
from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession


def _live_files(manifest: dict, lake) -> list[tuple[str, str, str]]:
    """[(abs_file_path, partition_subdir, partition_value)] for every
    live parquet file of ``lake`` at ``manifest``."""
    out = []
    for subdir, dirs in sorted(manifest["partitions"].items()):
        pval = lake._subdir_value(subdir)
        for d in sorted(dirs):
            base = (
                lake.lake_path
                if d == "."
                else os.path.join(lake.lake_path, d)
            )
            pdir = os.path.join(base, subdir)
            if not os.path.isdir(pdir):
                continue
            for f in sorted(os.listdir(pdir)):
                if f.endswith(".parquet") and not f.startswith((".", "_")):
                    out.append((os.path.join(pdir, f), subdir, pval))
    return out


def export_delta_log(spark: SparkSession, lake, out_path: str) -> dict:
    """Write a Delta transaction log describing `lake`'s current state
    under `out_path/_delta_log/`.

    Data files are NOT copied — `add.path` entries are absolute
    `file:` URIs into the lake's immutable version dirs (allowed by
    the Delta protocol; the lake's vacuum keeps committed versions, so
    the referenced files outlive the export). Returns a summary dict
    {version, n_files, n_bytes, log_path}. O(live files) driver work:
    one os.stat per file, no data read."""
    manifest = lake.current_manifest()
    files = _live_files(manifest, lake)
    # Schema comes from one representative file via Spark (column
    # pruning means this reads footer metadata only), plus the
    # partition column the directory layout encodes.
    if not files:
        raise FileNotFoundError(f"no live files in lake {lake.lake_path}")
    sample = spark.read.parquet(files[0][0])
    from pyspark.sql.types import StringType, StructField, StructType

    fields = list(sample.schema.fields)
    if lake.partition_col not in {f.name for f in fields}:
        fields.append(StructField(lake.partition_col, StringType(), True))
    schema_string = StructType(fields).json()

    log_dir = os.path.join(out_path, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    commit = os.path.join(log_dir, f"{0:020d}.json")
    n_bytes = 0
    with open(commit, "w", encoding="utf-8") as fh:
        fh.write(
            json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 1,
                        "minWriterVersion": 2,
                    }
                }
            )
            + "\n"
        )
        fh.write(
            json.dumps(
                {
                    "metaData": {
                        "id": str(uuid.uuid4()),
                        "name": os.path.basename(
                            os.path.normpath(lake.lake_path)
                        ),
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_string,
                        "partitionColumns": [lake.partition_col],
                        "configuration": {},
                        "createdTime": int(
                            os.path.getmtime(lake.lake_path) * 1000
                        ),
                    }
                }
            )
            + "\n"
        )
        for path, _subdir, pval in files:
            st = os.stat(path)
            n_bytes += st.st_size
            fh.write(
                json.dumps(
                    {
                        "add": {
                            # absolute URI, percent-encoded per spec
                            "path": "file://" + quote(path),
                            "partitionValues": {
                                lake.partition_col: pval
                            },
                            "size": st.st_size,
                            "modificationTime": int(
                                st.st_mtime * 1000
                            ),
                            "dataChange": True,
                        }
                    }
                )
                + "\n"
            )
    return {
        "version": manifest["version"],
        "n_files": len(files),
        "n_bytes": n_bytes,
        "log_path": commit,
    }


def read_delta_export(spark: SparkSession, out_path: str) -> DataFrame:
    """Read a table exported by :func:`export_delta_log` by walking
    its Delta log — an INDEPENDENT reader that only trusts the open
    log format, never the lake's private manifest. Used by the
    declared query to prove the exported log describes exactly the
    live data (DuckDB's delta extension would do the same walk; it is
    not bundled in this environment, so the walk is implemented on the
    spec directly)."""
    from urllib.parse import unquote

    commit = os.path.join(out_path, "_delta_log", f"{0:020d}.json")
    adds: list[dict] = []
    meta = None
    with open(commit, encoding="utf-8") as fh:
        for line in fh:
            action = json.loads(line)
            if "add" in action:
                adds.append(action["add"])
            elif "metaData" in action:
                meta = action["metaData"]
    if meta is None or not adds:
        raise ValueError(f"no metaData/add actions in {commit}")
    (pcol,) = meta["partitionColumns"]
    from pyspark.sql import functions as F

    # Group files by partition value (files do not store the partition
    # column; the log carries it, exactly like hive layout).
    by_val: dict[str, list[str]] = {}
    for a in adds:
        local = unquote(a["path"]).removeprefix("file://")
        by_val.setdefault(a["partitionValues"][pcol], []).append(local)
    frames = []
    for pval, paths in sorted(by_val.items()):
        frames.append(
            spark.read.parquet(*sorted(paths)).withColumn(
                pcol, F.lit(pval)
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out

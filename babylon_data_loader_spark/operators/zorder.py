"""Multi-column Z-ORDER (Morton) clustering for data-skipping layout.

Single-column range clustering (``TransactionalLake(cluster_by=...)``)
gives each file a disjoint range of ONE key, so only predicates on
that key skip files. Z-ordering interleaves the bits of several keys'
quantized ranks into one sort key: files then cover small
hyper-rectangles of the combined key space, and a selective predicate
on ANY of the z-ordered columns prunes most files from the min/max
stats sidecar — the lakehouse layout move (Delta/Iceberg's
``OPTIMIZE ZORDER BY``) for tables probed along more than one
dimension.

Everything here is arrangement, not semantics: the z-value orders
rows and then disappears, so no query result ever depends on its
arithmetic (no cross-engine hazard) — only file-level min/max tightness
does.

Scale: quantization bounds come from ONE map-combinable min/max
aggregate (O(columns) driver scalars, the codebook-materialization
pattern); the z-value itself is a pure JVM bit-twiddling expression
inside whole-stage codegen. The subsequent ``repartitionByRange``
is the same single shuffle a plain clustered write already pays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: interleaved bits per column — 16 bits x up to 4 columns stays
#: inside a BIGINT with room to spare
DEFAULT_BITS = 16


def quantize(
    col: Column, lo: float, hi: float, bits: int = DEFAULT_BITS
) -> Column:
    """Linear rank of ``col`` in [lo, hi] quantized to [0, 2**bits):
    the per-dimension cell index. NULLs map to cell 0 (they sort
    first, matching NULLS FIRST file placement); a degenerate
    dimension (lo == hi) maps everything to cell 0 and contributes
    nothing to the interleave."""
    n_cells = (1 << bits) - 1
    if hi <= lo:
        return F.lit(0).cast("long")
    q = F.floor(
        (col.cast("double") - F.lit(float(lo)))
        * F.lit(float(n_cells))
        / F.lit(float(hi - lo))
    ).cast("long")
    # NULL must short-circuit BEFORE the clamp: Spark's least/greatest
    # skip NULL operands (they return the extreme of the non-null
    # ones), so clamping a NULL rank would yield the max cell, not
    # cell 0.
    return F.when(col.isNull(), F.lit(0).cast("long")).otherwise(
        F.greatest(
            F.lit(0).cast("long"),
            F.least(F.lit(n_cells).cast("long"), q),
        )
    )


def interleave(cells: list[Column], bits: int = DEFAULT_BITS) -> Column:
    """Morton-interleave the per-dimension cell indexes into one
    BIGINT: bit i of dimension d lands at position i*len(cells)+d.
    Pure shift/mask arithmetic — stays in whole-stage codegen."""
    n = len(cells)
    if n * bits > 62:
        raise ValueError(
            f"{n} columns x {bits} bits = {n * bits} interleaved bits "
            "exceeds a BIGINT; lower bits or z-order fewer columns"
        )
    z = F.lit(0).cast("long")
    for d, cell in enumerate(cells):
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(cell, i).bitwiseAND(F.lit(1)),
                    i * n + d,
                )
            )
    return z


def zorder_frame(df: DataFrame, cols: list[str]) -> DataFrame:
    """``df`` plus a Morton z-value column ``_z`` over ``cols``,
    ``DEFAULT_BITS`` bits per column.

    Bounds are the frame's own min/max per column — one
    map-combinable aggregate collected as O(len(cols)) driver scalars
    (the same metadata-scale materialization as IVF/PQ codebooks).
    Non-numeric columns are ordered by a stable 31-bit hash rank
    instead of a linear rank (hash clustering still co-locates equal
    values, which is what point-predicate skipping needs)."""
    if "_z" in df.columns:
        raise ValueError("z-value column '_z' collides with input")
    types = {f.name: f.dataType.typeName() for f in df.schema.fields}
    numeric = {
        "byte", "short", "integer", "long",
        "float", "double", "decimal",
    }
    exprs: dict[str, Column] = {}
    for c in cols:
        t = types.get(c)
        if t in numeric:
            exprs[c] = F.col(c).cast("double")
        elif t == "date":
            # DATE/TIMESTAMP cannot cast to double directly — rank on
            # their integer epoch forms (range predicates on time are
            # the canonical skipping probe, so they must get a LINEAR
            # rank, not the hash branch)
            exprs[c] = F.unix_date(F.col(c)).cast("double")
        elif t in ("timestamp", "timestamp_ntz"):
            exprs[c] = F.unix_micros(
                F.col(c).cast("timestamp")
            ).cast("double")
        else:
            # stable non-negative 31-bit hash: xxhash64 folded
            exprs[c] = (
                F.abs(F.xxhash64(F.col(c)) % F.lit(1 << 31))
            ).cast("double")
    bounds = df.select(
        *[
            f
            for c in cols
            for f in (
                F.min(exprs[c]).alias(f"_lo_{c}"),
                F.max(exprs[c]).alias(f"_hi_{c}"),
            )
        ]
    ).collect()[0]
    cells = [
        quantize(
            exprs[c],
            bounds[f"_lo_{c}"] if bounds[f"_lo_{c}"] is not None else 0.0,
            bounds[f"_hi_{c}"] if bounds[f"_hi_{c}"] is not None else 0.0,
        )
        for c in cols
    ]
    return df.withColumn("_z", interleave(cells))


def zorder_arrange(
    df: DataFrame, cols: list[str], n_files: int | None = None
) -> DataFrame:
    """Rows of ``df`` range-partitioned and sorted by their z-value,
    with the helper column already dropped — ready for a partitioned
    write where each task (= each file per hive subdir) covers one
    compact hyper-rectangle of the z-ordered key space, so min/max
    sidecars are tight on EVERY z-ordered column."""
    z = zorder_frame(df, cols)
    args = [n_files, "_z"] if n_files else ["_z"]
    return (
        z.repartitionByRange(*args)
        .sortWithinPartitions("_z")
        .drop("_z")
    )

"""Nearest-centroid assignment over embedding columns.

The float half of k-means: every vector labeled with its nearest
centroid by squared L2 (``assign_clusters``). The codebook collapses
to ONE broadcast row holding an array of (cid, centroid) structs, and
each vector's argmin is ``array_min`` over a scored copy of that
array: a per-row projection, so per-vector work shuffles NOTHING (the
only exchange is the O(k)-row collect_list feeding the broadcast),
the property that matters when the codebook is a coarse quantizer
with thousands of centroids.

The round-8 lanes assign against fixed codebooks with it. Lloyd
iterations (assign, update, repeat) run on the integer grid in
operators/det_ann.py, whose trajectory an independent engine
reproduces exactly.

Determinism: assignment ties break toward the smallest centroid id on
an integer-quantized distance key, so a fixed input yields a fixed
labeling on any partitioning and executor count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from babylon_data_loader_spark.functions.vectors import squared_l2


def assign_clusters(
    vecs: DataFrame,
    cents: DataFrame,
) -> DataFrame:
    """(vec_id, cid, dist, dist_e9): every ``embedding`` labeled with
    its nearest ``centroid`` of ``cents`` (cid, centroid).

    ``dist`` is the squared L2 distance rounded to 9 dp; the argmin
    minimizes (dist_e9, cid) lexicographically — e9-quantized BIGINT
    key first, smallest-cid tiebreak — so the assignment is
    deterministic and engine-stable. The codebook collapses to ONE
    broadcast row holding an array of (cid, centroid) structs, and
    each vector's argmin is ``array_min`` over a scored copy of that
    array (struct ordering IS the tiebreak): a per-row projection, no
    per-vector grouping — the only exchange anywhere is the O(k)-row
    collect_list feeding the broadcast, so shuffle volume is
    independent of N and constant-bounded in k, which is what matters
    when the codebook is an IVF coarse quantizer with thousands of
    centroids. (The r8 version ranked N×k scored rows through an
    id-partitioned window: an N×k-row shuffle.)

    The scoring runs as TWO nested transforms so the distance
    aggregate is materialized once per centroid before the ranking
    struct references it — Catalyst does no common-subexpression
    elimination inside lambda bodies, and a single-pass formulation
    that mentions ``dist`` several times re-expands the whole
    zip_with/aggregate tree per mention (measured ~2× slower plus a
    much larger plan to compile per call).

    Magnitude precondition: the e9 grid is exact only while dist·1e9
    stays within the double-integer range (2^53), i.e. squared
    distances below ~9.0e6 (‖x−c‖ below ~3000 — far above any
    normalized-embedding geometry). Larger distances would lose
    integrality and could flip the deterministic argmin, so the
    quantizer raises instead of silently degrading.

    Degenerate inputs RAISE rather than mislabel (r9 advice): an
    empty centroid table would otherwise make ``array_min`` over the
    empty codebook emit N rows of NULL cid (where the pre-r9
    crossJoin formulation returned an empty frame) — the raise is
    attached to the codebook column itself so no caller projection
    can prune it away (and it fires even when ``vecs`` is also empty —
    the broadcast side is built first, and a codebook-less assignment
    is an error regardless); a NULL or NaN squared distance (NULL/NaN
    embedding or centroid component) raises its own named error
    instead of falling into the grid-overflow branch. Empty ``vecs``
    against a real codebook still yield an empty result."""
    # The empty-table raise rides the CODEBOOK column itself (not any
    # one output column): a guard attached to e.g. dist_e9 is silently
    # column-pruned away when a caller selects only (id, cid) — the
    # r10 review caught exactly that — whereas every output column
    # derives from _codebook, so this expression survives any caller
    # projection. raise_error's NullType coerces to the array type.
    codebook = cents.agg(
        F.collect_list(
            F.struct("cid", "centroid")
        ).alias("_cb_raw")
    ).select(
        F.when(F.size("_cb_raw") > 0, F.col("_cb_raw"))
        .otherwise(
            F.raise_error(
                F.lit(
                    "assign_clusters: empty centroid table (no "
                    "codebook to assign against)"
                )
            )
        )
        .alias("_codebook")
    )

    def _quantize(d):
        # hot path unchanged: one comparison per element; only
        # degenerate rows (NaN false-compare / NULL) fall through to
        # the classification branches below
        return (
            F.when(
                d < F.lit(9.0e6),
                F.round(d * F.lit(1000000000.0)).cast("bigint"),
            )
            .when(
                d.isNull() | F.isnan(d),
                F.raise_error(
                    F.lit(
                        "assign_clusters: NULL/NaN squared distance "
                        "(NULL or NaN embedding/centroid component)"
                    )
                ).cast("bigint"),
            )
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "assign_clusters: squared distance exceeds "
                            "the exact e9 quantization grid (>= 9.0e6): "
                        ),
                        d.cast("string"),
                    )
                ).cast("bigint")
            )
        )

    scored = F.transform(
        F.col("_codebook"),
        lambda c: F.struct(
            F.round(
                squared_l2(F.col("embedding"), c["centroid"]), 9
            ).alias("dist"),
            c["cid"].alias("cid"),
        ),
    )
    ranked = F.transform(
        scored,
        lambda s: F.struct(
            _quantize(s["dist"]).alias("dist_e9"),
            s["cid"].alias("cid"),
            s["dist"].alias("dist"),
        ),
    )
    best = (
        vecs.select("vec_id", "embedding")
        .crossJoin(F.broadcast(codebook))
        .select("vec_id", F.array_min(ranked).alias("_best"))
    )
    return best.select(
        "vec_id",
        F.col("_best")["cid"].alias("cid"),
        F.col("_best")["dist"].alias("dist"),
        F.col("_best")["dist_e9"].alias("dist_e9"),
    )

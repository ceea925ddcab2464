"""Write-time expectations with quarantine routing — the data-contract
gate a lake write runs BEFORE committing (Delta CHECK constraints /
DLT expectations, re-expressed as a pure DataFrame transform).

An expectation is (name, SQL boolean predicate, action):
  - "drop":       violating rows are removed, silently
  - "quarantine": violating rows are removed AND surface on the
                  `quarantined` frame with a `violations` array naming
                  every failed expectation (a row failing several is
                  quarantined ONCE)
  - "fail":       any violation aborts the write (checked by
                  `enforce`, which raises before a single byte lands)

Scale shape: ALL predicates are evaluated in ONE projection over the
batch (no per-expectation scans — whole-stage codegen fuses the
boolean columns), and the split into passed/quarantined is two filters
over the same marked frame, so Catalyst reuses the scan. The stats
aggregate is one map-side-combinable groupBy. Reference analogue: the
per-batch validation + failure map at datalake/stats.go:24-27 routes
bad CSV rows the same way; this generalizes it to declarative
predicates over any DataFrame.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from babylon_data_loader_spark.session import local_frame

_ACTIONS = {"drop", "quarantine", "fail"}


class Expectation(NamedTuple):
    name: str
    predicate: str  # SQL boolean expression over the batch columns
    action: str = "quarantine"


class FailedExpectationError(RuntimeError):
    """An expectation with action='fail' had violations."""


class ExpectationResult(NamedTuple):
    passed: DataFrame        # rows satisfying every expectation
    quarantined: DataFrame   # batch columns + `violations` ARRAY<STRING>
    stats: DataFrame         # (expectation, action, n_violations)


def apply_expectations(
    batch: DataFrame, expectations: list[Expectation]
) -> ExpectationResult:
    """Split `batch` by the expectations. Lazy: nothing executes until
    a returned frame is acted on; `passed` and `quarantined` share one
    marked projection (NULL predicate results count as violations —
    a contract that can't evaluate is not satisfied)."""
    for e in expectations:
        if e.action not in _ACTIONS:
            raise ValueError(
                f"expectation {e.name!r}: unknown action {e.action!r}"
            )
    names = [e.name for e in expectations]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate expectation names in {names}")

    marked = batch.withColumn(
        "__violations",
        F.filter(
            F.array(
                *[
                    F.when(
                        F.expr(e.predicate).eqNullSafe(F.lit(True)),
                        F.lit(None).cast("string"),
                    ).otherwise(F.lit(e.name))
                    for e in expectations
                ]
            ),
            lambda v: v.isNotNull(),
        ),
    )
    passed = marked.filter(F.size("__violations") == 0).drop("__violations")
    quarantine_names = [
        e.name for e in expectations if e.action == "quarantine"
    ]
    quarantined = (
        marked.filter(
            F.size(
                F.array_intersect(
                    F.col("__violations"),
                    F.array(*[F.lit(n) for n in quarantine_names]),
                )
            )
            > 0
            if quarantine_names
            else F.lit(False)
        )
        .withColumnRenamed("__violations", "violations")
    )
    action_map = F.create_map(
        *[x for e in expectations for x in (F.lit(e.name), F.lit(e.action))]
    )
    stats = (
        marked.select(
            F.explode("__violations").alias("expectation")
        )
        .groupBy("expectation")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .withColumn("action", action_map[F.col("expectation")])
        .select("expectation", "action", "n_violations")
    )
    return ExpectationResult(passed, quarantined, stats)


def enforce(
    spark: SparkSession,
    batch: DataFrame,
    expectations: list[Expectation],
) -> ExpectationResult:
    """`apply_expectations`, then materialize the stats ONCE and raise
    FailedExpectationError if any action='fail' expectation has
    violations — the abort happens before the caller writes anything.
    The collected stats are O(|expectations|) rows (driver-safe at any
    batch size); the returned stats frame is the materialized one so
    callers don't recompute it."""
    res = apply_expectations(batch, expectations)
    rows = res.stats.collect()
    failed = [
        r["expectation"]
        for r in rows
        if r["action"] == "fail" and r["n_violations"] > 0
    ]
    if failed:
        raise FailedExpectationError(
            f"expectations failed with violations: {failed}"
        )
    stats = local_frame(spark, rows, res.stats.schema)
    return ExpectationResult(res.passed, res.quarantined, stats)


class AggExpectation(NamedTuple):
    """Dataset-level contract: `metric` is a SQL aggregate expression
    evaluated over the whole batch (one row), `predicate` is a SQL
    boolean over the scalar result bound as `value` — e.g.
    metric="avg(amount)", predicate="value BETWEEN 0 AND 100", or
    metric="count(*)", predicate="value >= 1000"."""

    name: str
    metric: str
    predicate: str


def check_aggregates(
    spark: SparkSession,
    batch: DataFrame,
    checks: list[AggExpectation],
) -> DataFrame:
    """Evaluate every dataset-level check in ONE aggregate pass over
    the batch (all metrics fold into a single agg projection — N
    checks never cost N scans), then apply each predicate to its
    scalar. Returns (expectation, value DOUBLE, passed) — NULL metric
    results (e.g. avg of an empty set) fail their check, same
    can't-evaluate-isn't-satisfied rule as row-level expectations."""
    names = [c.name for c in checks]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate aggregate-check names in {names}")
    row = batch.agg(
        *[
            F.expr(c.metric).cast("double").alias(f"__m{i}")
            for i, c in enumerate(checks)
        ]
    ).collect()[0]
    out = []
    for i, c in enumerate(checks):
        value = row[f"__m{i}"]
        if value is None:
            passed = False
        else:
            # bind the scalar as a one-row `value` column so the
            # predicate reads naturally ("value BETWEEN 0 AND 100")
            passed = bool(
                local_frame(spark, [(float(value),)], "value DOUBLE")
                .selectExpr(f"({c.predicate}) AS p")
                .collect()[0]["p"]
            )
        out.append((c.name, value, passed))
    return local_frame(
        spark, out, "expectation STRING, value DOUBLE, passed BOOLEAN"
    )

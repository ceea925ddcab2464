"""Query-scoped cache tracking.

Several operators persist an intermediate that feeds a self-join (LSH
bucket frames, shingle sets, component labels) so the expensive
projection evaluates once instead of once per join side. The persist
must OUTLIVE the function — the returned DataFrame is lazy and the
cached partitions are only useful when the caller executes it — so a
``try/finally unpersist`` inside the operator would defeat it.

Instead, persists in query paths register here, and every declared
query releases the previous query's tracked caches on entry
(queries/__init__.py). In any sequential harness — the driver's
correctness run, bench.py, a notebook — live cached partitions are
bounded by ONE query's working set instead of accumulating across a
181-query session. ``release_tracked()`` is also callable directly
for finer control.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_TRACKED: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() + register for release at the next query boundary."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _TRACKED.append(out)
    return out


def track(df: DataFrame) -> DataFrame:
    """Register an ALREADY-persisted frame for boundary release."""
    _TRACKED.append(df)
    return df


def release_tracked() -> int:
    """Unpersist every tracked frame; returns how many were released.
    Safe against already-stopped sessions and double-release."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session gone / already unpersisted
            pass
    return n

"""Stream-static enrichment join.

The canonical streaming pattern the batch star joins mirror: a
high-volume event stream joined to slowly-changing dimension tables.
Stream-static joins are stateless in Structured Streaming — each
micro-batch joins against the CURRENT static snapshot, so the
broadcast dimension is re-resolvable per batch (a dimension update is
picked up on the next trigger without restarting the query). At scale:
always broadcast the static side; a shuffle join would re-shuffle
every micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_events(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """events ⋈ broadcast(user_dim) on ``user_id``, left outer so
    unknown keys pass through with NULL attributes (no event loss on
    dimension lag)."""
    return events.join(F.broadcast(user_dim), on="user_id", how="left")

"""Structured Streaming operators: static enrichment, stream-stream
joins, per-user stateful running totals and windowed event analytics.

There is no separate streaming ingest: batch ``ingest()`` is the
reference path, and the ``q_stream_replay`` lane runs the same
readStream -> foreachBatch MERGE -> AvailableNow shape over a lake."""

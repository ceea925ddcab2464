"""Per-micro-batch latency profile of the streaming lane family
(r15 VERDICT ask #7: the streaming lanes were the only operator
family with zero timing evidence).

Usage: python scripts/profile_streaming.py [sf_dir] [name ...]

Registers a StreamingQueryListener BEFORE invoking each declared
streaming lane, so every micro-batch the lane runs (AvailableNow
triggers, several batches per lane) is recorded with its input rows
and trigger-execution latency. Prints one JSON line per lane:

  {"q": ..., "wall_s": ..., "n_batches": N,
   "batch_ms": [...], "rows": [...], "max_batch_ms": ...}

Progress events are delivered asynchronously, so each batch is tagged
with its query's run id and counted for the lane that started that run;
the per-lane drain waits until no new event arrives for a settle
interval.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from babylon_data_loader_spark.session import build_session  # noqa: E402

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

STREAM_LANES = [
    "q_stream_dedup",
    "q_stream_join",
    "q_stream_enrich",
    "q_stream_left_join",
    "q_stream_complete",
    "q_stream_replay",
    "q_stream_session",
    "q_stream_sliding",
    "q_stream_incremental_dedup",
]


class _BatchRecorder(StreamingQueryListener):
    """Records every micro-batch with the lane whose query ran it.

    Spark calls onQueryStarted synchronously inside start(), so a run id
    maps to the lane running at that moment; a late progress event of
    one lane's run never counts for the next lane."""

    def __init__(self) -> None:
        self.lane: str | None = None
        self.lane_of_run: dict[str, str | None] = {}
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        self.lane_of_run[str(event.runId)] = self.lane

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        self.batches.append(
            {
                "run_id": p.get("runId"),
                "batch_id": p.get("batchId"),
                "rows": p.get("numInputRows"),
                "ms": (p.get("durationMs") or {}).get(
                    "triggerExecution"
                ),
            }
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def lane_batches(self, lane: str) -> list[dict]:
        return [
            b for b in self.batches
            if self.lane_of_run.get(b["run_id"]) == lane
        ]


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    names = args[1:] or STREAM_LANES
    spark = build_session(app_name="profile-streaming")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = entrymod.queries()
    rec = _BatchRecorder()
    spark.streams.addListener(rec)
    # absorb first-action JVM/codegen startup like bench.py does
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for name in names:
        rec.lane = name
        t0 = time.time()
        qmap[name](spark, sf_dir).count()
        wall = time.time() - t0
        # drain the async listener queue: settle until quiet
        seen = -1
        while seen != len(rec.lane_batches(name)):
            seen = len(rec.lane_batches(name))
            time.sleep(0.5)
        batches = sorted(
            rec.lane_batches(name),
            key=lambda b: (b["batch_id"] is None, b["batch_id"]),
        )
        ms = [b["ms"] for b in batches if b["ms"] is not None]
        print(
            json.dumps(
                {
                    "q": name,
                    "wall_s": round(wall, 3),
                    "n_batches": len(batches),
                    "batch_ms": ms,
                    "rows": [b["rows"] for b in batches],
                    "max_batch_ms": max(ms) if ms else None,
                }
            ),
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

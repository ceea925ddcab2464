"""Per-layer recording for the traced benchmark run.

Spans are taken from the benchmark's side of each layer boundary: the
benchmark times the calls it makes itself (plan construction, the
``collect()``, ``ingest``, the API calls), and in the traced process
only it wraps two package entry points that it does not call directly:

- ``operators.index_store.get_or_build_parquet`` (store hit / build;
  the hit flag is the one the package appends to ``ACCESS_LOG``),
- ``operators.tx_lake.TransactionalLake.merge`` / ``.append`` (commits).

Spark's own work per op (jobs, stages, tasks, CPU, bytes) is folded
from the uncompressed event log after the session stops; every op runs
under its own job group, so events fold back to the op that caused
them.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


@dataclass
class StoreAccess:
    kind: str
    hit: bool
    seconds: float
    bytes: int


@dataclass
class LakeCommit:
    op: str  # "merge" | "append"
    seconds: float
    bytes_written: int


@dataclass
class LayerTracer:
    """Collects store accesses and lake commits while installed.

    ``phase`` labels each record ("setup" or "timed") so the store hit
    ratio can be taken over the timed region only."""

    phase: str = "setup"
    stores: list[tuple[str, StoreAccess]] = field(default_factory=list)
    commits: list[tuple[str, LakeCommit]] = field(default_factory=list)
    _restore: list = field(default_factory=list)

    def install(self) -> None:
        from babylon_data_loader_spark.operators import index_store, tx_lake

        orig_store = index_store.get_or_build_parquet

        def traced_store(source, kind, params, *args, **kw):
            n_logged = len(index_store.ACCESS_LOG)
            t0 = time.perf_counter()
            out = orig_store(source, kind, params, *args, **kw)
            dt = time.perf_counter() - t0
            if len(index_store.ACCESS_LOG) == n_logged:
                return out  # no file lineage: built inline, no store
            hit = index_store.ACCESS_LOG[-1]["hit"]
            size = 0
            if not hit:
                wh = index_store.warehouse_dir(source.sparkSession)
                built = glob.glob(os.path.join(wh, f"idx_{kind}_*_{params}"))
                if built:
                    size = dir_bytes(max(built, key=os.path.getmtime))
            self.stores.append((self.phase, StoreAccess(kind, hit, dt, size)))
            return out

        lake_cls = tx_lake.TransactionalLake
        orig_merge, orig_append = lake_cls.merge, lake_cls.append

        def wrap(op, orig):
            def traced(lake, *args, **kw):
                before = dir_bytes(lake.lake_path)
                t0 = time.perf_counter()
                out = orig(lake, *args, **kw)
                dt = time.perf_counter() - t0
                written = max(0, dir_bytes(lake.lake_path) - before)
                self.commits.append((self.phase, LakeCommit(op, dt, written)))
                return out

            return traced

        index_store.get_or_build_parquet = traced_store
        lake_cls.merge = wrap("merge", orig_merge)
        lake_cls.append = wrap("append", orig_append)
        self._restore = [
            (index_store, "get_or_build_parquet", orig_store),
            (lake_cls, "merge", orig_merge),
            (lake_cls, "append", orig_append),
        ]

    def uninstall(self) -> None:
        for owner, name, orig in self._restore:
            setattr(owner, name, orig)
        self._restore = []


@dataclass
class GroupWork:
    """Spark work folded from the event log for one job group (op)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def fold_event_log(log_dir: str) -> dict[str, GroupWork]:
    """Job group id -> work, from every uncompressed event log file
    under ``log_dir`` (single-file or rolling layout). Stages and tasks
    are attributed through the job that submitted them; skipped stages
    (reused shuffle output) count as neither stages nor tasks."""
    work: dict[str, GroupWork] = defaultdict(GroupWork)
    paths = sorted(
        (
            os.path.join(root, name)
            for root, _dirs, files in os.walk(log_dir)
            for name in files
            # skip the local file system's .crc checksum siblings
            if not name.startswith((".", "appstatus"))
        ),
        # rolling files are events_<n>_<app>: replay them in order
        key=lambda p: [int(t) if t.isdigit() else t for t in os.path.basename(p).split("_")],
    )
    stage_group: dict[int, str] = {}
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    work[group].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_group:
                        work[stage_group[sid]].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    w = work[group]
                    w.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    w.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    w.input_bytes += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0
                    )
                    sr = m.get("Shuffle Read Metrics") or {}
                    w.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    w.shuffle_write_bytes += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    w.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return dict(work)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


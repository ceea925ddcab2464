"""Benchmark for babylon_data_loader_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one Spark session on
``local[<cores>]`` (``SPARK_GRAFT_CPUS`` = the cores this process may
use), everything else at the package defaults. All state (inputs,
warehouse, lake, Spark scratch, event log) lives under
``.perfbench_work/run-<pid>/`` in the repository root and is removed on
exit.

Workloads (``BENCHMARK.json`` says why each was chosen):

- ``curation``: store-backed corpus-curation lanes. Set-up builds every
  at-rest store from an empty warehouse (the cold pass), then runs
  ``WARM_PASSES`` untimed passes; each timed pass runs every lane once
  and hits those stores.
- ``lake_ingest``: the paper's CSV -> validate -> merge -> lake
  pipeline. Set-up ingests batch 1 into an empty lake (the cold first
  ingest), then runs one untimed round. Each round copies that lake,
  ingests batch 2 into the copy as an upsert, makes single-row inserts,
  then a point lookup of each id they returned.

A closed loop, one op at a time, runs whole passes: as many as take
``--seconds`` on a 4-core box (``pass_s`` per workload), the same number
on every run.
End-to-end times are taken over the calm half of the timed ops: those
during which the host took the least CPU from this machine
(``calm_ops``).
Every result is checked after the timed region: query rows against
their DuckDB oracles, the lake against what the input generator
predicts. The last stdout line is the JSON result: with ``--trace 0``
it carries the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run (see ``perfbench/trace.py``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Each run works in its own subdirectory, removed when it ends.
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# Declared queries whose at-rest stores dominate their warm cost and
# whose DuckDB oracle takes well under a second at the benchmark's
# input size.
CURATION_LANES = ["q_knn_ivfpq", "q_substring_dedup"]
# Untimed passes after the cold pass: the JIT compiles most of the
# query path in these, so timed passes no longer speed up steeply.
WARM_PASSES = 3
# Single-row inserts, and lookups of the ids they return, per timed lake
# round.
ROUND_PAIRS = 3


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def cores() -> int:
    return len(os.sched_getaffinity(0))


# -- ops and runs ----------------------------------------------------------------


@dataclass
class Op:
    """One timed call. ``build_s`` is plan construction (query lanes);
    ``steal_s`` is the CPU time the host took from this machine while
    the call ran."""

    name: str
    group: str
    seconds: float
    build_s: float = 0.0
    steal_s: float = 0.0
    error: str | None = None
    output: object = None


@dataclass
class Run:
    """The ops of one region of a run, grouped in passes."""

    passes: list[list[Op]] = field(default_factory=list)

    @property
    def ops(self) -> list[Op]:
        return [op for p in self.passes for op in p]


def timed(name: str, group: str, spark, fn) -> Op:
    """Run ``fn`` as one op under its own Spark job group; an exception
    makes a failed op, not a failed run."""
    spark.sparkContext.setJobGroup(group, name)
    steal0 = steal_jiffies()
    t0 = time.perf_counter()
    try:
        out = fn()
    except Exception:
        traceback.print_exc()
        op = Op(name, group, time.perf_counter() - t0, error=traceback.format_exc(limit=1))
    else:
        op = Op(name, group, time.perf_counter() - t0, output=out)
    op.steal_s = (steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK")
    print(f"perfbench op {group} {op.seconds:.3f}s (host steal {op.steal_s:.2f}s)",
          file=sys.stderr)
    return op


def time_passes(run: Run, workload, spark, seconds: float) -> None:
    """Closed loop of ``round(seconds / workload.pass_s)`` whole passes
    (at least one). A fixed pass count, rather than a deadline, keeps
    the work of every run of a workload the same: on a deadline a fast
    run would fit an extra, warmer pass and read faster still."""
    for _ in range(max(1, round(seconds / workload.pass_s))):
        run.passes.append(workload.run_pass(spark))


# -- workload: query lanes --------------------------------------------------------


class LaneWorkload:
    """Declared-query lanes over seeded parquet tables."""

    pass_s = 2.1  # one warm pass of the two lanes, 4-core box

    def __init__(self, lanes: list[str], seed: int, work: str) -> None:
        from perfbench import datagen

        self.traced = False  # lanes record nothing extra when traced
        self.lanes = lanes
        self.inputs = os.path.join(work, "data")
        self.n_passes = 0
        datagen.write_tables(self.inputs, seed)

    def run_pass(self, spark) -> list[Op]:
        import babylon_data_loader_spark.queries as q

        index = self.n_passes
        self.n_passes += 1
        ops = []
        for lane in self.lanes:
            marks = {}

            def call(fn=q.QUERIES[lane], marks=marks):
                t0 = time.perf_counter()
                df = fn(spark, self.inputs)
                marks["build"] = time.perf_counter() - t0
                return list(df.columns), [tuple(r) for r in df.collect()]

            op = timed(lane, f"p{index}:{lane}", spark, call)
            op.build_s = marks.get("build", 0.0)
            ops.append(op)
        return ops

    def setup(self, spark) -> list[Op]:
        """The cold pass (builds every store from an empty warehouse),
        then ``WARM_PASSES`` passes, so timed passes start with compiled
        code."""
        ops = self.run_pass(spark)
        for _ in range(WARM_PASSES):
            ops += self.run_pass(spark)
        return ops

    def check(self, ops: list[Op]) -> list[str]:
        """Each op's rows against its lane's DuckDB oracle, normalized by
        the package's own oracle harness."""
        import babylon_data_loader_spark.queries as q
        from tests.oracle_harness import _normalize_rows, duck_connection

        con = duck_connection(self.inputs)
        con.execute(f"SET threads = {cores()}")
        try:
            expected = {}
            for lane in self.lanes:
                res = con.execute(q.ORACLES[lane])
                cols = [d[0] for d in res.description]
                expected[lane] = (sorted(cols), _normalize_rows(cols, res.fetchall()))
        finally:
            con.close()
        bad = []
        for op in ops:
            if op.error is None:
                cols, rows = op.output
                want_cols, want_rows = expected[op.name]
                if sorted(cols) != want_cols or _normalize_rows(cols, rows) != want_rows:
                    bad.append(f"{op.group}: rows differ from the oracle")
        return bad


# -- workload: lake ingest --------------------------------------------------------


class LakeWorkload:
    """Two seeded CSV batches merged into one lake, plus the API calls."""

    pass_s = 9.0  # one warm round, 4-core box

    def __init__(self, seed: int, work: str, traced: bool = False) -> None:
        from perfbench import datagen

        self.traced = traced
        self.work = work
        self.inputs = os.path.join(work, "csv")
        self.batches, self.expect = datagen.write_lake_batches(self.inputs, seed)
        self.base = os.path.join(work, "lake_b1")
        self.lake = ""
        self.n_passes = 0

    def _ingest(self, spark, batch: int, lake: str, group: str) -> Op:
        from babylon_data_loader_spark.config import EngineConfig
        from babylon_data_loader_spark.ingest.pipeline import ingest

        cfg = EngineConfig(
            unprocessed_dir=self.batches[batch - 1],
            processed_dir=os.path.join(self.work, "processed"),
            move_processed_files=False,
            lake_dir=lake,
        )
        op = timed("ingest", group, spark, lambda: ingest(spark, cfg))
        if op.error is None:
            # Outside the op's time: the rows the layer read and kept.
            op.output = ingest_rows(op.output) if self.traced else None
        return op

    def _pairs(self, spark, lake: str, tag: str, pairs: int) -> list[Op]:
        """Single-row inserts, then a point lookup of each id they
        returned. Every lookup reads the same lake, so lookups are alike
        and their times comparable."""
        from babylon_data_loader_spark.api import (
            add_transaction,
            get_transaction_by_id,
        )
        from babylon_data_loader_spark.sources.parquet_lake import (
            read_transactions,
        )

        txns = os.path.join(lake, "transactions")
        txn = {
            "details": "DEBIT",
            "posting_date": "06/15/2024",
            "amount": -12.5,
            "category": "Shopping",
            "type": "DEBIT_CARD",
            "balance": 1000.0,
            "check_or_slip_num": "",
            "data_source": "chase",
            "account_id": "1001",
        }
        inserts = [
            timed("insert", f"{tag}.{i}:insert", spark,
                  lambda i=i: add_transaction(
                      spark, txns, {**txn, "description": f"BENCH INSERT {tag}.{i}"}))
            for i in range(pairs)
        ]

        def lookup(txn_id):
            df = get_transaction_by_id(
                read_transactions(spark, txns), txn_id, "DEBIT_CARD"
            )
            found = [r["transaction_id"] for r in df.collect()]
            return txn_id, len(df.inputFiles()) if self.traced else 0, found

        return inserts + [
            timed("lookup", f"{tag}.{i}:lookup", spark, lambda ins=ins: lookup(ins.output))
            for i, ins in enumerate(inserts)
            if ins.error is None
        ]

    def setup(self, spark) -> list[Op]:
        """Batch 1 into the empty lake (the cold first ingest), then one
        warm-up round on a copy with a single insert and lookup, so the
        upsert and API paths are compiled before the timed rounds."""
        ops = [self._ingest(spark, 1, self.base, "setup:ingest1")]
        return ops + self._round(spark, os.path.join(self.work, "lake_warmup"), "w", 1)

    def _round(self, spark, lake: str, tag: str, pairs: int = ROUND_PAIRS) -> list[Op]:
        shutil.copytree(self.base, lake)
        return [self._ingest(spark, 2, lake, f"{tag}:ingest2")] + self._pairs(
            spark, lake, tag, pairs
        )

    def run_pass(self, spark) -> list[Op]:
        """One round on a fresh copy of the batch-1 lake."""
        index = self.n_passes
        self.n_passes += 1
        if self.lake:
            shutil.rmtree(self.lake, ignore_errors=True)
        self.lake = os.path.join(self.work, f"lake_r{index}")
        return self._round(spark, self.lake, f"r{index}")

    def check(self, ops: list[Op]) -> list[str]:
        """Every lookup found its row exactly once; when traced, each
        ingest read and kept the rows the generator wrote; the last round's
        live lake, read by DuckDB through the lake's manifest, holds
        exactly the keys and amounts the generator predicts plus each of
        that round's inserts once."""
        import duckdb

        bad = []
        for op in ops:
            if op.error is not None or op.output is None:
                continue
            if op.name == "lookup":
                txn_id, _files, found = op.output
                if found != [txn_id]:
                    bad.append(f"{op.group}: lookup returned {found}")
            elif op.name == "ingest":  # row counts are taken when traced
                b = int(op.group[-1]) - 1
                want = (self.expect.rows_in[b], self.expect.rows_valid[b])
                if op.output != want:
                    bad.append(f"{op.group}: rows read/kept {op.output} != {want}")
        last = f"r{self.n_passes - 1}."
        inserted = [
            op.output for op in ops
            if op.name == "insert" and op.error is None and op.group.startswith(last)
        ]
        files = live_lake_files(os.path.join(self.lake, "transactions"))
        listed = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
        con = duckdb.connect()
        con.execute(f"SET threads = {cores()}")
        try:
            con.execute(
                f"CREATE VIEW lake AS SELECT * FROM read_parquet([{listed}], "
                "union_by_name = true, hive_partitioning = true)"
            )
            got = con.execute(
                "SELECT count(*), count(DISTINCT (details, posting_date, "
                "description, data_source, account_id)), "
                "CAST(sum(CAST(round(amount * 100) AS BIGINT)) AS BIGINT) "
                "FROM lake WHERE transaction_id IS NULL"
            ).fetchone()
            per_id = dict(
                con.execute(
                    "SELECT transaction_id, count(*) FROM lake "
                    "WHERE transaction_id IS NOT NULL GROUP BY 1"
                ).fetchall()
            )
        finally:
            con.close()
        want = (self.expect.keys, self.expect.keys, self.expect.amount_cents)
        if tuple(got) != want:
            bad.append(f"lake rows/keys/amount-cents {tuple(got)} != expected {want}")
        if per_id != {i: 1 for i in inserted}:
            bad.append(f"inserted ids in the lake: {per_id}")
        return bad


def ingest_rows(result) -> tuple[int, int]:
    """(rows read, rows kept) of one ingest, from its per-file status table."""
    from pyspark.sql import functions as F

    row = result.file_status().agg(F.sum("raw_rows"), F.sum("valid_rows")).first()
    return int(row[0] or 0), int(row[1] or 0)


def live_lake_files(txn_path: str) -> list[str]:
    """Parquet files of the live version, resolved through ``_CURRENT``
    and the manifest it names (the lake's own commit protocol)."""
    with open(os.path.join(txn_path, "_CURRENT"), encoding="utf-8") as fh:
        name = fh.read().strip()
    with open(os.path.join(txn_path, "_manifest", name), encoding="utf-8") as fh:
        manifest = json.load(fh)
    files = []
    for subdir, dirs in manifest["partitions"].items():
        for d in dirs:
            part = os.path.join(txn_path if d == "." else os.path.join(txn_path, d), subdir)
            files += [
                os.path.join(part, f)
                for f in sorted(os.listdir(part))
                if f.endswith(".parquet")
            ]
    return files


WORKLOADS = {
    "curation": lambda seed, work, traced: LaneWorkload(CURATION_LANES, seed, work),
    "lake_ingest": lambda seed, work, traced: LakeWorkload(seed, work, traced),
}


# -- metrics and report -----------------------------------------------------------


def calm_ops(ops: list[Op]) -> list[Op]:
    """Of each kind of op, the half (rounded up) during which the host
    took the least CPU time from this machine, in run order on ties.

    On a shared host an op that lost CPU to a neighbour is slower by
    about the time it lost, which measures the neighbour, not the
    program. Every kind keeps the same share of its ops, so the mix of
    kinds is that of a pass."""
    kinds: dict[str, list[Op]] = {}
    for op in ops:
        kinds.setdefault(op.name, []).append(op)
    kept = []
    for same in kinds.values():
        kept += sorted(same, key=lambda op: op.steal_s)[: (len(same) + 1) // 2]
    return kept


def end_to_end(setup_s: float, ops: list[Op]) -> dict[str, float]:
    """The user-visible metrics of an untraced run, over its calm ops.

    ``op_p50_s`` is the median op latency with every kind of op counted
    once: the median over kinds of each kind's median. Pooled, the
    median of ops of two kinds with close latencies falls between the
    slowest of one and the fastest of the other, and moves with them."""
    kept = calm_ops(ops)
    kinds: dict[str, list[float]] = {}
    for op in kept:
        kinds.setdefault(op.name, []).append(op.seconds)
    return {
        "setup_s": setup_s,
        "ops_per_s": len(kept) / sum(op.seconds for op in kept),
        "op_p50_s": statistics.median(statistics.median(t) for t in kinds.values()),
    }


def tally(ops: list[Op], mismatches: list[str]) -> tuple[int, int]:
    """(attempted, failed): an op fails when it raised or when the check
    found its result wrong; ``failed / attempted`` is the fail fraction."""
    return len(ops), sum(op.error is not None for op in ops) + len(mismatches)


def format_report(spec: dict, kind: str, values: dict[str, float]) -> list[str]:
    """One line per metric the spec names for ``kind`` ("end_to_end" or
    "per_layer"), with its unit. A metric the run did not produce is an
    error, not a silent gap."""
    lines = []
    for m in spec[kind]:
        if m["name"] not in values:
            raise KeyError(f"metric {m['name']!r} was not measured")
        lines.append(f"  {m['name']:<28} {values[m['name']]:>16.6g} {m['unit']}")
    return lines


def result_json(
    spec: dict, kind: str, values: dict[str, float], attempted: int, failed: int
) -> str:
    return json.dumps(
        {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                for m in spec[kind]
            },
        }
    )


# -- per-layer metrics (traced run) -----------------------------------------------


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def layer_metrics(
    session_s: float, run: Run, plain: Run, tracer, work: str, workload
) -> dict[str, float]:
    """Per-layer metrics of the traced half (``run``), per pass where the
    layer works every pass; ``plain`` is the untraced half of the same
    process and only serves the tracing overhead."""
    from perfbench.trace import dir_bytes, fold_event_log

    groups = fold_event_log(os.path.join(work, "events"))
    passes = run.passes

    def per_pass(fn) -> float:
        return _median(fn(p) for p in passes)

    def spark_work(p, attr):
        return sum(getattr(groups[o.group], attr) for o in p if o.group in groups)

    m: dict[str, float] = {"session.start_s": session_s}

    build = per_pass(lambda p: sum(o.build_s for o in p))
    m["queries.build_s"] = build
    m["queries.build_share"] = build / per_pass(lambda p: sum(o.seconds for o in p))
    m["exec.exec_s"] = per_pass(lambda p: sum(o.seconds - o.build_s for o in p))
    for attr in ("jobs", "stages", "tasks", "cpu_s", "input_bytes",
                 "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{attr}"] = per_pass(lambda p, a=attr: spark_work(p, a))

    n = len(passes)
    timed = [s for phase, s in tracer.stores if phase == "timed"]
    hits = [s for s in timed if s.hit]
    builds = [s for _phase, s in tracer.stores if not s.hit]
    m["store.accesses"] = len(timed) / n
    m["store.hits"] = len(hits) / n
    m["store.hit_ratio"] = len(hits) / len(timed) if timed else 0.0
    m["store.hit_s"] = sum(s.seconds for s in hits) / n
    m["store.builds"] = float(len(builds))
    m["store.build_s"] = sum(s.seconds for s in builds)
    m["store.bytes"] = float(sum(s.bytes for s in builds))
    m["store.warehouse_entries"] = float(len(os.listdir(os.path.join(work, "warehouse"))))
    m["store.disk_bytes_ratio"] = m["store.bytes"] / dir_bytes(workload.inputs)

    ingests = [o for o in run.ops if o.name == "ingest" and o.error is None]
    m["ingest.batch_s"] = _median(o.seconds for o in ingests)
    m["ingest.jobs"] = _median(groups[o.group].jobs for o in ingests if o.group in groups)
    rows_in = sum(o.output[0] for o in ingests)
    rows_valid = sum(o.output[1] for o in ingests)
    m["ingest.rows_in"] = rows_in / n
    m["ingest.rows_valid"] = rows_valid / n
    m["ingest.rows_dropped"] = (rows_in - rows_valid) / n
    ingest_s = sum(o.seconds for o in ingests)
    m["ingest.rows_per_s"] = rows_valid / ingest_s if ingest_s else 0.0

    commits = [c for phase, c in tracer.commits if phase == "timed"]
    m["lake.merge_s"] = _median(c.seconds for c in commits if c.op == "merge")
    m["lake.append_s"] = _median(c.seconds for c in commits if c.op == "append")
    m["lake.commits"] = len(commits) / n
    m["lake.bytes_written"] = sum(c.bytes_written for c in commits) / n
    m["lake.write_amp"] = m["lake.manifest_dirs"] = m["lake.disk_bytes_ratio"] = 0.0
    if isinstance(workload, LakeWorkload):
        txns = os.path.join(workload.lake, "transactions")
        files = live_lake_files(txns)
        live = sum(os.path.getsize(f) for f in files)
        m["lake.write_amp"] = m["lake.bytes_written"] / live
        m["lake.manifest_dirs"] = float(
            len({os.path.dirname(os.path.dirname(f)) for f in files})
        )
        m["lake.disk_bytes_ratio"] = dir_bytes(txns) / dir_bytes(workload.inputs)

    lookups = [o for o in run.ops if o.name == "lookup" and o.error is None]
    m["api.lookup_s"] = _median(o.seconds for o in lookups)
    m["api.lookup_files_read"] = _median(o.output[1] for o in lookups)
    m["api.insert_s"] = _median(o.seconds for o in run.ops if o.name == "insert")

    m["trace.op_mean_s"] = _mean(o.seconds for o in run.ops)
    m["trace.overhead_s"] = m["trace.op_mean_s"] - _mean(o.seconds for o in plain.ops)
    return m


# -- environment and provenance ---------------------------------------------------


def prepare_env(work: str, event_log: bool) -> None:
    """Point every writer at ``work`` before the JVM starts. Settings go
    on the launch command line, not into the package's session code."""
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    confs = [
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "spark.ui.showConsoleProgress=false",
    ]
    if event_log:
        confs += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            f"spark.eventLog.dir=file://{os.path.join(work, 'events')}",
        ]
    args = [a for c in confs for a in ("--conf", c)]
    args += ["--driver-java-options", f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def inputs_digest(directory: str) -> dict:
    """Per-file size plus one content digest of the generated inputs."""
    sizes = {}
    h = hashlib.md5()
    for root, _dirs, files in sorted(os.walk(directory)):
        for name in sorted(files):
            path = os.path.join(root, name)
            rel = os.path.relpath(path, directory)
            with open(path, "rb") as fh:
                body = fh.read()
            sizes[rel] = len(body)
            h.update(rel.encode() + b"\0" + hashlib.md5(body).digest())
    return {"digest": h.hexdigest()[:12], "bytes": sizes}


def git_commit() -> str | None:
    try:
        proc = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=ROOT, capture_output=True, text=True, timeout=10, check=False,
        )
    except OSError:
        return None
    return proc.stdout.strip() or None


def steal_jiffies() -> int:
    """Cumulative CPU time the host took from this machine (``/proc/stat``)."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8])


def stop_jvm(proc) -> None:
    """Stop the Spark context, then end the JVM this process launched
    and wait for it: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# -- main -------------------------------------------------------------------------


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="babylon_data_loader_spark benchmark")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import babylon_data_loader_spark  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package under test is missing: {exc}", file=sys.stderr)
        return 2
    spec = load_spec()
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    try:
        return run_workload(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run is still using it


def run_workload(args: argparse.Namespace, spec: dict, work: str) -> int:
    traced = bool(args.trace)
    prepare_env(work, event_log=traced)
    workload = WORKLOADS[args.workload](args.seed, work, traced)
    inputs = inputs_digest(workload.inputs)

    import duckdb
    import pyspark

    import babylon_data_loader_spark.queries as q
    from babylon_data_loader_spark import build_session
    from perfbench import trace

    q.load_all()
    steal0 = steal_jiffies()
    tracer = trace.LayerTracer()
    if traced:
        tracer.install()
    t0 = time.perf_counter()
    spark = build_session()
    session_s = time.perf_counter() - t0
    jvm_proc = spark.sparkContext._gateway.proc
    try:
        setup = Run([workload.setup(spark)])
        setup_s = time.perf_counter() - t0

        tracer.phase = "timed"
        run, plain = Run(), Run()
        if traced:
            # Traced half, then the same passes on a fresh context with
            # the event log off and the wrappers removed: the difference
            # of the mean op times is the tracing overhead.
            time_passes(run, workload, spark, args.seconds / 2)
            jvm = spark._jvm
            spark.stop()
            tracer.uninstall()
            jvm.java.lang.System.setProperty("spark.eventLog.enabled", "false")
            workload.traced = False
            spark = build_session()
            time_passes(plain, workload, spark, args.seconds / 2)
        else:
            time_passes(run, workload, spark, args.seconds)
        all_ops = setup.ops + run.ops + plain.ops
        mismatches = workload.check(all_ops)
        if traced:
            values = layer_metrics(session_s, run, plain, tracer, work, workload)
            values["mem.peak_rss_mb"] = trace.peak_rss_mb([os.getpid(), jvm_proc.pid])
        else:
            values = end_to_end(setup_s, run.ops)
        master = spark.sparkContext.master
    finally:
        stop_jvm(jvm_proc)

    attempted, failed = tally(all_ops, mismatches)
    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": int(traced),
        "nproc": cores(),
        "master": master,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "commit": git_commit(),
        "inputs": inputs,
        "passes": len(run.passes) + len(plain.passes),
        "steal_s": (steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK"),
        "fail_frac": failed / attempted,
        "failures": [op.group for op in all_ops if op.error is not None] + mismatches,
    }
    print("perfbench " + json.dumps(meta))
    kind = "per_layer" if traced else "end_to_end"
    print(f"{args.workload} ({'traced' if traced else 'untraced'}, seed {args.seed}):")
    for line in format_report(spec, kind, values):
        print(line)
    print(f"  {'fail_frac':<28} {failed / attempted:>16.6g} ratio")
    print(result_json(spec, kind, values, attempted, failed))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Point-lookup cost against the number of single-row appends.

    python scripts/profile_lake_reads.py [--appends 1,10,40,100] [--repeats 5]

For each append count N, a fresh lake under a temporary dir gets 2,000
rows merged through ``merge_upsert`` (the ingest path), then N
``add_transaction`` inserts. A point lookup,
``get_transaction_by_id(read_transactions(...))`` of the last id, is
then built and collected ``--repeats`` times. One markdown table row
per N:

- insert s: median over the N inserts;
- build s / exec s: medians of plan construction and of ``collect()``;
- jobs, tasks: of one ``collect()``, from the live status tracker;
- scans: ``FileScan parquet`` leaves of the lookup's physical plan;
- py4j: calls from Python to the JVM while building one lookup.

The py4j count wraps the gateway client's ``send_command`` here, in
the script; the library is not instrumented. Runs one Spark session on
``local[<SPARK_GRAFT_CPUS or 4>]``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TXN = {
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


def seed_rows(n: int) -> list[tuple]:
    from babylon_data_loader_spark.schemas import TRANSACTION_SCHEMA

    rows = []
    for i in range(n):
        row = {
            **TXN,
            "description": f"SEED {i}",
            "amount": float(i % 97),
            "data_source": "chase" if i % 2 else "synthetic",
        }
        rows.append(tuple(row.get(f.name) for f in TRANSACTION_SCHEMA.fields))
    return rows


def count_py4j(spark):
    """Wrap the gateway client's ``send_command``; returns a one-item
    list holding the running call count."""
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, [0]

    def counted(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    client.send_command = counted
    return calls


def job_work(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) the status tracker holds for ``group``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = sum(
        tracker.getStageInfo(sid).numTasks
        for j in jobs
        for sid in tracker.getJobInfo(j).stageIds
    )
    return len(jobs), tasks


def profile(spark, work: str, appends: int, repeats: int, calls) -> dict:
    from babylon_data_loader_spark.api import (
        add_transaction,
        get_transaction_by_id,
    )
    from babylon_data_loader_spark.operators.merge import merge_upsert
    from babylon_data_loader_spark.schemas import TRANSACTION_SCHEMA
    from babylon_data_loader_spark.sources.parquet_lake import (
        read_transactions,
    )

    path = os.path.join(work, f"lake_{appends}", "transactions")
    merge_upsert(
        spark, path, spark.createDataFrame(seed_rows(2000), TRANSACTION_SCHEMA)
    )
    insert_s, txn_id = [], None
    for i in range(appends):
        t0 = time.perf_counter()
        txn_id = add_transaction(
            spark, path, {**TXN, "description": f"INSERT {i}"}
        )
        insert_s.append(time.perf_counter() - t0)
    sc = spark.sparkContext
    build_s, exec_s, py4j = [], [], []
    for r in range(repeats):
        n0 = calls[0]
        t0 = time.perf_counter()
        lookup = get_transaction_by_id(
            read_transactions(spark, path), txn_id, "DEBIT_CARD"
        )
        build_s.append(time.perf_counter() - t0)
        py4j.append(calls[0] - n0)
        group = f"lookup-{appends}-{r}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        found = lookup.collect()
        exec_s.append(time.perf_counter() - t0)
        sc.setLocalProperty("spark.jobGroup.id", None)
        assert [row["transaction_id"] for row in found] == [txn_id]
    jobs, tasks = job_work(spark, group)
    scans = lookup._jdf.queryExecution().executedPlan().toString().count(
        "FileScan parquet"
    )
    return {
        "appends": appends,
        "insert_s": statistics.median(insert_s),
        "build_s": statistics.median(build_s),
        "exec_s": statistics.median(exec_s),
        "jobs": jobs,
        "tasks": tasks,
        "scans": scans,
        "py4j": statistics.median(py4j),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--appends", default="1,10,40,100")
    ap.add_argument("--repeats", type=int, default=5)
    args = ap.parse_args()

    from babylon_data_loader_spark.session import build_session

    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = build_session()
    calls = count_py4j(spark)
    work = tempfile.mkdtemp(prefix="profile_lake_reads_")
    try:
        print(f"local[{cpus}], repeats {args.repeats}")
        print(
            "| appends | insert s | build s | exec s | jobs | tasks "
            "| scans | py4j calls per build |"
        )
        print("|---|---|---|---|---|---|---|---|")
        for n in (int(v) for v in args.appends.split(",")):
            row = profile(spark, work, n, args.repeats, calls)
            print(
                f"| {row['appends']} | {row['insert_s']:.3f} "
                f"| {row['build_s']:.3f} | {row['exec_s']:.3f} "
                f"| {row['jobs']} | {row['tasks']} | {row['scans']} "
                f"| {row['py4j']:.0f} |",
                flush=True,
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()

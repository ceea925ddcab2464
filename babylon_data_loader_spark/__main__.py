"""CLI entry point — the reference's command surface (main.go:59-94):

    python -m babylon_data_loader_spark ingest
    python -m babylon_data_loader_spark generate-synthetic-data \
        [--rows N] [--dir OUT] [--persist-to-lake]

`ingest` reads config from the environment (UNPROCESSED_DIR /
PROCESSED_DIR / LAKE_DIR / MOVE_PROCESSED_FILES — reference
config/loadConfig.go) and prints the run stats as JSON
(reference stats.Log, datalake/stats.go:35-44).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _cmd_ingest(args: argparse.Namespace) -> int:
    from babylon_data_loader_spark.config import load_config
    from babylon_data_loader_spark.ingest import ingest
    from babylon_data_loader_spark.session import build_session

    spark = build_session(app_name="babylon-ingest")
    try:
        result = ingest(spark, load_config())
    except FileNotFoundError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    finally:
        spark.stop()
    print(
        json.dumps(
            {
                "total_files": result.total_files,
                "processed_files": result.processed_files,
                "failed_files": result.failed_files,
                "skipped_entries": result.skipped_entries,
                "records_uploaded": result.records_uploaded,
                "failures": result.failures,
            }
        )
    )
    return 0


def _cmd_generate(args: argparse.Namespace) -> int:
    from babylon_data_loader_spark.config import load_config
    from babylon_data_loader_spark.session import build_session
    from babylon_data_loader_spark.synthetic import (
        append_to_lake,
        generate_synthetic,
        write_synthetic_csv,
    )

    spark = build_session(app_name="babylon-generate")
    try:
        df = generate_synthetic(spark, rows=args.rows, seed=args.seed)
        if args.persist_to_lake:
            append_to_lake(spark, df, load_config().transactions_path)
            target = load_config().transactions_path
        else:
            write_synthetic_csv(df.coalesce(1), args.dir)
            target = args.dir
    finally:
        spark.stop()
    print(json.dumps({"rows": args.rows, "target": target}))
    return 0


def _cmd_compact(args: argparse.Namespace) -> int:
    from babylon_data_loader_spark.config import load_config
    from babylon_data_loader_spark.operators.tx_lake import TransactionalLake
    from babylon_data_loader_spark.session import build_session

    path = args.path or load_config().transactions_path
    spark = build_session(app_name="babylon-compact")
    try:
        lake = TransactionalLake.open(path)
        before = lake.current_manifest()
        lake.compact(spark)
        after = lake.current_manifest()
    finally:
        spark.stop()
    print(
        json.dumps(
            {
                "path": path,
                "version": after["version"],
                "partitions": len(after["partitions"]),
                "dirs_before": len(
                    {d for ds in before["partitions"].values() for d in ds}
                ),
                "dirs_after": len(
                    {d for ds in after["partitions"].values() for d in ds}
                ),
            }
        )
    )
    return 0


def _cmd_fsck(args: argparse.Namespace) -> int:
    from babylon_data_loader_spark.config import load_config
    from babylon_data_loader_spark.operators.tx_lake import TransactionalLake

    path = args.path or load_config().transactions_path
    report = TransactionalLake(path).fsck()  # no Spark session needed
    print(json.dumps({"path": path, **report}))
    return 0 if report["ok"] else 1


def _cmd_optimize(args: argparse.Namespace) -> int:
    from babylon_data_loader_spark.operators.layout import optimize_layout
    from babylon_data_loader_spark.session import build_session

    spark = build_session(app_name="babylon-optimize")
    try:
        out = optimize_layout(
            spark,
            args.src,
            args.dst,
            target_file_bytes=args.target_file_mb << 20,
            sort_by=args.sort_by.split(",") if args.sort_by else None,
            zorder_by=args.zorder_by.split(",") if args.zorder_by else None,
            n_files=args.n_files,
        )
        n_rows = out.count()
        n_files = len(out.inputFiles())
    finally:
        spark.stop()
    print(
        json.dumps(
            {
                "src": args.src,
                "dst": args.dst,
                "rows": n_rows,
                "files": n_files,
                "sorted_by": args.sort_by or None,
                "zordered_by": args.zorder_by or None,
            }
        )
    )
    return 0


def _cmd_vacuum(args: argparse.Namespace) -> int:
    from babylon_data_loader_spark.config import load_config
    from babylon_data_loader_spark.operators.tx_lake import TransactionalLake

    path = args.path or load_config().transactions_path
    lake = TransactionalLake(path)
    if args.grace_seconds is not None:
        lake.stale_claim_s = args.grace_seconds
    report = lake.vacuum(keep_versions=args.keep_versions)
    print(json.dumps({"path": path, **report}))
    return 0


def _cmd_sweep_stores(args: argparse.Namespace) -> int:
    """Maintenance sweep of the at-rest store warehouse — the same
    rule every store build runs afterwards: deletes every store whose
    meta is missing or records source files that no longer exist
    unchanged, and every abandoned staging dir of a killed build."""
    from babylon_data_loader_spark.operators.index_store import (
        sweep_dead_stores,
        warehouse_dir,
    )
    from babylon_data_loader_spark.session import build_session

    spark = build_session(app_name="sweep-stores")
    try:
        removed = sweep_dead_stores(spark)
        print(
            json.dumps(
                {"warehouse": warehouse_dir(spark), "removed": removed}
            )
        )
    finally:
        spark.stop()
    return 0


def _cmd_delete(args: argparse.Namespace) -> int:
    """DELETE FROM <lake> WHERE <sql-predicate> — the reference has no
    delete surface (Mongo deletes happen out of band); this is the
    lake-native GDPR workflow: partition-scoped atomic delete NOW,
    vacuum forgets the old versions LATER."""
    from babylon_data_loader_spark.config import load_config
    from babylon_data_loader_spark.operators.tx_lake import TransactionalLake
    from babylon_data_loader_spark.session import build_session

    path = args.path or load_config().transactions_path
    spark = build_session(app_name="delete-from-lake")
    try:
        from pyspark.sql import functions as F

        lake = TransactionalLake.open(path)
        n = lake.delete_where(spark, F.expr(args.where))
        print(
            json.dumps(
                {
                    "path": path,
                    "where": args.where,
                    "rows_deleted": n,
                    "version": lake.current_manifest()["version"],
                }
            )
        )
        return 0
    finally:
        spark.stop()



def _cmd_profile(args: argparse.Namespace) -> int:
    from babylon_data_loader_spark.session import build_session

    spark = build_session(app_name="profile")
    try:
        df = spark.read.parquet(args.path)
        from pyspark.sql import functions as F

        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for f in df.schema.fields:
            aggs.append(
                (F.count(F.lit(1)) - F.count(f.name)).alias(
                    f"null_{f.name}"
                )
            )
        row = df.agg(*aggs).first().asDict()
        print(json.dumps({"path": args.path, **row}))
    finally:
        spark.stop()
    return 0


def _cmd_export(args: argparse.Namespace) -> int:
    from babylon_data_loader_spark.operators.export import (
        export_corpus,
        export_manifest,
    )
    from babylon_data_loader_spark.session import build_session

    spark = build_session(app_name="export-corpus")
    try:
        df = spark.read.parquet(args.src)
        export_corpus(
            df,
            args.dst,
            fmt=args.format,
            max_records_per_file=args.max_records_per_file,
            shard_by=args.shard_by,
            n_shards=args.shards,
        )
        manifest = export_manifest(spark, args.dst, fmt=args.format)
        files = manifest.count()
        rows = manifest.agg({"n_rows": "sum"}).first()[0]
        print(
            json.dumps(
                {
                    "src": args.src,
                    "dst": args.dst,
                    "format": args.format,
                    "files": files,
                    "rows": int(rows or 0),
                }
            )
        )
    finally:
        spark.stop()
    return 0


def _cmd_validate(args: argparse.Namespace) -> int:
    """Validate a parquet table against a JSON contract file of
    expectations: [{"name": ..., "predicate": <SQL bool expr>,
    "action": "drop"|"quarantine"|"fail"}, ...]. Prints one JSON line
    with per-expectation violation counts; exit 1 if any 'fail'
    expectation has violations (the CI-gate contract), optionally
    writing quarantined rows (with their violation names) to
    --quarantine-dir."""
    from babylon_data_loader_spark.operators.expectations import (
        AggExpectation,
        Expectation,
        FailedExpectationError,
        apply_expectations,
        check_aggregates,
    )
    from babylon_data_loader_spark.session import build_session

    with open(args.contract) as fh:
        spec = json.load(fh)
    # scope: "row" (default) → per-row predicate with routing action;
    # scope: "aggregate" → dataset-level metric vs predicate over
    # `value` (failing aggregate checks always gate the exit code)
    expectations = [
        Expectation(
            e["name"], e["predicate"], e.get("action", "quarantine")
        )
        for e in spec
        if e.get("scope", "row") == "row"
    ]
    agg_checks = [
        AggExpectation(e["name"], e["metric"], e["predicate"])
        for e in spec
        if e.get("scope") == "aggregate"
    ]
    spark = build_session(app_name="validate")
    try:
        df = spark.read.parquet(args.path)
        res = apply_expectations(df, expectations)
        stats = [r.asDict() for r in res.stats.collect()]
        agg_stats = (
            [
                r.asDict()
                for r in check_aggregates(spark, df, agg_checks).collect()
            ]
            if agg_checks
            else []
        )
        if args.quarantine_dir:
            from pyspark.sql import functions as F

            res.quarantined.withColumn(
                "violations", F.array_join("violations", ",")
            ).write.mode("overwrite").parquet(args.quarantine_dir)
        failed = [
            s["expectation"]
            for s in stats
            if s["action"] == "fail" and s["n_violations"] > 0
        ] + [s["expectation"] for s in agg_stats if not s["passed"]]
        print(
            json.dumps(
                {
                    "path": args.path,
                    "n_rows": df.count(),
                    "stats": stats,
                    "aggregate_stats": agg_stats,
                    "failed": failed,
                }
            )
        )
        if failed:
            raise FailedExpectationError(
                f"expectations failed with violations: {failed}"
            )
    except FailedExpectationError:
        return 1
    finally:
        spark.stop()
    return 0


def _cmd_tag_lake(args: argparse.Namespace) -> int:
    """Create/delete/list named version tags on a transactional lake
    (tags pin versions through vacuum — reproducibility handles)."""
    from babylon_data_loader_spark.config import load_config
    from babylon_data_loader_spark.operators.tx_lake import (
        TransactionalLake,
    )

    path = args.path or load_config().transactions_path
    lake = TransactionalLake(path)
    if args.delete:
        lake.delete_tag(args.delete)
    elif args.name:
        lake.tag(args.name, version=args.version)
    print(json.dumps({"path": path, "tags": lake.tags()}))
    return 0


def _cmd_run_pipeline(args: argparse.Namespace) -> int:
    """Execute a declarative JSON pipeline spec (source → steps →
    sink, pipeline_spec.py). Spec errors exit 2 before any I/O;
    fail-action expectation violations exit 1."""
    from babylon_data_loader_spark.operators.expectations import (
        FailedExpectationError,
    )
    from babylon_data_loader_spark.pipeline_spec import (
        PipelineSpecError,
        run_pipeline,
    )
    from babylon_data_loader_spark.session import build_session

    with open(args.spec) as fh:
        spec = json.load(fh)
    spark = build_session(app_name="run-pipeline")
    try:
        stats = run_pipeline(spark, spec)
        print(json.dumps(stats))
    except PipelineSpecError as exc:
        print(json.dumps({"error": str(exc)}))
        return 2
    except FailedExpectationError as exc:
        print(json.dumps({"error": str(exc)}))
        return 1
    finally:
        spark.stop()
    return 0


def _cmd_card(args: argparse.Namespace) -> int:
    """Dataset card: the one-page JSON summary a corpus ships with —
    composition (language/source mix), length stats, token volume, and
    exact-duplicate rate, all from single-pass aggregates plus one
    fingerprint groupBy (the same normalized-md5 the dedup lane
    uses)."""
    from babylon_data_loader_spark.functions.text import (
        fingerprint,
        n_tokens,
    )
    from babylon_data_loader_spark.session import build_session

    spark = build_session(app_name="dataset-card")
    try:
        from pyspark.sql import functions as F

        df = spark.read.parquet(args.path)
        text_col = args.text_col
        base = df.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length(text_col)).alias("total_chars"),
            F.sum(n_tokens(F.col(text_col))).alias("total_tokens"),
            F.min(F.length(text_col)).alias("min_chars"),
            F.expr(f"percentile(length({text_col}), 0.5)").alias(
                "median_chars"
            ),
            F.max(F.length(text_col)).alias("max_chars"),
        ).first()
        uniques = (
            df.select(fingerprint(F.col(text_col)).alias("fp"))
            .distinct()
            .count()
        )
        mix = {}
        for dim in args.mix_by:
            if dim in df.columns:
                mix[dim] = {
                    r[dim]: r["n"]
                    for r in df.groupBy(dim)
                    .agg(F.count(F.lit(1)).alias("n"))
                    .orderBy(F.col("n").desc())
                    .limit(50)
                    .collect()
                }
        n_docs = base["n_docs"] or 0
        card = {
            "path": args.path,
            "n_docs": n_docs,
            "total_chars": int(base["total_chars"] or 0),
            "total_tokens": int(base["total_tokens"] or 0),
            "chars_min_median_max": [
                int(base["min_chars"] or 0),
                float(base["median_chars"] or 0),
                int(base["max_chars"] or 0),
            ],
            "exact_dup_rate": (
                round(1.0 - uniques / n_docs, 6) if n_docs else 0.0
            ),
            "mix": mix,
        }
        print(json.dumps(card, default=str))
    finally:
        spark.stop()
    return 0


def _registry():
    from babylon_data_loader_spark import queries as Q

    Q.load_all()
    return Q.QUERIES, Q.ORACLES


def _cmd_list_queries(args: argparse.Namespace) -> int:
    qmap, omap = _registry()
    for name, fn in qmap.items():
        if args.filter and args.filter not in name:
            continue
        doc = (fn.__doc__ or "").strip().splitlines()
        print(
            json.dumps(
                {
                    "name": name,
                    "oracle": name in omap,
                    "doc": doc[0] if doc else "",
                }
            )
        )
    return 0


def _cmd_run_query(args: argparse.Namespace) -> int:
    from babylon_data_loader_spark.session import build_session

    qmap, _ = _registry()
    if args.name not in qmap:
        print(f"unknown query {args.name!r} (see list-queries)", file=sys.stderr)
        return 2
    spark = build_session(app_name=f"run-{args.name}")
    try:
        df = qmap[args.name](spark, args.sf_dir)
        rows = df.limit(args.limit).collect() if args.limit else df.collect()
        for r in rows:
            print(json.dumps(r.asDict(recursive=True), default=str))
    finally:
        spark.stop()
    return 0


def _cmd_explain_query(args: argparse.Namespace) -> int:
    from babylon_data_loader_spark.session import build_session

    qmap, _ = _registry()
    if args.name not in qmap:
        print(f"unknown query {args.name!r} (see list-queries)", file=sys.stderr)
        return 2
    spark = build_session(app_name=f"explain-{args.name}")
    try:
        qmap[args.name](spark, args.sf_dir).explain(mode="formatted")
    finally:
        spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="babylon_data_loader_spark")
    sub = parser.add_subparsers(dest="command", required=True)

    sub.add_parser("ingest", help="ingest CSVs from UNPROCESSED_DIR")

    compact = sub.add_parser(
        "compact-lake",
        help="fold append-accumulated lake dirs to one per partition",
    )
    compact.add_argument("--path", default=None)

    fsck = sub.add_parser(
        "fsck-lake", help="lake integrity report (exit 1 if broken)"
    )
    fsck.add_argument("--path", default=None)

    vacuum = sub.add_parser(
        "vacuum-lake", help="delete version dirs outside retention"
    )
    vacuum.add_argument("--path", default=None)
    vacuum.add_argument("--keep-versions", type=int, default=3)
    vacuum.add_argument(
        "--grace-seconds",
        type=float,
        default=None,
        help="spare unreferenced dirs younger than this "
        "(default: the lake's stale_claim_s) — protects in-flight writers",
    )

    sub.add_parser(
        "sweep-stores",
        help="remove at-rest index stores whose source data no "
        "longer exists unchanged, and abandoned store builds",
    )

    dele = sub.add_parser(
        "delete-from-lake",
        help="DELETE FROM the lake WHERE a SQL predicate holds "
        "(atomic new version; old snapshots keep rows until vacuum)",
    )
    dele.add_argument("where", help="SQL boolean predicate, e.g. \"data_source = 'chase'\"")
    dele.add_argument("--path", default=None)

    opt = sub.add_parser(
        "optimize-layout",
        help="rewrite a parquet table into right-sized, optionally "
        "range-sorted files (scan parallelism + file skipping)",
    )
    opt.add_argument("src")
    opt.add_argument("dst")
    opt.add_argument("--target-file-mb", type=int, default=128)
    opt.add_argument("--n-files", type=int, default=None)
    opt.add_argument(
        "--sort-by", default=None, help="comma-separated sort columns"
    )
    opt.add_argument(
        "--zorder-by",
        default=None,
        help="comma-separated Z-order (Morton) clustering columns",
    )

    prof = sub.add_parser(
        "profile",
        help="one-pass table profile (row count + per-column nulls)",
    )
    prof.add_argument("path")

    val = sub.add_parser(
        "validate",
        help="check a parquet table against a JSON expectations "
        "contract; exit 1 if a fail-action expectation has violations",
    )
    val.add_argument("path")
    val.add_argument("contract", help="JSON file of expectations")
    val.add_argument("--quarantine-dir", default=None)

    tagp = sub.add_parser(
        "tag-lake",
        help="create/delete/list named lake version tags "
        "(tags pin versions through vacuum)",
    )
    tagp.add_argument("name", nargs="?", default=None)
    tagp.add_argument("--path", default=None)
    tagp.add_argument("--version", type=int, default=None)
    tagp.add_argument("--delete", default=None, metavar="NAME")

    pipe = sub.add_parser(
        "run-pipeline",
        help="execute a declarative JSON pipeline spec "
        "(source -> steps -> sink)",
    )
    pipe.add_argument("spec", help="JSON pipeline spec file")

    exp = sub.add_parser(
        "export-corpus",
        help="write a table as size-bounded, optionally hash-sharded "
        "files + manifest (the training-corpus last mile)",
    )
    exp.add_argument("src")
    exp.add_argument("dst")
    exp.add_argument("--format", choices=["parquet", "jsonl"], default="parquet")
    exp.add_argument("--max-records-per-file", type=int, default=100_000)
    exp.add_argument("--shard-by", default=None)
    exp.add_argument("--shards", type=int, default=None)

    card = sub.add_parser(
        "dataset-card",
        help="one-page JSON corpus summary: composition mix, length "
        "and token stats, exact-duplicate rate",
    )
    card.add_argument("path")
    card.add_argument("--text-col", default="text")
    card.add_argument(
        "--mix-by",
        nargs="*",
        default=["lang", "source"],
        help="categorical columns to histogram (top 50 each)",
    )

    lsq = sub.add_parser(
        "list-queries",
        help="list the declared query registry (name, oracle flag, "
        "one-line description) as JSON lines",
    )
    lsq.add_argument("--filter", default=None, help="name substring")

    _default_sf = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"
    )
    runq = sub.add_parser(
        "run-query",
        help="run one declared query against a testdata dir and "
        "print rows as JSON lines",
    )
    runq.add_argument("name")
    runq.add_argument("--sf-dir", default=_default_sf)
    runq.add_argument(
        "--limit", type=int, default=20, help="0 = no limit"
    )

    expq = sub.add_parser(
        "explain-query",
        help="print a declared query's formatted physical plan",
    )
    expq.add_argument("name")
    expq.add_argument("--sf-dir", default=_default_sf)

    gen = sub.add_parser(
        "generate-synthetic-data", help="generate synthetic transactions"
    )
    # Defaults mirror the reference (--rows 100, loadConfig.go:24-25).
    gen.add_argument("--rows", type=int, default=100)
    gen.add_argument("--dir", default="./synthetic-data")
    gen.add_argument("--seed", type=int, default=None)
    gen.add_argument("--persist-to-lake", action="store_true")

    args = parser.parse_args(argv)
    if args.command == "ingest":
        return _cmd_ingest(args)
    if args.command == "compact-lake":
        return _cmd_compact(args)
    if args.command == "fsck-lake":
        return _cmd_fsck(args)
    if args.command == "vacuum-lake":
        return _cmd_vacuum(args)
    if args.command == "sweep-stores":
        return _cmd_sweep_stores(args)
    if args.command == "delete-from-lake":
        return _cmd_delete(args)
    if args.command == "optimize-layout":
        return _cmd_optimize(args)
    if args.command == "profile":
        return _cmd_profile(args)
    if args.command == "validate":
        return _cmd_validate(args)
    if args.command == "run-pipeline":
        return _cmd_run_pipeline(args)
    if args.command == "tag-lake":
        return _cmd_tag_lake(args)
    if args.command == "export-corpus":
        return _cmd_export(args)
    if args.command == "dataset-card":
        return _cmd_card(args)
    if args.command == "list-queries":
        return _cmd_list_queries(args)
    if args.command == "run-query":
        return _cmd_run_query(args)
    if args.command == "explain-query":
        return _cmd_explain_query(args)
    return _cmd_generate(args)


if __name__ == "__main__":
    sys.exit(main())

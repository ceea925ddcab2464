"""Round-12 queries: the two seams r11's VERDICT asked for.

- ``q_merge_divergent_stress``: the HARD concurrent-MERGE case
  (SURVEY §7 hard-part 3, r11 VERDICT ask #4). r11's
  ``q_merge_concurrent_stress`` raced two writers whose overlapping
  keys carried IDENTICAL rows (idempotent at-least-once
  re-delivery); here the overlap rows DIVERGE — each writer claims a
  different value for the same key — and the final state is still
  interleaving-independent because the merge runs in
  RESOLVE-BY-TOTAL-ORDER mode (``merge_upsert(order_cols=...)``,
  operators/tx_lake.py): the survivor among {stored, batch} rows per
  key is the max under the q_dedup_key total order, making every
  commit commutative and idempotent. The DuckDB oracle computes the
  order-max outcome from the events table alone; a pytest
  additionally permutes commit interleavings and pins byte-equal
  final states (tests/test_round12.py).
- ``q_admission_gate``: the COMPOSED production admission pipeline
  (r11 VERDICT ask #6): incremental decontamination → owner-keep
  substring strip → token-budget admit, run as ONE query over the
  same at-rest stores the three standalone seams use. An arriving
  batch (doc_id%23==0) is (1) dropped outright when it shares any
  4-gram with the eval suite's at-rest gram index, (2) stripped of
  every >=16-token span the corpus already owns plus batch-internal
  duplicate spans, then (3) admitted greedily per source under a
  token budget in doc_id order. Each stage is the ORACLE-GREEN
  operator from r10/r11; the composition is what a production gate
  actually runs between arrival and commit.

Scale notes: the divergent merge rewrites only touched partitions
per commit and its same-key resolution shuffles the touched
partitions plus the batch — the merge_upsert envelope unchanged; the
admission gate's three stages are each one bounded probe of an
at-rest index (eval grams broadcast-with-guard; corpus window hashes
semi-joined at (id,pos,hash) width; the budget scan is one window
over the surviving batch docs) — the corpus is never rescanned.

Reference analogue: mongo_repository.go:44-57 upsert semantics (the
unordered-bulk nondeterminism this merge mode removes) + the
incremental-ingest contract (datalake/client.go:45-76).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from babylon_data_loader_spark.queries import query
from babylon_data_loader_spark.queries.round11 import _BASE_CTE
from babylon_data_loader_spark.schemas import event_ts_us, load_table

# ---------------------------------------------------------------------------
# q_merge_divergent_stress
# ---------------------------------------------------------------------------

#: writer A updates user_id%10 0-4 (event_id+1M, value+1000); writer
#: B updates 3-7 (event_id+2M, value+2000). Keys 3-4 receive BOTH —
#: divergent rows — and the resolve order (event_id DESC first) makes
#: B the deterministic winner regardless of commit interleaving.
_DIV_CASE = """
      CASE WHEN user_id % 10 BETWEEN 3 AND 7 THEN {b}
           WHEN user_id % 10 <= 2 THEN {a}
           ELSE {base} END
"""


@query(
    "q_merge_divergent_stress",
    oracle=_BASE_CTE
    + f"""
    , final AS (
      SELECT user_id, event_type,
             {_DIV_CASE.format(
                 b='event_id + 2000000',
                 a='event_id + 1000000',
                 base='event_id',
             )} AS event_id,
             ts_us,
             {_DIV_CASE.format(
                 b='value + 2000.0',
                 a='value + 1000.0',
                 base='value',
             )} AS value
      FROM base
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN event_id >= 1000000
                          AND event_id < 2000000
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_won_a,
           CAST(SUM(CASE WHEN event_id >= 2000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_won_b,
           CAST(SUM(CAST(value AS DECIMAL(25, 6))) AS DOUBLE)
             AS sum_value
    FROM final GROUP BY event_type ORDER BY event_type
    """,
)
def q_merge_divergent_stress(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGE under concurrent writers whose overlapping keys carry
    DIFFERENT values: writer A claims event_id+1M / value+1000 for
    user_id%10 0-4, writer B claims +2M / +2000 for 3-7; both split
    their updates into three racing commits. The lake merges in
    resolve-by-total-order mode (order_cols = event_id, ts_us, value
    — the q_dedup_key discipline), so the key's survivor is the
    ORDER-MAX of every row ever delivered, not the last commit: keys
    3-4 deterministically keep B's row whichever thread lands last,
    and the oracle computes that outcome from the events table alone.
    In-query raises pin the transactional invariants the oracle
    cannot see: exactly 7 committed versions, no leftover claim
    files, key-count conservation."""
    import os
    import shutil
    import threading
    import uuid

    from babylon_data_loader_spark.operators.index_store import (
        warehouse_dir,
    )
    from babylon_data_loader_spark.operators.merge import merge_upsert
    from babylon_data_loader_spark.operators.tx_lake import (
        TransactionalLake,
    )

    ev = load_table(spark, sf_dir, "events")
    base = (
        ev.select(
            "user_id",
            "event_type",
            "event_id",
            event_ts_us(ev).alias("ts_us"),
            "value",
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id", "event_type").orderBy(
                    F.col("ts_us").desc(), F.col("event_id").desc()
                )
            ),
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    key = ["user_id", "event_type"]
    order_cols = ["event_id", "ts_us", "value"]
    path = os.path.join(
        warehouse_dir(spark),
        f"_merge_divergent_{uuid.uuid4().hex[:12]}",
    )

    def claim(bump_id: int, bump_val: float) -> DataFrame:
        return base.select(
            "user_id",
            "event_type",
            (F.col("event_id") + F.lit(bump_id)).alias("event_id"),
            "ts_us",
            (F.col("value") + F.lit(bump_val)).alias("value"),
        )

    try:
        merge_upsert(
            spark,
            path,
            base,
            key=key,
            partition_col="event_type",
            order_cols=order_cols,
        )
        errors: list[BaseException] = []

        def writer(lo: int, hi: int, upd: DataFrame) -> None:
            try:
                for chunk in range(3):
                    batch = upd.where(
                        (F.col("user_id") % 10 >= lo)
                        & (F.col("user_id") % 10 <= hi)
                        & (F.col("user_id") % 3 == chunk)
                    )
                    merge_upsert(
                        spark,
                        path,
                        batch,
                        key=key,
                        partition_col="event_type",
                        order_cols=order_cols,
                        max_retries=8,
                    )
            except BaseException as exc:  # surfaced after join
                errors.append(exc)

        ta = threading.Thread(
            target=writer, args=(0, 4, claim(1000000, 1000.0))
        )
        tb = threading.Thread(
            target=writer, args=(3, 7, claim(2000000, 2000.0))
        )
        ta.start()
        tb.start()
        ta.join()
        tb.join()
        if errors:
            raise errors[0]
        lake = TransactionalLake.open(
            path, partition_col="event_type"
        )
        version = lake.current_manifest()["version"]
        if version != 7:
            raise AssertionError(
                f"expected 7 committed versions (1 seed + 6 merges), "
                f"manifest points at v{version}"
            )
        leftover = [
            f
            for f in os.listdir(os.path.join(path, "_manifest"))
            if f.startswith("v8")
        ]
        if leftover:
            raise AssertionError(
                f"uncommitted claim files left behind: {leftover}"
            )
        state = lake.read(spark)
        n_keys = state.select(*key).distinct().count()
        n_base = base.select(*key).distinct().count()
        if n_keys != n_base:
            raise AssertionError(
                f"upserts changed the key population: "
                f"{n_base} -> {n_keys}"
            )
        out = (
            state.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum(
                    F.when(
                        (F.col("event_id") >= 1000000)
                        & (F.col("event_id") < 2000000),
                        F.lit(1),
                    ).otherwise(F.lit(0))
                )
                .cast("long")
                .alias("n_won_a"),
                F.sum(
                    F.when(
                        F.col("event_id") >= 2000000, F.lit(1)
                    ).otherwise(F.lit(0))
                )
                .cast("long")
                .alias("n_won_b"),
                F.sum(F.col("value").cast("decimal(25,6)"))
                .cast("double")
                .alias("sum_value"),
            )
            .orderBy("event_type")
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# q_admission_gate
# ---------------------------------------------------------------------------


#: absolute per-source admission budget (tokens per batch): the
#: post-gate batch carries ~1 doc of 10-100 tokens per source at
#: every SF, so a FRACTIONAL budget (cum*2 <= total) admits nothing
#: — a production gate caps absolute intake per source per batch
_GATE_BUDGET = 60


def _admission_gate_oracle() -> str:
    from babylon_data_loader_spark.queries.round9 import _TOK

    budget = _GATE_BUDGET
    return f"""
    WITH tokd AS (
      SELECT doc_id, source, {_TOK} AS t FROM documents
    ), g4 AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 4
               THEN list_transform(generate_series(1, len(t) - 3),
                      j -> md5(array_to_string(t[j:j+3], ' ')))
               ELSE [md5(array_to_string(t, ' '))] END) AS h
      FROM tokd
    ), evalg AS (
      SELECT DISTINCT h FROM g4
      WHERE doc_id % 23 <> 0 AND doc_id % 3 = 0
    ), contaminated AS (
      SELECT DISTINCT g.doc_id
      FROM g4 g JOIN evalg e ON e.h = g.h
      WHERE g.doc_id % 23 = 0
    ), surv AS (
      SELECT doc_id, source, t FROM tokd
      WHERE doc_id % 23 = 0
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), cw AS (
      SELECT DISTINCT
             unnest(CASE WHEN len(t) >= 16
               THEN list_transform(generate_series(1, len(t) - 15),
                      j -> md5(array_to_string(t[j:j+15], ' ')))
               ELSE [md5(array_to_string(t, ' '))] END) AS h
      FROM tokd WHERE doc_id % 23 <> 0
    ), bw AS (
      SELECT doc_id, u['pos'] AS pos, u['h'] AS h FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 15),
                 j -> {{'pos': j - 1,
                        'h': md5(array_to_string(t[j:j+15], ' '))}}))
                 AS u
        FROM surv WHERE len(t) >= 16
      )
    ), bloseC AS (
      SELECT bw.doc_id, bw.pos FROM bw JOIN cw ON cw.h = bw.h
    ), rest AS (
      SELECT bw.doc_id, bw.pos, bw.h FROM bw
      LEFT JOIN cw ON cw.h = bw.h WHERE cw.h IS NULL
    ), occ AS (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (
               PARTITION BY h ORDER BY doc_id, pos) AS rn,
             COUNT(*) OVER (PARTITION BY h) AS n
      FROM rest
    ), lose AS (
      SELECT doc_id, pos FROM bloseC
      UNION ALL
      SELECT doc_id, pos FROM occ WHERE n > 1 AND rn > 1
    ), lisl AS (
      SELECT doc_id,
             CAST(MIN(pos) AS BIGINT) AS lo,
             CAST(MAX(pos) AS BIGINT) AS hi
      FROM (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (
                 PARTITION BY doc_id ORDER BY pos) AS g
        FROM lose
      ) GROUP BY doc_id, g
    ), sp AS (
      SELECT doc_id, list({{'lo': lo, 'hi': hi}}) AS spans
      FROM lisl GROUP BY doc_id
    ), ntok AS (
      SELECT s.doc_id, s.source,
             CASE WHEN len(s.t) >= 16
                  THEN len(list_filter(s.t, (x, i) ->
                         len(list_filter(
                           COALESCE(p.spans,
                             CAST([] AS STRUCT(lo BIGINT,
                                               hi BIGINT)[])),
                           e -> e.lo <= i - 1
                                AND i - 1 <= e.hi + 15)) = 0))
                  ELSE len(s.t) END AS nt
      FROM surv s LEFT JOIN sp p ON p.doc_id = s.doc_id
    ), per AS (
      SELECT doc_id, source, nt FROM ntok WHERE nt > 0
    ), cum AS (
      SELECT source, doc_id, nt,
             CAST(SUM(nt) OVER (
               PARTITION BY source ORDER BY doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM per
    ), tot AS (
      SELECT source, CAST(SUM(nt) AS BIGINT) AS source_total
      FROM per GROUP BY source
    ), census AS (
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM tokd
         WHERE doc_id % 23 = 0) AS n_batch,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM contaminated)
          AS n_dropped
    )
    SELECT c.source, c.doc_id, CAST(c.nt AS BIGINT) AS n_tokens,
           c.cum_tokens, t.source_total,
           census.n_batch, census.n_dropped
    FROM cum c JOIN tot t USING (source) CROSS JOIN census
    WHERE c.cum_tokens <= {budget}
    ORDER BY c.source, c.doc_id
    """


@query("q_admission_gate", oracle=_admission_gate_oracle())
def q_admission_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production admission gate, end to end in one
    declared query (r11 VERDICT ask #6): an arriving batch
    (doc_id%23==0, the incremental-family convention) passes three
    gates before entering the corpus —

    1. DECONTAMINATE (drop): any batch doc sharing a 4-token gram
       with the benchmark suite (corpus docs with doc_id%3==0) is
       dropped outright. The eval grams come from the AT-REST index
       q_incremental_decontaminate maintains (one broadcast-guarded
       probe; the corpus is never rescanned).
    2. STRIP (owner-keep): surviving docs lose every >=16-token span
       the corpus already owns, plus batch-internal duplicate spans
       beyond their minimal (doc_id, pos) owner copy — probed against
       the at-rest token-window store, shuffles bounded at
       (id, pos, 32-hex hash) width (q_incremental_strip_owner's
       machinery over the post-drop batch).
    3. ADMIT (token budget): what remains is admitted greedily per
       source in doc_id (arrival) order while the running token sum
       stays within the 60-token per-source batch budget —
       integer-exact test, fully-stripped docs excluded.

    Emits one row per ADMITTED doc (source, doc_id, n_tokens,
    cum_tokens, source_total) with the gate census (n_batch,
    n_dropped) riding along as scalar witness columns. Every stage is
    the oracle-green r10/r11 operator; the composition is what runs
    between arrival and commit in a production pipeline."""
    from babylon_data_loader_spark.functions.text import tokens
    from babylon_data_loader_spark.operators.decontaminate import (
        gram_hashes,
    )
    from babylon_data_loader_spark.operators.index_store import (
        get_or_build_parquet,
    )
    from babylon_data_loader_spark.operators.rank import (
        grouped_running_totals_with_input,
    )
    from babylon_data_loader_spark.functions.cache import (
        persist_tracked,
    )
    from babylon_data_loader_spark.queries.round9 import (
        _windows,
        strip_by_islands,
    )
    from babylon_data_loader_spark.queries.round10 import (
        _BATCH_PRED,
        _CORPUS_PRED,
    )
    from babylon_data_loader_spark.queries.round11 import (
        _INCR_EVAL_PRED,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.expr(_BATCH_PRED))

    # gate 1: decontaminate — same at-rest eval-gram store (and
    # params key) q_incremental_decontaminate builds
    eval_grams = get_or_build_parquet(
        docs,
        "evalgrams",
        "n4lw_e3c23",
        lambda: gram_hashes(
            docs.where(F.expr(_INCR_EVAL_PRED)), n=4
        )
        .select("h")
        .distinct(),
    )
    # The store read carries parquet size stats, so Catalyst's
    # auto-broadcast threshold IS the guarded broadcast here (an
    # oversized eval suite degrades to a shuffle join on its own —
    # the same plan-statistics discipline contamination_census now
    # applies, r13). Persisted: probed twice (drop anti-join +
    # census).
    contaminated = persist_tracked(
        gram_hashes(batch, n=4)
        .join(eval_grams, "h", "left_semi")
        .select("doc_id")
        .distinct()
    )
    surv = persist_tracked(
        batch.join(contaminated, "doc_id", "left_anti")
    )

    # gate 2: owner-keep strip of the survivors against the at-rest
    # window store (corpus hashes + batch-internal ownership)
    win = _windows(spark, sf_dir)
    corpus_h = win.where(_CORPUS_PRED).select("h").distinct()
    surv_ids = surv.select("doc_id")
    bw = (
        win.where(f"({_BATCH_PRED}) AND pos >= 0")
        .join(surv_ids, "doc_id", "left_semi")
    )
    lose_corpus = bw.join(corpus_h, "h", "left_semi").select(
        "doc_id", "pos"
    )
    rest = bw.join(corpus_h, "h", "left_anti")
    own = (
        rest.groupBy("h")
        .agg(
            F.min(F.struct("doc_id", "pos")).alias("_o"),
            F.count(F.lit(1)).alias("_n"),
        )
        .where(F.col("_n") > 1)
        .select("h", "_o")
    )
    lose_batch = (
        rest.join(own, "h")
        .where(
            (F.col("doc_id") != F.col("_o")["doc_id"])
            | (F.col("pos") != F.col("_o")["pos"])
        )
        .select("doc_id", "pos")
    )
    lose = lose_corpus.unionAll(lose_batch)
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        lose.withColumn("_g", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "_g")
        .agg(
            F.min("pos").cast("long").alias("lo"),
            F.max("pos").cast("long").alias("hi"),
        )
        .drop("_g")
    )
    stripped = strip_by_islands(surv, islands).select(
        "doc_id", F.col("n_after").alias("_nt_long")
    )

    # gate 3: token-budget admit over post-strip counts (sub-16-token
    # docs pass through strip unchanged)
    per = persist_tracked(
        surv.select(
            "doc_id",
            "source",
            F.size(tokens(F.lower(F.col("text"))))
            .cast("long")
            .alias("_nt_raw"),
        )
        .join(stripped, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce(F.col("_nt_long"), F.col("_nt_raw")).alias(
                "nt"
            ),
        )
        .where(F.col("nt") > 0)
    )
    # the admit scan's materialized input doubles as the source for
    # the per-source grand totals: on a warm range store the final
    # plan reads ONLY stores (eval grams, token windows, ranged
    # frame) — re-aggregating `per` here would re-execute the whole
    # strip pipeline at action time (the r14 regression the
    # with_input handle exists for)
    cum, per_mat = grouped_running_totals_with_input(
        per,
        ["source"],
        [F.col("doc_id").asc()],
        {"cum_tokens": F.col("nt")},
    )
    cum = cum.withColumn(
        "cum_tokens", F.col("cum_tokens").cast("long")
    )
    totals = per_mat.groupBy("source").agg(
        F.sum("nt").cast("long").alias("source_total")
    )
    census = (
        batch.agg(F.count(F.lit(1)).alias("n_batch"))
        .crossJoin(
            contaminated.agg(
                F.count(F.lit(1)).alias("n_dropped")
            )
        )
    )
    return (
        cum.join(F.broadcast(totals), "source")
        .where(F.col("cum_tokens") <= F.lit(_GATE_BUDGET))
        .crossJoin(F.broadcast(census))
        .select(
            "source",
            "doc_id",
            F.col("nt").alias("n_tokens"),
            "cum_tokens",
            "source_total",
            "n_batch",
            "n_dropped",
        )
        .orderBy("source", "doc_id")
    )

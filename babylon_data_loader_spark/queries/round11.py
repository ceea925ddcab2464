"""Round-11 queries: the two seams r10 left undeclared (r10 VERDICT
ask #6), plus the decontamination REPORT pair (``q_decontaminate``
/ ``q_incremental_decontaminate`` — see below).

- ``q_incremental_strip_owner``: owner-keep ExactSubstr strip over
  the INCREMENTAL path — composes r10's two new seams: the appended
  batch is probed against the at-rest corpus window store
  (q_incremental_substring's contract) and then only BATCH losers are
  stripped: the corpus owns every span it already contains, and
  batch-internal duplicates keep their minimal (doc_id, pos) owner
  copy. This is the admission pipeline's actual write path: strip the
  new documents of already-known spans before they enter the corpus,
  never touching stored documents.
- ``q_merge_concurrent_stress``: the reference's 5-key dedup-upsert
  contract under CONCURRENT writers (storage/mongo_repository.go:44-57
  re-expressed over the transactional lake): two threads each commit
  three MERGE batches with overlapping keys into one lake, racing on
  the O_EXCL version claim (operators/tx_lake.py:26); the final state
  must be byte-equal to the serial outcome. The overlap rows carry
  IDENTICAL values in both writers (idempotent re-delivery, the
  at-least-once shape), which is what makes the final state
  interleaving-independent and therefore exactly oracle-checkable —
  the claim/retry path had unit tests (tests/test_tx_lake.py) but no
  declared query until now.
- ``q_decontaminate``: eval-set n-gram overlap decontamination
  (GPT-3 appendix C / PaLM train-set hygiene) as the PER-DOCUMENT
  actionable report: which TRAINING documents share any n-token gram
  with a held-out evaluation slice, each with its distinct-gram
  census and contaminated share. The registry's existing
  ``curation.py::q_contamination`` answers the monitoring question
  (how many contaminated docs per source); this emits the worklist a
  pipeline acts on doc by doc (drop, or strip the spans). One
  broadcast hash-join over the corpus gram table; no all-pairs stage.
- ``q_incremental_decontaminate``: the same hygiene gate at the
  ADMISSION path — only the appended batch is gram-hashed in flight
  and probed against the eval-gram set read from the at-rest index;
  the corpus is never rescanned and the eval grams never recomputed
  (the incremental-substring economics applied to decontamination).

Scale notes: the strip family shuffles nothing wider than
(id, pos, 32-hex hash) and ownership stays a hash-keyed
map-combinable aggregate; the merge stress rewrites only touched
partitions per commit and its batches broadcast (anti-join build
side), the merge_upsert economics unchanged.

Reference analogue: mongo_repository.go upsert loop + the
incremental-ingest contract (datalake/client.go:45-76).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from babylon_data_loader_spark.queries import query
from babylon_data_loader_spark.queries.round9 import (
    _WIN_POS_ISLANDS_CTE,
    _windows,
    strip_by_islands,
)
from babylon_data_loader_spark.queries.round10 import (
    _BATCH_PRED,
    _CORPUS_PRED,
)
from babylon_data_loader_spark.schemas import event_ts_us, load_table

# ---------------------------------------------------------------------------
# q_incremental_strip_owner
# ---------------------------------------------------------------------------

#: appended after _WIN_POS_ISLANDS_CTE (tokd/w): corpus hash set
#: (ALL corpus windows, fallback included — a batch span equal to a
#: whole short corpus doc is still a known span), batch losers
#: (corpus-owned + batch-internal non-owner occurrences), and their
#: gaps-and-islands runs.
_INCR_LOSER_CTE = f"""
    , cw AS (
      SELECT DISTINCT
             unnest(CASE WHEN len(t) >= 16
               THEN list_transform(generate_series(1, len(t) - 15),
                      j -> md5(array_to_string(t[j:j+15], ' ')))
               ELSE [md5(array_to_string(t, ' '))] END) AS h
      FROM tokd WHERE {_CORPUS_PRED}
    ), bw AS (
      SELECT doc_id, pos, h FROM w WHERE {_BATCH_PRED}
    ), bloseC AS (
      SELECT bw.doc_id, bw.pos FROM bw
      JOIN cw ON cw.h = bw.h
    ), rest AS (
      SELECT bw.doc_id, bw.pos, bw.h FROM bw
      LEFT JOIN cw ON cw.h = bw.h WHERE cw.h IS NULL
    ), occ AS (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (
               PARTITION BY h ORDER BY doc_id, pos) AS rn,
             COUNT(*) OVER (PARTITION BY h) AS n
      FROM rest
    ), bloseB AS (
      SELECT doc_id, pos FROM occ WHERE n > 1 AND rn > 1
    ), lose AS (
      SELECT doc_id, pos FROM bloseC
      UNION ALL
      SELECT doc_id, pos FROM bloseB
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
    )
"""


@query(
    "q_incremental_strip_owner",
    oracle=_WIN_POS_ISLANDS_CTE
    + _INCR_LOSER_CTE
    + f"""
    , sp AS (
      SELECT doc_id, list({{'lo': lo, 'hi': hi}}) AS spans
      FROM lisl GROUP BY doc_id
    ), joined AS (
      SELECT b.doc_id, b.t,
             COALESCE(s.spans,
                      CAST([] AS STRUCT(lo BIGINT, hi BIGINT)[]))
               AS spans
      FROM (SELECT doc_id, t FROM tokd
            WHERE {_BATCH_PRED} AND len(t) >= 16) b
      LEFT JOIN sp s USING (doc_id)
    ), stripped AS (
      SELECT doc_id, t,
             list_filter(t, (x, i) ->
               len(list_filter(spans, s ->
                 s.lo <= i - 1 AND i - 1 <= s.hi + 15)) = 0) AS kept
      FROM joined
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_before,
           CAST(len(kept) AS BIGINT) AS n_after,
           CASE WHEN len(kept) = 0 THEN NULL
                ELSE md5(array_to_string(kept, ' ')) END AS digest
    FROM stripped ORDER BY doc_id
    """,
)
def q_incremental_strip_owner(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Owner-keep strip of an APPENDED batch only: spans the corpus
    already contains are stripped from the new documents (the corpus
    copy is the owner by arrival order), and spans duplicated only
    WITHIN the batch keep their minimal (doc_id, pos) occurrence —
    q_substring_strip_owner's policy restricted to batch-internal
    hashes. The corpus side contributes exactly its DISTINCT hash set
    (read from the at-rest window store, never rebuilt), so the
    expensive join carries one row per distinct corpus hash, not per
    occurrence; the batch side is window-hashed in flight — the
    q_incremental_substring probe economics, extended from a rate
    signal to the actual write-path transform. Emits the same
    constant-width (doc_id, n_before, n_after, digest) rows as the
    full-corpus strip, over >=16-token batch docs."""
    docs = load_table(spark, sf_dir, "documents")
    win = _windows(spark, sf_dir)
    corpus_h = win.where(_CORPUS_PRED).select("h").distinct()
    bw = win.where(f"({_BATCH_PRED}) AND pos >= 0").select(
        "doc_id", "pos", "h"
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
    return strip_by_islands(
        docs.where(_BATCH_PRED), islands
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q_merge_concurrent_stress
# ---------------------------------------------------------------------------

#: deterministic survivor per (user_id, event_type) key — the
#: q_dedup_key total order (ts DESC, event_id DESC)
_BASE_CTE = """
    WITH base AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
             value
      FROM events
      QUALIFY row_number() OVER (
        PARTITION BY user_id, event_type
        ORDER BY ts DESC, event_id DESC) = 1
    )
"""

#: which base keys the two writers update: A takes user_id%10 0-4,
#: B takes 3-7 — 3 and 4 are delivered by BOTH writers with
#: identical rows (the at-least-once overlap), so the final state is
#: interleaving-independent
_UPD_PRED = "user_id % 10 <= 7"


@query(
    "q_merge_concurrent_stress",
    oracle=_BASE_CTE
    + f"""
    , final AS (
      SELECT user_id, event_type,
             CASE WHEN {_UPD_PRED}
                  THEN event_id + 1000000 ELSE event_id END
               AS event_id,
             ts_us,
             CASE WHEN {_UPD_PRED}
                  THEN value + 1000.0 ELSE value END AS value
      FROM base
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN event_id >= 1000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_updated,
           CAST(SUM(CAST(value AS DECIMAL(25, 6))) AS DOUBLE)
             AS sum_value
    FROM final GROUP BY event_type ORDER BY event_type
    """,
)
def q_merge_concurrent_stress(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGE under concurrent appenders: seed a transactional lake
    with the deduped event state, then let TWO writer threads each
    commit three upsert batches (writer A updates user_id%10 0-4,
    writer B 3-7; the 3-4 overlap is delivered by both with identical
    rows — idempotent at-least-once re-delivery). The threads race on
    the O_EXCL version claim; losers retry on fresh state
    (tx_lake.py:26-33), so all seven commits land and the final lake
    content equals the serial outcome exactly — which is what the
    DuckDB oracle computes from the events table alone. In-query
    raises pin the transactional invariants the oracle cannot see:
    exactly 7 committed versions (1 seed + 6 merges), no leftover
    claim files, and key-count conservation (upserts never add or
    drop keys). Touched-partition rewrite cost and broadcast anti-join
    batch sides are the standard merge_upsert economics; the stress
    adds contention, not volume."""
    import os
    import shutil
    import threading
    import uuid

    from babylon_data_loader_spark.operators.merge import merge_upsert
    from babylon_data_loader_spark.operators.tx_lake import (
        TransactionalLake,
    )
    from babylon_data_loader_spark.operators.index_store import (
        warehouse_dir,
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
    updated = base.select(
        "user_id",
        "event_type",
        (F.col("event_id") + F.lit(1000000)).alias("event_id"),
        "ts_us",
        (F.col("value") + F.lit(1000.0)).alias("value"),
    )
    path = os.path.join(
        warehouse_dir(spark), f"_merge_stress_{uuid.uuid4().hex[:12]}"
    )
    try:
        merge_upsert(
            spark, path, base, key=key, partition_col="event_type"
        )
        errors: list[BaseException] = []

        def writer(lo: int, hi: int) -> None:
            try:
                for chunk in range(3):
                    batch = updated.where(
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
                        max_retries=8,
                    )
            except BaseException as exc:  # surfaced after join
                errors.append(exc)

        ta = threading.Thread(target=writer, args=(0, 4))
        tb = threading.Thread(target=writer, args=(3, 7))
        ta.start()
        tb.start()
        ta.join()
        tb.join()
        if errors:
            raise errors[0]
        lake = TransactionalLake.open(path, partition_col="event_type")
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
                        F.col("event_id") >= 1000000, F.lit(1)
                    ).otherwise(F.lit(0))
                )
                .cast("long")
                .alias("n_updated"),
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
# q_decontaminate
# ---------------------------------------------------------------------------

#: Tokens -> stride-1 4-token gram md5s, whole-doc fallback for
#: sub-4-token documents (the substring-family convention: a short
#: doc is one span, not zero). the 13-gram GPT-3 setting scaled to this
#: corpus's ~55-token, ~40-word-vocabulary documents (n is an
#: entropy knob: at 13-gram equivalence here nothing overlaps; 4
#: grams give the oracle a 38-doc contaminated report to pin).
_DECON_GRAMS_CTE = r"""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 4
               THEN list_transform(generate_series(1, len(t) - 3),
                      j -> md5(array_to_string(t[j:j+3], ' ')))
               ELSE [md5(array_to_string(t, ' '))] END) AS h
      FROM toks
    )
"""


@query(
    "q_decontaminate",
    oracle=_DECON_GRAMS_CTE
    + """
    , eval_g AS (
      SELECT DISTINCT h FROM grams WHERE doc_id % 13 = 0
    ), train AS (
      SELECT DISTINCT doc_id, h FROM grams WHERE doc_id % 13 <> 0
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_eval_grams,
           CAST(SUM(CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS eval_gram_rate
    FROM train t LEFT JOIN eval_g e ON e.h = t.h
    GROUP BY t.doc_id
    HAVING SUM(CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END) > 0
    ORDER BY t.doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (Brown et al. 2020 app. C; the PaLM /
    Llama train-set hygiene step): a training document is contaminated
    if it shares any n-token gram with the held-out evaluation set.
    The eval set here is the deterministic doc_id%13 slice standing in
    for an external benchmark; grams are stride-1 4-token windows
    (the 13-gram industry setting scaled down to this corpus's
    ~55-token, low-entropy synthetic vocabulary),
    hashed to md5 like the rest of the ExactSubstr family. Emits every
    contaminated TRAINING doc with its distinct-gram census and the
    contaminated share — the report a curation pipeline acts on
    (drop, or strip via the owner-keep machinery).

    Scale: grams shuffle as (doc_id, 32-hex md5) — the substring
    family's width discipline; per-doc distinct bounds fan-out at the
    map side. The eval-gram set is benchmark-scale (thousands of docs,
    NOT corpus-scale) so it broadcasts; the train side never joins
    wider than its own gram table. At 100 TB the eval grams would live
    in the at-rest index store and this stays one broadcast-hash-join
    pass over the corpus; no all-pairs stage exists anywhere.
    """
    from babylon_data_loader_spark.operators.decontaminate import (
        contamination_report,
    )

    docs = load_table(spark, sf_dir, "documents")
    return contamination_report(
        docs, F.col("doc_id") % 13 == 0, n=4
    )


# ---------------------------------------------------------------------------
# q_incremental_decontaminate
# ---------------------------------------------------------------------------

#: Eval suite for the ADMISSION path: every corpus (non-batch) doc
#: with doc_id%3==0 — deliberately wider than q_decontaminate's %13
#: slice so the 22-doc sf0.01 batch splits into both classes
#: (9 contaminated / 13 clean) instead of a near-constant answer.
_INCR_EVAL_PRED = "doc_id % 23 <> 0 AND doc_id % 3 = 0"


@query(
    "q_incremental_decontaminate",
    oracle=_DECON_GRAMS_CTE
    + f"""
    , eval_g AS (
      SELECT DISTINCT h FROM grams WHERE {_INCR_EVAL_PRED}
    ), train AS (
      SELECT DISTINCT doc_id, h FROM grams WHERE doc_id % 23 = 0
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_eval_grams,
           CAST(SUM(CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS eval_gram_rate
    FROM train t LEFT JOIN eval_g e ON e.h = t.h
    GROUP BY t.doc_id
    HAVING SUM(CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END) > 0
    ORDER BY t.doc_id
    """,
)
def q_incremental_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decontamination at the ADMISSION path: only the appended batch
    (doc_id%23==0, the incremental-family convention) is gram-hashed
    in flight and probed against the eval-gram set read from the
    AT-REST index (content-fingerprint-keyed, built once per dataset
    version like every other index) — the corpus is never rescanned
    and the eval grams are never recomputed per batch. This is how
    decontamination actually runs in production: the benchmark suite
    is fixed, its gram index is a stored artifact, and each arriving
    batch pays one gram explode over ITSELF plus one broadcast probe
    (q_incremental_substring's economics applied to the hygiene gate).
    Emits the same per-doc census shape as q_decontaminate, restricted
    to batch docs."""
    from babylon_data_loader_spark.operators.decontaminate import (
        contamination_census,
        gram_hashes,
    )
    from babylon_data_loader_spark.operators.index_store import (
        get_or_build_parquet,
    )

    docs = load_table(spark, sf_dir, "documents")
    eval_grams = get_or_build_parquet(
        docs,
        "evalgrams",
        # params bumped n4->n4lw when gram tokenization gained
        # lower+\s+ normalization: the store key must change when the
        # gram DERIVATION changes, or a same-fingerprint store would
        # serve grams computed by the old code
        "n4lw_e3c23",
        lambda: gram_hashes(
            docs.where(F.expr(_INCR_EVAL_PRED)), n=4
        )
        .select("h")
        .distinct(),
    )
    batch = docs.where(F.expr("doc_id % 23 = 0"))
    return contamination_census(
        gram_hashes(batch, n=4), eval_grams
    )

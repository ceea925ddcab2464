"""Round-14 query: the REPEATED admission gate with at-rest store
maintenance between arrivals (r13 VERDICT ask #5).

``q_admission_gate`` certifies ONE arriving batch against the at-rest
structures; a production pipeline runs the gate on every arrival, and
between arrivals the structures must MAINTAIN (append) rather than
rebuild. ``q_incremental_admission`` witnesses that lifecycle end to
end: two successive batches pass decontaminate → owner-keep strip →
per-source token-budget admit, and between them

- the admitted wave-1 documents' window hashes are APPENDED to the
  corpus token-window store (operators/dedup.py::append_token_windows
  — O(batch tokens), one file per touched hash prefix, no rebuild),
  so wave 2's strip gate sees wave-1 admissions as corpus-owned
  spans; and
- a newly-registered eval shard's grams are APPENDED to the
  decontamination gram index
  (operators/decontaminate.py::append_gram_index — O(shard tokens)),
  so wave 2 is screened against the GROWN benchmark suite.

Wave roles over the documents table (disjoint by construction):
batch 1 = doc_id%23==0 (the incremental-family convention), batch 2 =
doc_id%29==0 minus batch 1, corpus = everything else; eval shard 1 =
corpus docs with doc_id%3==0, shard 2 (arrives between waves) =
corpus docs with doc_id%3!=0 AND doc_id%7==0. Admitted docs enter the
corpus as delivered — span stripping is the ADMISSION-ACCOUNTING gate
here (the rewrite lane is q_substring_strip_owner); what the window
store gains is the admitted documents' windows.

Scale shape: every stage is the oracle-green r10-r12 machinery — the
batch is gram-hashed and window-hashed IN FLIGHT (O(batch), never a
corpus rescan), the store probes are hash-keyed semi/anti joins, the
admit stage is the distributed grouped prefix scan. The maintained
stores are ephemeral per-run copies under the session warehouse (a
persistent fingerprint-keyed store must stay a pure function of its
key — appends belong to caller-owned paths, the
write/append_token_windows contract).

Reference analogue: none (the reference is a CSV→Mongo ETL loader) —
LLM-pipeline track extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from babylon_data_loader_spark.functions.cache import persist_tracked
from babylon_data_loader_spark.queries import query
from babylon_data_loader_spark.schemas import load_table

_TOK = r"regexp_split_to_array(trim(lower(text)), '\s+')"

_B1 = "doc_id % 23 = 0"
_B2 = "doc_id % 29 = 0 AND doc_id % 23 <> 0"
_CORP0 = "doc_id % 23 <> 0 AND doc_id % 29 <> 0"
_EV1 = f"{_CORP0} AND doc_id % 3 = 0"
_EV2 = f"{_CORP0} AND doc_id % 3 <> 0 AND doc_id % 7 = 0"
_BUDGET = 60


def _wave_sql(i: int, batch_pred: str, eval_cte: str, cw_cte: str) -> str:
    """One admission wave as oracle CTEs — the q_admission_gate
    pipeline (drop → strip accounting → budget) parameterized by the
    batch predicate, the eval gram set in force, and the corpus
    window-hash set in force."""
    return f"""
    , cont{i} AS (
      SELECT DISTINCT g.doc_id
      FROM g4 g JOIN {eval_cte} e ON e.h = g.h
      WHERE g.doc_id IN (SELECT doc_id FROM tokd WHERE {batch_pred})
    ), surv{i} AS (
      SELECT doc_id, source, t FROM tokd
      WHERE ({batch_pred})
        AND doc_id NOT IN (SELECT doc_id FROM cont{i})
    ), bw{i} AS (
      SELECT w.doc_id, w.pos, w.h
      FROM w16 w JOIN surv{i} s ON s.doc_id = w.doc_id
    ), loseC{i} AS (
      SELECT b.doc_id, b.pos
      FROM bw{i} b JOIN {cw_cte} c ON c.h = b.h
    ), rest{i} AS (
      SELECT b.doc_id, b.pos, b.h FROM bw{i} b
      LEFT JOIN {cw_cte} c ON c.h = b.h WHERE c.h IS NULL
    ), occ{i} AS (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (
               PARTITION BY h ORDER BY doc_id, pos) AS rn,
             COUNT(*) OVER (PARTITION BY h) AS n
      FROM rest{i}
    ), lose{i} AS (
      SELECT doc_id, pos FROM loseC{i}
      UNION ALL
      SELECT doc_id, pos FROM occ{i} WHERE n > 1 AND rn > 1
    ), lisl{i} AS (
      SELECT doc_id,
             CAST(MIN(pos) AS BIGINT) AS lo,
             CAST(MAX(pos) AS BIGINT) AS hi
      FROM (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (
                 PARTITION BY doc_id ORDER BY pos) AS grp
        FROM lose{i}
      ) GROUP BY doc_id, grp
    ), sp{i} AS (
      SELECT doc_id, list({{'lo': lo, 'hi': hi}}) AS spans
      FROM lisl{i} GROUP BY doc_id
    ), ntok{i} AS (
      SELECT s.doc_id, s.source,
             CASE WHEN len(s.t) >= 16
                  THEN len(list_filter(s.t, (x, ix) ->
                         len(list_filter(
                           COALESCE(p.spans,
                             CAST([] AS STRUCT(lo BIGINT,
                                               hi BIGINT)[])),
                           e -> e.lo <= ix - 1
                                AND ix - 1 <= e.hi + 15)) = 0))
                  ELSE len(s.t) END AS nt
      FROM surv{i} s LEFT JOIN sp{i} p ON p.doc_id = s.doc_id
    ), per{i} AS (
      SELECT doc_id, source, nt FROM ntok{i} WHERE nt > 0
    ), cum{i} AS (
      SELECT source, doc_id, nt,
             CAST(SUM(nt) OVER (
               PARTITION BY source ORDER BY doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM per{i}
    ), tot{i} AS (
      SELECT source, CAST(SUM(nt) AS BIGINT) AS source_total
      FROM per{i} GROUP BY source
    ), census{i} AS (
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM tokd
         WHERE {batch_pred}) AS n_batch,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM cont{i}) AS n_dropped
    ), adm{i} AS (
      SELECT c.source, c.doc_id, CAST(c.nt AS BIGINT) AS n_tokens,
             c.cum_tokens, t.source_total,
             census{i}.n_batch, census{i}.n_dropped
      FROM cum{i} c JOIN tot{i} t USING (source)
      CROSS JOIN census{i}
      WHERE c.cum_tokens <= {_BUDGET}
    )"""


def _incremental_admission_oracle() -> str:
    return (
        f"""
    WITH tokd AS (
      SELECT doc_id, source, {_TOK} AS t FROM documents
    ), g4 AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 4
               THEN list_transform(generate_series(1, len(t) - 3),
                      j -> md5(array_to_string(t[j:j+3], ' ')))
               ELSE [md5(array_to_string(t, ' '))] END) AS h
      FROM tokd
    ), w16 AS (
      SELECT doc_id, u['pos'] AS pos, u['h'] AS h FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 15),
                 j -> {{'pos': j - 1,
                        'h': md5(array_to_string(t[j:j+15], ' '))}}))
                 AS u
        FROM tokd WHERE len(t) >= 16
      )
    ), allh AS (
      SELECT doc_id, h FROM w16
      UNION ALL
      SELECT doc_id, md5(array_to_string(t, ' ')) AS h
      FROM tokd WHERE len(t) < 16
    ), ev1 AS (
      SELECT DISTINCT h FROM g4 WHERE {_EV1}
    ), cw1 AS (
      SELECT DISTINCT a.h FROM allh a
      JOIN tokd d ON d.doc_id = a.doc_id
      WHERE {_CORP0.replace("doc_id", "d.doc_id")}
    )"""
        + _wave_sql(1, _B1, "ev1", "cw1")
        + f"""
    , corp1 AS (
      SELECT doc_id FROM tokd WHERE {_CORP0}
      UNION ALL
      SELECT doc_id FROM adm1
    ), cw2 AS (
      SELECT DISTINCT a.h FROM allh a
      JOIN corp1 c ON c.doc_id = a.doc_id
    ), ev2 AS (
      SELECT DISTINCT h FROM g4 WHERE {_EV2}
    ), evu AS (
      SELECT h FROM ev1 UNION SELECT h FROM ev2
    )"""
        + _wave_sql(2, _B2, "evu", "cw2")
        + """
    SELECT CAST(1 AS BIGINT) AS wave, source, doc_id, n_tokens,
           cum_tokens, source_total, n_batch, n_dropped
    FROM adm1
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS wave, source, doc_id, n_tokens,
           cum_tokens, source_total, n_batch, n_dropped
    FROM adm2
    ORDER BY wave, source, doc_id
    """
    )


def _admit_wave(
    spark: SparkSession,
    batch: DataFrame,
    eval_grams: DataFrame,
    corpus_hashes: DataFrame,
) -> DataFrame:
    """One admission wave: drop (gram probe), owner-keep strip
    accounting (window probe vs the store IN FORCE + batch-internal
    ownership), greedy per-source budget admit — q_admission_gate's
    stages with the store frames injected by the caller."""
    from babylon_data_loader_spark.functions.text import tokens
    from babylon_data_loader_spark.operators.decontaminate import (
        gram_hashes,
    )
    from babylon_data_loader_spark.operators.dedup import (
        token_windows,
    )
    from babylon_data_loader_spark.operators.rank import (
        grouped_running_totals_with_input,
    )
    from babylon_data_loader_spark.queries.round9 import (
        strip_by_islands,
    )

    contaminated = persist_tracked(
        gram_hashes(batch, n=4)
        .join(eval_grams, "h", "left_semi")
        .select("doc_id")
        .distinct()
    )
    surv = persist_tracked(
        batch.join(contaminated, "doc_id", "left_anti")
    )
    # in-flight window hashing of the survivors (admission path —
    # the batch is in NO store yet), positioned windows only
    bw = (
        token_windows(surv)
        .where(F.col("_pos") >= 0)
        .select(
            F.col("_id").alias("doc_id"),
            F.col("_pos").alias("pos"),
            F.col("_h").alias("h"),
        )
    )
    lose_corpus = bw.join(corpus_hashes, "h", "left_semi").select(
        "doc_id", "pos"
    )
    rest = bw.join(corpus_hashes, "h", "left_anti")
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
    # totals read the admit scan's materialized input, not `per` —
    # the with_input contract (operators/rank.py)
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
            contaminated.agg(F.count(F.lit(1)).alias("n_dropped"))
        )
    )
    return (
        cum.join(F.broadcast(totals), "source")
        .where(F.col("cum_tokens") <= F.lit(_BUDGET))
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


@query(
    "q_incremental_admission", oracle=_incremental_admission_oracle()
)
def q_incremental_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two successive admission waves with store MAINTENANCE between
    them — see the module docstring for the full lifecycle. Emits one
    row per admitted doc across both waves: (wave, source, doc_id,
    n_tokens, cum_tokens, source_total) with each wave's census
    (n_batch, n_dropped) riding along."""
    import os
    import shutil
    import uuid

    from babylon_data_loader_spark.operators.decontaminate import (
        append_gram_index,
        read_gram_index,
        write_gram_index,
    )
    from babylon_data_loader_spark.operators.dedup import (
        append_token_windows,
        read_token_window_store,
        write_token_window_store,
    )
    from babylon_data_loader_spark.operators.index_store import (
        warehouse_dir,
    )

    docs = load_table(spark, sf_dir, "documents")
    work = os.path.join(
        warehouse_dir(spark), f"_incadm_{uuid.uuid4().hex[:12]}"
    )
    win_store = os.path.join(work, "tokwin")
    gram_store = os.path.join(work, "evalgrams")
    try:
        # at-rest state before wave 1: the corpus window store and
        # the shard-1 eval gram index
        write_token_window_store(docs.where(_CORP0), win_store)
        write_gram_index(docs.where(_EV1), gram_store)

        def _store_hashes() -> DataFrame:
            # fresh read per wave: the file listing must see appends
            return (
                read_token_window_store(spark, win_store)[0]
                .select(F.col("_h").alias("h"))
                .distinct()
            )

        def _eval_grams() -> DataFrame:
            return read_gram_index(spark, gram_store)[0].select("h")

        rows1 = _admit_wave(
            spark,
            docs.where(_B1),
            _eval_grams(),
            _store_hashes(),
        ).collect()

        # maintenance between arrivals: admitted docs join the
        # corpus (window append), a new eval shard registers
        # (gram append) — O(batch)/O(shard), never a rebuild
        admitted1 = [int(r["doc_id"]) for r in rows1]
        append_token_windows(
            docs.where(F.col("doc_id").isin(admitted1)), win_store
        )
        append_gram_index(docs.where(_EV2), gram_store)

        rows2 = _admit_wave(
            spark,
            docs.where(_B2),
            _eval_grams(),
            _store_hashes(),
        ).collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = [(1, *r) for r in rows1] + [(2, *r) for r in rows2]
    return spark.createDataFrame(
        out,
        "wave BIGINT, source STRING, doc_id BIGINT, n_tokens BIGINT, "
        "cum_tokens BIGINT, source_total BIGINT, n_batch BIGINT, "
        "n_dropped BIGINT",
    ).orderBy("wave", "source", "doc_id")

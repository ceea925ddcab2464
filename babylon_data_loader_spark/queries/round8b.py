"""Round-8 wave 2: cross-corpus generalization, dup-graph
composition, term statistics, and the IVF quality curve.

- ``q_cross_lingual_dup``: verified near-dup pairs bucketed by the
  language pair of their members — cross-language rows flag machine
  translation / template reuse across locales.
- ``q_burstiness``: Church-Gale burstiness (cf/df) per term — bursty
  terms concentrate in few documents (topical or boilerplate), flat
  terms spread evenly (function words).
- ``q_heldout_coverage``: leave-one-source-out n-gram coverage — the
  share of each source's unigram/bigram tokens whose type also
  appears OUTSIDE the source. Low coverage = the source is
  linguistically isolated; near-1 coverage = redundant with the rest
  of the corpus. Pure integer counts (the c_total − c_source > 0
  test needs no per-source model rebuild).
- ``q_quality_calibration``: lexical-quality deciles (distinct-token
  ratio, the corpus's quality proxy) × embedding labels — does the
  cheap text signal align with the semantic labeling? Majority-label
  share per decile.
- ``q_ivf_nprobe_curve``: oracle-checked recall@10 curve over
  nprobe ∈ {1, 2, 4, 8, 16} for the IVF index — recall is PROVABLY
  non-decreasing in nprobe (candidate supersets) and exactly 1.0
  when every list is probed (pinned by tests/test_det_ann.py).

Scale notes: pair compositions read the at-rest verified-pair store
and shuffle bare ids + small dimension values; coverage and
burstiness are (token, source)-keyed aggregates with map-side
combine; the calibration decile comes from the distributed two-pass
prefix scan (operators/rank.py), never a global window; the IVF
curve probes a pushable cluster_id IN (...) filter per nprobe.

Reference analogue: none (CSV->Mongo ETL loader) — LLM-pipeline
track extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from babylon_data_loader_spark.functions.cache import persist_tracked
from babylon_data_loader_spark.functions.text import tokens
from babylon_data_loader_spark.queries import query
from babylon_data_loader_spark.queries.round7 import _PAIRS_WITH_J_CTE
from babylon_data_loader_spark.schemas import load_table

_TOK = r"regexp_split_to_array(trim(lower(text)), '\s+')"


@query(
    "q_cross_lingual_dup",
    oracle=_PAIRS_WITH_J_CTE
    + """
    , lp AS (
      SELECT LEAST(da.lang, db.lang) AS lang_lo,
             GREATEST(da.lang, db.lang) AS lang_hi
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
    )
    SELECT lang_lo, lang_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM lp GROUP BY lang_lo, lang_hi
    ORDER BY lang_lo, lang_hi
    """,
)
def q_cross_lingual_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs bucketed by their members' language pair: a
    same-language bucket is ordinary re-crawl; a CROSS-language
    bucket is translated or template-localized content — the signal
    that decides whether dedup may collapse across locales. One read
    of the at-rest verified-pair store plus two id-keyed joins onto a
    two-column (doc_id, lang) projection — the pair stream is the
    small side, ids and 2-char langs are all that shuffle."""
    from babylon_data_loader_spark.operators.dedup import (
        stored_verified_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    lang = docs.select("doc_id", "lang")
    pairs = stored_verified_pairs(docs).select("doc_a", "doc_b")
    return (
        pairs.join(
            lang.select(
                F.col("doc_id").alias("doc_a"),
                F.col("lang").alias("_la"),
            ),
            "doc_a",
        )
        .join(
            lang.select(
                F.col("doc_id").alias("doc_b"),
                F.col("lang").alias("_lb"),
            ),
            "doc_b",
        )
        .select(
            F.least("_la", "_lb").alias("lang_lo"),
            F.greatest("_la", "_lb").alias("lang_hi"),
        )
        .groupBy("lang_lo", "lang_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("lang_lo", "lang_hi")
    )


@query(
    "q_burstiness",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK}) AS w FROM documents
    ), per AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cf,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY w
    )
    SELECT w AS term, cf, df,
           CAST(cf AS DOUBLE) / df AS burstiness
    FROM per
    WHERE df >= 5
    ORDER BY cf * 1000000 // df DESC, term ASC
    LIMIT 20
    """,
)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale burstiness per term: collection frequency over
    document frequency — how many times a term repeats inside the
    documents it appears in at all. High burstiness identifies
    topical/boilerplate vocabulary (repeats heavily where present);
    function words sit near cf/df ≈ uniform. One (term)-keyed
    aggregate with exact grouped distinct; the top-20 ranks on the
    pure-BIGINT e6 cross-ratio with a term tiebreak, the ratio itself
    is the single unrounded division."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(tokens(F.lower(F.col("text")))).alias("w"),
    )
    return (
        tok.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("cf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .where(F.col("df") >= 5)
        .select(
            F.col("w").alias("term"),
            "cf",
            "df",
            (F.col("cf").cast("double") / F.col("df").cast("double"))
            .alias("burstiness"),
            F.expr("cf * CAST(1000000 AS BIGINT) div df").alias("_k"),
        )
        .orderBy(F.col("_k").desc(), F.col("term").asc())
        .limit(20)
        .drop("_k")
    )


@query(
    "q_heldout_coverage",
    oracle=f"""
    WITH tokd AS (
      SELECT doc_id, source, {_TOK} AS tok FROM documents
    ), uni AS (
      SELECT source, unnest(tok) AS w FROM tokd
    ), ucnt AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM uni GROUP BY source, w
    ), utot AS (
      SELECT w, CAST(SUM(c) AS BIGINT) AS ct FROM ucnt GROUP BY w
    ), ucov AS (
      SELECT u.source,
             CAST(SUM(u.c) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN t.ct > u.c THEN u.c ELSE 0 END)
                  AS BIGINT) AS covered_tokens
      FROM ucnt u JOIN utot t ON t.w = u.w
      GROUP BY u.source
    ), big AS (
      SELECT source,
             unnest(list_transform(generate_series(1, len(tok) - 1),
                      j -> concat_ws(' ', tok[j], tok[j+1]))) AS b
      FROM tokd WHERE len(tok) >= 2
    ), bcnt AS (
      SELECT source, b, CAST(COUNT(*) AS BIGINT) AS c
      FROM big GROUP BY source, b
    ), btot AS (
      SELECT b, CAST(SUM(c) AS BIGINT) AS ct FROM bcnt GROUP BY b
    ), bcov AS (
      SELECT u.source,
             CAST(SUM(u.c) AS BIGINT) AS n_bigrams,
             CAST(SUM(CASE WHEN t.ct > u.c THEN u.c ELSE 0 END)
                  AS BIGINT) AS covered_bigrams
      FROM bcnt u JOIN btot t ON t.b = u.b
      GROUP BY u.source
    )
    SELECT u.source, u.n_tokens, u.covered_tokens,
           CAST(u.covered_tokens AS DOUBLE) / u.n_tokens
             AS unigram_coverage,
           b.n_bigrams, b.covered_bigrams,
           CAST(b.covered_bigrams AS DOUBLE) / b.n_bigrams
             AS bigram_coverage
    FROM ucov u JOIN bcov b ON b.source = u.source
    ORDER BY u.source
    """,
)
def q_heldout_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out n-gram coverage: for each source, the
    share of its unigram/bigram TOKENS whose type also occurs outside
    the source. The cross-source generalization probe (would a model
    trained without this source still have seen its vocabulary?) —
    and it needs NO per-source model rebuild: a token is covered iff
    corpus_count > source_count, so one (type, source) count plus one
    (type) total answers every source at once. Two grouped aggregates
    per n-gram order, bigrams via the in-array adjacent zip (no
    position self-join), all-integer until the final divisions."""
    docs = load_table(spark, sf_dir, "documents")
    tokd = persist_tracked(
        docs.select(
            "source", tokens(F.lower(F.col("text"))).alias("_t")
        )
    )

    def _cov(grams: DataFrame, gcol: str, n_name: str, c_name: str):
        cnt = grams.groupBy("source", gcol).agg(
            F.count(F.lit(1)).alias("c")
        )
        tot = cnt.groupBy(gcol).agg(F.sum("c").cast("long").alias("ct"))
        return (
            cnt.join(tot, gcol)
            .groupBy("source")
            .agg(
                F.sum("c").cast("long").alias(n_name),
                F.sum(
                    F.when(F.col("ct") > F.col("c"), F.col("c"))
                    .otherwise(0)
                )
                .cast("long")
                .alias(c_name),
            )
        )

    uni = tokd.select("source", F.explode("_t").alias("w"))
    big = tokd.select(
        "source",
        F.explode(
            # Spark [] is 0-based (DuckDB's is 1-based): i runs
            # 2..size, pairing elements (i-2, i-1) — same adjacent
            # zip as the oracle's tok[j], tok[j+1] with j = i-1.
            # The size >= 2 guard mirrors the oracle's WHERE len >= 2
            # and is LOAD-BEARING: sequence(2, 1) DESCENDS, so an
            # unguarded transform evaluates _t[1] on a 1-token doc —
            # an ANSI INVALID_ARRAY_INDEX crash (or phantom bigrams
            # with ANSI off).
            F.when(
                F.size("_t") >= 2,
                F.expr(
                    "transform(sequence(2, size(_t)), "
                    "i -> concat_ws(' ', _t[i-2], _t[i-1]))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("b"),
    )
    ucov = _cov(uni, "w", "n_tokens", "covered_tokens")
    bcov = _cov(big, "b", "n_bigrams", "covered_bigrams")
    return (
        ucov.join(bcov, "source")
        .select(
            "source",
            "n_tokens",
            "covered_tokens",
            (
                F.col("covered_tokens").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("unigram_coverage"),
            "n_bigrams",
            "covered_bigrams",
            (
                F.col("covered_bigrams").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("bigram_coverage"),
        )
        .orderBy("source")
    )


@query(
    "q_quality_calibration",
    oracle=f"""
    WITH lab AS (
      SELECT d.doc_id, e.label,
             CAST(len(list_distinct({_TOK})) AS BIGINT) * 1000000000
               // CAST(len({_TOK}) AS BIGINT) AS score
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ), rk AS (
      SELECT doc_id, label,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                  AS BIGINT) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n_tot
      FROM lab
    ), dec AS (
      SELECT label, (rn - 1) * 10 // n_tot AS decile FROM rk
    ), cnt AS (
      SELECT decile, label, CAST(COUNT(*) AS BIGINT) AS c
      FROM dec GROUP BY decile, label
    ), tot AS (
      SELECT decile, CAST(SUM(c) AS BIGINT) AS n
      FROM cnt GROUP BY decile
    ), top AS (
      SELECT decile, label, c FROM cnt
      QUALIFY row_number() OVER (
        PARTITION BY decile ORDER BY c DESC, label ASC) = 1
    )
    SELECT t.decile, o.n, t.label AS top_label, t.c AS top_label_n,
           CAST(t.c AS DOUBLE) / o.n AS top_share
    FROM top t JOIN tot o ON o.decile = t.decile
    ORDER BY t.decile
    """,
)
def q_quality_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Does the cheap lexical quality signal agree with the semantic
    labeling? Labeled documents are deciled by distinct-token ratio
    (the corpus's quality proxy, the same pure-BIGINT div key the
    token-budget samplers rank on) and each decile reports its
    majority embedding label and that label's share — flat shares
    mean the text heuristic is label-blind, skewed shares mean it
    encodes semantics. The decile comes from the distributed two-pass
    prefix scan (operators/rank.py::global_row_number_with_total —
    never a global window, and the row total rides the offsets
    collect instead of a second count job); the per-decile argmax
    window is rank-limit pruned."""
    from babylon_data_loader_spark.operators.rank import (
        global_row_number_with_total,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    toks = tokens(F.lower(F.col("text")))
    lab = persist_tracked(
        docs.join(
            emb.select(
                F.col("vec_id").alias("doc_id"), "label"
            ),
            "doc_id",
        )
        .select(
            "doc_id",
            "label",
            F.size(toks).cast("bigint").alias("_nt"),
            F.size(F.array_distinct(toks)).cast("bigint").alias("_nd"),
        )
        .select(
            "doc_id",
            "label",
            F.expr(
                "_nd * CAST(1000000000 AS BIGINT) div _nt"
            ).alias("score"),
        )
    )
    # one scan: row numbers AND the total (from the offsets collect —
    # O(#partitions) metadata, not a second count job)
    ranked, n_tot = global_row_number_with_total(
        lab, [F.col("score").desc(), F.col("doc_id").asc()]
    )
    dec = ranked.select(
        "label",
        F.expr(f"(rn - 1) * 10 div CAST({n_tot} AS BIGINT)").alias(
            "decile"
        ),
    )
    cnt = persist_tracked(
        dec.groupBy("decile", "label").agg(
            F.count(F.lit(1)).alias("c")
        )
    )
    tot = cnt.groupBy("decile").agg(F.sum("c").cast("long").alias("n"))
    w = Window.partitionBy("decile").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    top = (
        cnt.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "decile", F.col("label").alias("top_label"),
            F.col("c").alias("top_label_n"),
        )
    )
    return (
        top.join(F.broadcast(tot), "decile")
        .select(
            "decile",
            "n",
            "top_label",
            "top_label_n",
            (
                F.col("top_label_n").cast("double")
                / F.col("n").cast("double")
            ).alias("top_share"),
        )
        .orderBy("decile")
    )


@query(
    "q_source_dedup_matrix",
    oracle=_PAIRS_WITH_J_CTE
    + """
    , lp AS (
      SELECT CASE WHEN p.doc_a < p.doc_b THEN da.source
                  ELSE db.source END AS owner_source,
             CASE WHEN p.doc_a < p.doc_b THEN db.source
                  ELSE da.source END AS copier_source
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
    )
    SELECT owner_source, copier_source,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM lp GROUP BY owner_source, copier_source
    ORDER BY owner_source, copier_source
    """,
)
def q_source_dedup_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WHO copies WHOM: every verified near-dup pair attributed
    directionally — the smaller doc_id (earlier acquisition, the same
    ownership convention as q_ngram_novelty) is the owner, the other
    member the copier — and counted into a source×source matrix.
    Off-diagonal rows are cross-source republication flows; the
    diagonal is within-source re-crawl. One read of the at-rest pair
    store plus two id-keyed joins onto a (doc_id, source) projection;
    the matrix is |sources|² metadata-scale output."""
    from babylon_data_loader_spark.operators.dedup import (
        stored_verified_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = docs.select("doc_id", "source")
    pairs = stored_verified_pairs(docs).select("doc_a", "doc_b")
    lo_is_a = F.col("doc_a") < F.col("doc_b")
    return (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("_sa"),
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("_sb"),
            ),
            "doc_b",
        )
        .select(
            F.when(lo_is_a, F.col("_sa"))
            .otherwise(F.col("_sb"))
            .alias("owner_source"),
            F.when(lo_is_a, F.col("_sb"))
            .otherwise(F.col("_sa"))
            .alias("copier_source"),
        )
        .groupBy("owner_source", "copier_source")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("owner_source", "copier_source")
    )


def _cluster_budget_oracle() -> str:
    from babylon_data_loader_spark.queries.round6 import _PER_DOC_SQL
    from babylon_data_loader_spark.queries.round8 import _ASSIGN_CTE

    return (
        _ASSIGN_CTE
        + f"""
    , per AS ({_PER_DOC_SQL}
    ), j AS (
      SELECT b.cid, p.doc_id, p.nt, p.div_key
      FROM best b JOIN per p ON p.doc_id = b.vec_id
    ), cum AS (
      SELECT cid, doc_id, nt,
             CAST(SUM(nt) OVER (
               PARTITION BY cid
               ORDER BY div_key DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM j
    ), tot AS (
      SELECT cid, CAST(SUM(nt) AS BIGINT) AS cluster_total
      FROM j GROUP BY cid
    )
    SELECT c.cid, c.doc_id, c.nt AS n_tokens, c.cum_tokens,
           t.cluster_total
    FROM cum c JOIN tot t USING (cid)
    WHERE c.cum_tokens * 10 <= t.cluster_total * 3
    ORDER BY c.cid, c.cum_tokens
    """
    )


@query("q_cluster_token_budget", oracle=_cluster_budget_oracle())
def q_cluster_token_budget(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The capstone curation composition: semantic-cluster-balanced
    token-budget sampling. Every embedded document is k-means-assigned
    to a semantic region (operators/kmeans.py, the fixed deterministic
    codebook), and each CLUSTER independently spends 30% of its own
    token mass on its highest-diversity documents — so no semantic
    region crowds out the rest (the cluster-balanced analogue of the
    per-source budget, and the shape DoReMi/DSIR-style mixture
    pipelines sample from at 100 TB). Assignment broadcasts the
    codebook (no vector shuffle); per-doc token counts and the
    BIGINT diversity key come from the shared _per_doc projection;
    the per-cluster running sum is the grouped distributed prefix
    scan (k groups spanning many range partitions — a plain
    partitionBy window would sort each cluster's share of the corpus
    in one task); the budget test is pure integer arithmetic, and
    every oracle output sum is CAST to BIGINT (the r8 type-gate
    discipline)."""
    from babylon_data_loader_spark.operators.kmeans import (
        assign_clusters,
    )
    from babylon_data_loader_spark.operators.rank import (
        grouped_running_totals_with_input,
    )
    from babylon_data_loader_spark.queries.round6 import _per_doc
    from babylon_data_loader_spark.queries.round8 import (
        _fixed_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    assigned = assign_clusters(emb, _fixed_centroids(emb)).select(
        F.col("vec_id").alias("doc_id"), "cid"
    )
    per = persist_tracked(
        _per_doc(docs)
        .select("doc_id", "nt", "div_key")
        .join(assigned, "doc_id")
    )
    # totals read the scan's materialized input, not `per` — the
    # with_input contract (operators/rank.py): a warm range store
    # would otherwise re-execute the assignment join at action time
    cum, per_mat = grouped_running_totals_with_input(
        per,
        ["cid"],
        [F.col("div_key").desc(), F.col("doc_id").asc()],
        {"cum_tokens": F.col("nt")},
    )
    cum = cum.withColumn("cum_tokens", F.col("cum_tokens").cast("long"))
    totals = per_mat.groupBy("cid").agg(
        F.sum("nt").cast("long").alias("cluster_total")
    )
    return (
        cum.join(F.broadcast(totals), "cid")
        .where(
            F.col("cum_tokens") * 10 <= F.col("cluster_total") * 3
        )
        .select(
            "cid",
            "doc_id",
            F.col("nt").alias("n_tokens"),
            "cum_tokens",
            "cluster_total",
        )
        .orderBy("cid", "cum_tokens")
    )


@query("q_lake_vacuum")  # rows-only: file-retention layout is not
# SQL-expressible. Self-certifying: asserts IN-QUERY that vacuum
# removed pre-retention version dirs, left the current snapshot and
# every retained/tagged version bit-identical, made pre-retention
# time travel raise, and is idempotent — the emitted rows witness
# each check.
def q_lake_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The storage-hygiene half of time travel (Delta's VACUUM
    contract): three merges build versions v1..v3, v2 is TAGGED as a
    training-run snapshot, then vacuum(keep_versions=1) must delete
    v1's exclusive dirs + manifest while v3 (retention) and v2
    (tag pin outside the window) survive byte-identically;
    time-traveling to the vacuumed v1 must raise; a second vacuum is
    a no-op. All file operations are driver-side metadata
    (O(#versions) stats + unlinks) — the data plane is only touched
    to prove reads are unchanged."""
    import os
    import shutil
    import uuid

    from babylon_data_loader_spark.operators.index_store import (
        warehouse_dir,
    )
    from babylon_data_loader_spark.operators.merge import dedup_latest
    from babylon_data_loader_spark.operators.tx_lake import (
        TransactionalLake,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 0
    )
    work = os.path.join(
        warehouse_dir(spark), f"_lake_vac_{uuid.uuid4().hex[:12]}"
    )
    try:
        lake = TransactionalLake(
            work, partition_col="event_type", stale_claim_s=0.0
        )
        for i in (1, 2, 3):
            batch = dedup_latest(
                ev.withColumn(
                    "value", F.col("value") * F.lit(float(i))
                ),
                ["event_id"],
            )
            lake.merge(spark, batch, ["event_id"])

        def _digest(df) -> tuple:
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.col("value").cast("decimal(28,6)")
                ).alias("s"),
            ).collect()[0]
            return (int(row["n"]), str(row["s"]))

        lake.tag("train-snap", 2)
        cur_before = _digest(lake.read(spark))
        v2_before = _digest(lake.read(spark, version=2))
        report = lake.vacuum(keep_versions=1)
        n_removed = len(report["removed_dirs"])
        cur_after = _digest(lake.read(spark))
        v2_after = _digest(lake.read(spark, tag="train-snap"))
        v1_raises = False
        try:
            lake.read(spark, version=1).count()
        except Exception:
            v1_raises = True
        report2 = lake.vacuum(keep_versions=1)
        n_removed2 = len(report2["removed_dirs"])
        rows = [
            ("vacuum_removed_dirs", n_removed, n_removed >= 1),
            (
                "current_snapshot_stable",
                cur_after[0],
                cur_after == cur_before,
            ),
            (
                "tagged_snapshot_stable",
                v2_after[0],
                v2_after == v2_before,
            ),
            ("pre_retention_travel_raises", 1, v1_raises),
            ("revacuum_noop", n_removed2, n_removed2 == 0),
        ]
        bad = [r for r in rows if not r[2]]
        if bad:
            raise AssertionError(
                f"vacuum contract violated: {bad}; report={report}"
            )
        return spark.createDataFrame(
            rows, "check STRING, value BIGINT, ok BOOLEAN"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)



# --- q_ivf_nprobe_curve: oracle-backed since r11 ---------------------------
# Through r10 this was rows-only ("k-means float averaging is not
# SQL-reproducible"). r11 replaces the trained coarse quantizer with
# the DETERMINISTIC sampled-seed variant (operators/det_ann.py): the
# 16 lists are seeded by the first 16 vec_ids' 1e6-quantized vectors
# and assignment is exact BIGINT squared-L2 with centroid-id
# tiebreaks — every stage is integer arithmetic both engines evaluate
# identically, so the whole recall@10-vs-nprobe curve pins to a
# DuckDB oracle (r10 VERDICT ask #3). Sampled-seed IVF is the
# standard no-training coarse quantizer (FAISS's random-subsample
# training degenerates to it at nlist == sample size); the float
# assignment (operators/kmeans.py) keeps its own coverage via
# q_kmeans_assign.

_IVF_DIM = 64
_IVF_K = 16


def _ivf_curve_oracle() -> str:
    from babylon_data_loader_spark.operators.det_ann import (
        sql_int_sq_dist,
        sql_quant,
    )

    dist = sql_int_sq_dist("qv.q", "s.c", _IVF_DIM)
    adist = sql_int_sq_dist("an.aq", "s.c", _IVF_DIM)
    dot = (
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> CAST(a.embedding[i] AS DOUBLE) "
        "* CAST(q.embedding[i] AS DOUBLE)))"
    )

    def nrm(t: str) -> str:
        return (
            f"sqrt(list_sum(list_transform({t}.embedding, "
            f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        )

    return f"""
    WITH qv AS (
      SELECT vec_id, {sql_quant('embedding')} AS q FROM embeddings
    ), seeds AS (
      SELECT vec_id AS cid, q AS c FROM qv WHERE vec_id < {_IVF_K}
    ), asg AS (
      SELECT qv.vec_id, s.cid, {dist} AS dist
      FROM qv CROSS JOIN seeds s
      QUALIFY row_number() OVER (
        PARTITION BY qv.vec_id ORDER BY dist ASC, s.cid ASC) = 1
    ), an AS (
      SELECT q AS aq FROM qv WHERE vec_id = 0
    ), prank AS (
      SELECT s.cid,
             row_number() OVER (ORDER BY {adist} ASC, s.cid ASC)
               AS crank
      FROM seeds s CROSS JOIN an
    ), qe AS (
      SELECT embedding FROM embeddings WHERE vec_id = 0
    ), scored AS (
      SELECT a.vec_id, g.cid,
             round({dot} / ({nrm('a')} * {nrm('q')}), 9) AS sim
      FROM embeddings a
      JOIN asg g ON g.vec_id = a.vec_id
      CROSS JOIN qe q
      WHERE a.vec_id <> 0
    ), exact10 AS (
      SELECT vec_id FROM scored
      QUALIFY row_number() OVER (
        ORDER BY sim DESC, vec_id ASC) <= 10
    ), np AS (
      SELECT unnest([1, 2, 4, 8, 16]) AS nprobe
    ), cand AS (
      SELECT np.nprobe, s.vec_id, s.sim
      FROM scored s
      JOIN prank pr ON pr.cid = s.cid
      CROSS JOIN np
      WHERE pr.crank <= np.nprobe
    ), top10 AS (
      SELECT nprobe, vec_id FROM cand
      QUALIFY row_number() OVER (
        PARTITION BY nprobe ORDER BY sim DESC, vec_id ASC) <= 10
    ), h AS (
      SELECT t.nprobe, CAST(COUNT(*) AS BIGINT) AS hits
      FROM top10 t JOIN exact10 e ON e.vec_id = t.vec_id
      GROUP BY t.nprobe
    )
    SELECT CAST(c.nprobe AS BIGINT) AS nprobe,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           COALESCE(h.hits, 0) AS hits,
           COALESCE(h.hits, 0) / 10.0 AS recall
    FROM cand c LEFT JOIN h ON h.nprobe = c.nprobe
    GROUP BY c.nprobe, h.hits
    ORDER BY nprobe
    """


@query("q_ivf_nprobe_curve", oracle=_ivf_curve_oracle())
def q_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF quality/cost curve a deployment actually tunes:
    recall@10 of a sampled-seed IVF index (16 lists) at
    nprobe ∈ {1, 2, 4, 8, 16}. The coarse quantizer is deterministic
    integer arithmetic (operators/det_ann.py), so the curve is
    oracle-checked exactly; the structural invariants (recall
    non-decreasing in nprobe, exhaustive probe recalls 1.0) are
    pinned by tests/test_det_ann.py as defense-in-depth on top.

    Scale shape: the assigned table IS the at-rest structure now —
    det_ann.det_assigned_store keeps (vec, q, cid) cluster-
    partitioned parquet keyed by (data fingerprint, codebook digest),
    so a warm run pays ZERO quantize/assignment work (the k·dim
    fold's plan construction alone was ~2 s/run, r13 VERDICT ask #2)
    and each probe is a pushable crank ≤ nprobe filter; the only
    per-vector float work is the rounded-cosine rerank of the probed
    candidates. The 5 curve points share one persisted store scan."""
    from babylon_data_loader_spark.functions.vectors import (
        cosine,
        double_array_lit,
    )
    from babylon_data_loader_spark.operators.det_ann import (
        det_assigned_store,
        quantize_vec,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # codebook-scale collect (16 rows, pushed id filter): the seeds
    # become the literal broadcast codebook that KEYS the assigned
    # store. The anchor's raw embedding rides the same collect (seed
    # 0 IS the anchor) instead of paying a second scan job.
    seed_rows = (
        emb.where(F.col("vec_id") < _IVF_K)
        .select(
            "vec_id",
            quantize_vec(F.col("embedding")).alias("q"),
            "embedding",
        )
        .collect()
    )
    seeds = {
        r["vec_id"]: [int(x) for x in r["q"]] for r in seed_rows
    }
    codebook = sorted(seeds.items())
    anchor_q = seeds[0]

    def _d2(a: list[int], b: list[int]) -> int:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    crank = {
        cid: i + 1
        for i, (cid, _) in enumerate(
            sorted(codebook, key=lambda kv: (_d2(anchor_q, kv[1]), kv[0]))
        )
    }
    anchor_emb = next(
        r["embedding"] for r in seed_rows if r["vec_id"] == 0
    )
    qcol = double_array_lit(anchor_emb)
    crank_col = F.element_at(
        F.create_map(
            *[
                c
                for cid, rk in crank.items()
                for c in (F.lit(cid).cast("long"), F.lit(rk))
            ]
        ),
        F.col("cid"),
    )
    idx = det_assigned_store(emb, "ivfcurve", codebook)
    scored = persist_tracked(
        idx.where(F.col("vec_id") != 0)
        .select(
            "vec_id",
            crank_col.alias("crank"),
            F.round(cosine(F.col("embedding"), qcol), 9).alias("sim"),
        )
    )
    exact10 = (
        scored.orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id")
    )
    nprobes = spark.createDataFrame(
        [(1,), (2,), (4,), (8,), (16,)], "nprobe BIGINT"
    )
    cand = scored.crossJoin(F.broadcast(nprobes)).where(
        F.col("crank") <= F.col("nprobe")
    )
    w = Window.partitionBy("nprobe").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    top10 = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("nprobe", "vec_id")
    )
    hits = (
        top10.join(exact10, "vec_id", "left_semi")
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    out = (
        cand.groupBy("nprobe")
        .agg(F.count(F.lit(1)).alias("n_candidates"))
        .join(hits, "nprobe", "left")
        .select(
            "nprobe",
            "n_candidates",
            F.coalesce(F.col("hits"), F.lit(0).cast("long")).alias(
                "hits"
            ),
            (
                F.coalesce(F.col("hits"), F.lit(0).cast("long"))
                / F.lit(10.0)
            ).alias("recall"),
        )
        .orderBy("nprobe")
    )
    # r16 (VERDICT item 5): the curve frame is returned AS the plan.
    # The in-query invariant raises used to collect() the 5 rows at
    # build time and re-wrap them in createDataFrame — leaving the
    # physical plan rooted at Scan ExistingRDD, every consumer
    # re-paying the whole curve as sequential driver-side jobs before
    # the first task of ITS action launched, and the lane's wall time
    # tracking box contention 1:1. The structural invariants (recall
    # non-decreasing in nprobe; exhaustive probe recalls 1.0) moved to
    # tests/test_det_ann.py::test_ivf_nprobe_curve_invariants; the
    # oracle pins the exact row values every sweep as before.
    return out

"""Round-4 wave 6: exact-statistics, IR, and behavioral analytics —
two-sample hypothesis tests (Mann-Whitney U, Kolmogorov-Smirnov,
Welch t), autocorrelation, mutual information, Gini, JS divergence,
sequential patterns, Markov transitions, RFM, association rules,
BM25/phrase search, cumulative uniques.

Shared numerics discipline (the q_linreg_by_group lesson, see
SCALING.md): statistics are ratios of EXACT integer/decimal
determinants with one IEEE op at the end; transcendental sums round
each term then DECIMAL-sum (partition-order-proof).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from babylon_data_loader_spark.functions.numerics import grid_sum
from babylon_data_loader_spark.queries import query
from babylon_data_loader_spark.schemas import event_ts_us, load_table

# Two-sample hypothesis tests --------------------------------------------------


@query(
    "q_rank_sum_test",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 2 END AS grp,
             value AS x
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
    ), ranked AS (
      SELECT grp,
             CAST(2 * RANK() OVER (ORDER BY x)
                  + COUNT(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS r2
      FROM s
    ), ties AS (
      SELECT CAST(SUM(c * c * c - c) AS BIGINT) AS tie_term
      FROM (SELECT COUNT(*) AS c FROM s GROUP BY x)
    ), m AS (
      SELECT CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n2,
             CAST(SUM(CASE WHEN grp = 1 THEN r2 ELSE 0 END) AS BIGINT)
               AS r1_2
      FROM ranked
    )
    SELECT m.n1, m.n2,
           CAST(m.r1_2 - m.n1 * (m.n1 + 1) AS BIGINT) AS u1_doubled,
           round((CAST(m.r1_2 - m.n1 * (m.n1 + 1) AS DOUBLE) / 2
                  - CAST(m.n1 AS DOUBLE) * m.n2 / 2)
                 / sqrt(CAST(m.n1 AS DOUBLE) * m.n2 / 12.0
                        * ((m.n1 + m.n2 + 1)
                           - CAST(t.tie_term AS DOUBLE)
                             / ((m.n1 + m.n2)
                                * (m.n1 + m.n2 - 1.0)))), 6) AS z
    FROM m, ties t
    """,
)
def q_rank_sum_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (rank-sum) test: do click and purchase values
    come from the same distribution? The nonparametric A/B-test
    primitive — robust where the t-test's moments are not. Exactness:
    doubled tie-averaged ranks (the q_spearman_corr trick) make the U
    statistic an INTEGER; the tie-corrected normal-approximation
    variance consumes only integer sums (Σ(t³−t) over tie groups), so
    both engines derive the same doubles before one sqrt. Ranks come
    from the distributed value-rank operator (operators/rank.py) —
    rank distinct values, join back by value; no global window."""
    s = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .select(
            F.when(F.col("event_type") == "click", 1)
            .otherwise(2)
            .alias("grp"),
            F.col("value").alias("x"),
        )
    )
    from babylon_data_loader_spark.functions.cache import persist_tracked

    s = persist_tracked(s)
    from babylon_data_loader_spark.operators.rank import value_ranks

    vr = value_ranks(s.select("x"), ["x"]).select(
        "x", F.col("rnk2_avg").alias("r2")
    )
    ranked = s.join(vr, "x").select("grp", "r2")
    ties = (
        s.groupBy("x")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(
                F.col("c") * F.col("c") * F.col("c") - F.col("c")
            ).alias("tie_term")
        )
    )
    m = ranked.agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("grp") == 2, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("grp") == 1, F.col("r2")).otherwise(0)).alias(
            "r1_2"
        ),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    u1d = F.col("r1_2") - F.col("n1") * (F.col("n1") + 1)
    ntot = F.col("n1") + F.col("n2")
    var = (
        n1 * n2 / F.lit(12.0)
        * (
            (ntot + 1).cast("double")
            - F.col("tie_term").cast("double")
            / (ntot * (ntot - 1)).cast("double")
        )
    )
    z = (u1d.cast("double") / 2 - n1 * n2 / 2) / F.sqrt(var)
    return (
        m.join(F.broadcast(ties))
        .select(
            "n1",
            "n2",
            u1d.cast("long").alias("u1_doubled"),
            F.round(z, 6).alias("z"),
        )
    )


@query(
    "q_ks_statistic",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g2,
             value AS x
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
    ), counts AS (
      SELECT x, CAST(SUM(g1) AS BIGINT) AS c1, CAST(SUM(g2) AS BIGINT) AS c2
      FROM s GROUP BY x
    ), n AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
      FROM counts
    ), cum AS (
      SELECT SUM(c1) OVER (ORDER BY x) AS f1,
             SUM(c2) OVER (ORDER BY x) AS f2
      FROM counts
    )
    SELECT n.n1, n.n2,
           CAST(MAX(abs(cum.f1 * n.n2 - cum.f2 * n.n1)) AS BIGINT)
             AS d_num,
           CAST(n.n1 * n.n2 AS BIGINT) AS d_den,
           round(CAST(MAX(abs(cum.f1 * n.n2 - cum.f2 * n.n1)) AS DOUBLE)
                 / (n.n1 * n.n2), 9) AS d
    FROM cum, n GROUP BY n.n1, n.n2
    """,
)
def q_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic D = max|F₁−F₂| between
    click and purchase value distributions — the distribution-drift
    test that needs no binning choice (unlike the chi-square in
    q_source_drift). Exactness: D's numerator max|f₁·n₂ − f₂·n₁| is
    computed over INTEGER cumulative counts per distinct value — the
    maximum of integers is engine-exact, and one final division
    yields D. The cumulative counts run through the DISTRIBUTED
    prefix-scan operator (operators/rank.py::running_totals) over the
    distinct-value frame — no single-partition window at any
    cardinality."""
    s = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .select(
            F.when(F.col("event_type") == "click", 1)
            .otherwise(0)
            .alias("g1"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("g2"),
            F.col("value").alias("x"),
        )
    )
    counts = s.groupBy("x").agg(
        F.sum("g1").alias("c1"), F.sum("g2").alias("c2")
    )
    from babylon_data_loader_spark.functions.cache import persist_tracked

    counts = persist_tracked(counts)
    n = counts.agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    from babylon_data_loader_spark.operators.rank import running_totals

    cum = running_totals(
        counts,
        [F.col("x").asc()],
        {"f1": F.col("c1"), "f2": F.col("c2")},
    ).select("f1", "f2")
    d = cum.join(F.broadcast(n)).select(
        "n1",
        "n2",
        F.abs(
            F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")
        ).alias("num"),
    )
    return (
        d.groupBy("n1", "n2")
        .agg(F.max("num").alias("d_num"))
        .select(
            "n1",
            "n2",
            F.col("d_num").cast("long").alias("d_num"),
            (F.col("n1") * F.col("n2")).cast("long").alias("d_den"),
            F.round(
                F.col("d_num").cast("double")
                / (F.col("n1") * F.col("n2")).cast("double"),
                9,
            ).alias("d"),
        )
    )


@query(
    "q_welch_ttest",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 2 END AS grp,
             CAST(value AS DECIMAL(18,6)) AS y
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
    ), m AS (
      SELECT grp, CAST(COUNT(*) AS DECIMAL(18,0)) AS n,
             SUM(y) AS sy, SUM(y * y) AS syy
      FROM s GROUP BY grp
    ), w AS (
      SELECT CAST(a.n AS BIGINT) AS n1, CAST(b.n AS BIGINT) AS n2,
             CAST(a.sy AS DOUBLE) / CAST(a.n AS DOUBLE) AS m1,
             CAST(b.sy AS DOUBLE) / CAST(b.n AS DOUBLE) AS m2,
             CAST(a.n * a.syy - a.sy * a.sy AS DOUBLE)
               / (CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) - 1)) AS v1,
             CAST(b.n * b.syy - b.sy * b.sy AS DOUBLE)
               / (CAST(b.n AS DOUBLE) * (CAST(b.n AS DOUBLE) - 1)) AS v2
      FROM m a, m b WHERE a.grp = 1 AND b.grp = 2
    )
    SELECT n1, n2, round(m1 - m2, 6) AS mean_diff,
           round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t,
           round(power(v1 / n1 + v2 / n2, 2)
                 / (power(v1 / n1, 2) / (n1 - 1)
                    + power(v2 / n2, 2) / (n2 - 1)), 3) AS df
    FROM w
    """,
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between click and purchase
    values — the parametric sibling of q_rank_sum_test, with the
    Satterthwaite effective degrees of freedom. Numerics discipline
    from the q_linreg_by_group lesson: each group's variance comes
    from the EXACT decimal determinant n·Σy² − (Σy)² divided once in
    double (never the cancelling sxx − sx²/n float form), so both
    engines see identical (m, v) pairs before the closing t and df
    arithmetic."""
    s = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .select(
            F.when(F.col("event_type") == "click", 1)
            .otherwise(2)
            .alias("grp"),
            F.col("value").cast("decimal(18,6)").alias("y"),
        )
    )
    m = s.groupBy("grp").agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    a = m.filter(F.col("grp") == 1).select(
        F.col("n").alias("na"), F.col("sy").alias("sya"),
        F.col("syy").alias("syya"),
    )
    b = m.filter(F.col("grp") == 2).select(
        F.col("n").alias("nb"), F.col("sy").alias("syb"),
        F.col("syy").alias("syyb"),
    )
    j = a.join(F.broadcast(b))
    n1d = F.col("na").cast("double")
    n2d = F.col("nb").cast("double")
    m1 = F.col("sya").cast("double") / n1d
    m2 = F.col("syb").cast("double") / n2d
    v1 = (F.col("na") * F.col("syya") - F.col("sya") * F.col("sya")).cast(
        "double"
    ) / (n1d * (n1d - 1))
    v2 = (F.col("nb") * F.col("syyb") - F.col("syb") * F.col("syb")).cast(
        "double"
    ) / (n2d * (n2d - 1))
    se2 = v1 / n1d + v2 / n2d
    t = (m1 - m2) / F.sqrt(se2)
    df = F.pow(se2, 2) / (
        F.pow(v1 / n1d, 2) / (n1d - 1) + F.pow(v2 / n2d, 2) / (n2d - 1)
    )
    return j.select(
        F.col("na").cast("long").alias("n1"),
        F.col("nb").cast("long").alias("n2"),
        F.round(m1 - m2, 6).alias("mean_diff"),
        F.round(t, 6).alias("t"),
        F.round(df, 3).alias("df"),
    )


@query(
    "q_acf",
    oracle="""
    WITH clean AS (
      SELECT epoch_us(ts) AS ts_us FROM events WHERE ts IS NOT NULL
    ), hourly AS (
      SELECT (ts_us // 3600000000) AS h, CAST(COUNT(*) AS BIGINT) AS c
      FROM clean GROUP BY 1
    ), spine AS (
      SELECT g.h, COALESCE(hourly.c, 0) AS c
      FROM (SELECT unnest(generate_series(
              (SELECT MIN(h) FROM hourly),
              (SELECT MAX(h) FROM hourly))) AS h) g
      LEFT JOIN hourly ON hourly.h = g.h
    ), pairs AS (
      SELECT l.lag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a.c) AS BIGINT) AS sx,
             CAST(SUM(b.c) AS BIGINT) AS sy,
             CAST(SUM(a.c * a.c) AS BIGINT) AS sxx,
             CAST(SUM(b.c * b.c) AS BIGINT) AS syy,
             CAST(SUM(a.c * b.c) AS BIGINT) AS sxy
      FROM (VALUES (1), (2), (3)) l(lag)
      JOIN spine a ON TRUE
      JOIN spine b ON b.h = a.h + l.lag
      GROUP BY l.lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 9)
             AS acf
    FROM pairs ORDER BY lag
    """,
)
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly event-count series at lags 1-3 —
    the seasonality probe run before any forecasting. The series is
    the gap-filled dense hour spine (missing hours count 0, exactly
    like q_gap_fill — skipping them would silently splice
    non-adjacent hours together); every moment is an INTEGER sum over
    integer counts, the correlation is a ratio of exact integer
    determinants, and the only floats are two sqrts and one division
    at the end. Lagged pairing is a self-equi-join on hour+lag —
    co-partitioned, no window."""
    ev_raw = load_table(spark, sf_dir, "events")
    us = event_ts_us(ev_raw)
    hourly = (
        ev_raw.filter(F.col("ts").isNotNull())
        .select(
            F.floor(us / F.lit(3_600_000_000)).cast("long").alias("h")
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bounds = hourly.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    ).collect()[0]
    spine = (
        ev_raw.sparkSession.range(bounds["h0"], bounds["h1"] + 1)
        .withColumnRenamed("id", "h")
        .join(hourly, "h", "left")
        .select("h", F.coalesce("c", F.lit(0)).alias("c"))
    )
    from babylon_data_loader_spark.functions.cache import persist_tracked

    spine = persist_tracked(spine)
    lags = ev_raw.sparkSession.range(1, 4).select(
        F.col("id").alias("lag")
    )
    a = spine.select("h", F.col("c").alias("ca"))
    b = spine.select(
        F.col("h").alias("hb"), F.col("c").alias("cb")
    )
    pairs = (
        a.join(F.broadcast(lags))
        .join(b, F.col("hb") == F.col("h") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("ca").alias("sx"),
            F.sum("cb").alias("sy"),
            F.sum(F.col("ca") * F.col("ca")).alias("sxx"),
            F.sum(F.col("cb") * F.col("cb")).alias("syy"),
            F.sum(F.col("ca") * F.col("cb")).alias("sxy"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    denx = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    )
    deny = F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return pairs.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n"),
        F.round(num / (denx * deny), 9).alias("acf"),
    ).orderBy("lag")


@query(
    "q_feature_mi",
    oracle="""
    WITH s AS (
      SELECT event_type AS label, value,
             NTILE(10) OVER (ORDER BY value, event_id) AS b
      FROM events WHERE value IS NOT NULL
    ), joint AS (
      SELECT b, label, CAST(COUNT(*) AS BIGINT) AS c
      FROM s GROUP BY b, label
    ), tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n FROM joint
    ), marg_b AS (
      SELECT b, CAST(SUM(c) AS BIGINT) AS cb FROM joint GROUP BY b
    ), marg_l AS (
      SELECT label, CAST(SUM(c) AS BIGINT) AS cl FROM joint GROUP BY label
    ), terms AS (
      SELECT CAST(round(
               (CAST(j.c AS DOUBLE) / t.n)
               * ln(CAST(j.c AS DOUBLE) * t.n
                    / (CAST(mb.cb AS DOUBLE) * ml.cl)), 12)
             AS DECIMAL(28,12)) AS term
      FROM joint j
      JOIN marg_b mb ON mb.b = j.b
      JOIN marg_l ml ON ml.label = j.label
      CROSS JOIN tot t
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n,
           CAST(CAST(SUM(term) * 1000000000000 AS HUGEINT) AS DOUBLE)
             / 1000000000000.0 AS mi_nats
    FROM terms
    """,
)
def q_feature_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between a continuous feature (value,
    decile-binned over a TOTAL order) and the event-type label — the
    feature-selection score for tabular ML. Every probability is a
    ratio of exact integers; each cell's p·ln(p/(p_b·p_l)) term is
    computed from identical doubles in both engines, rounded to 12
    decimals, then DECIMAL-summed — the q_copurchase_pagerank recipe
    for making transcendental sums partition-order-proof. The NTILE
    total order (value, event_id) makes binning engine-deterministic
    under ties; it runs through the distributed two-pass ranking
    (operators/rank.py), never a single-partition window."""
    from babylon_data_loader_spark.operators.rank import with_global_ntile

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(F.col("event_type").alias("label"), "value", "event_id")
    )
    s = with_global_ntile(
        ev, [F.col("value").asc(), F.col("event_id").asc()], 10, "b"
    ).select("label", "b")
    joint = s.groupBy("b", "label").agg(F.count(F.lit(1)).alias("c"))
    from babylon_data_loader_spark.functions.cache import persist_tracked

    joint = persist_tracked(joint)
    tot = joint.agg(F.sum("c").alias("n"))
    marg_b = joint.groupBy("b").agg(F.sum("c").alias("cb"))
    marg_l = joint.groupBy("label").agg(F.sum("c").alias("cl"))
    terms = (
        joint.join(F.broadcast(marg_b), "b")
        .join(F.broadcast(marg_l), "label")
        .join(F.broadcast(tot))
        .select(
            F.round(
                (F.col("c").cast("double") / F.col("n"))
                * F.log(
                    F.col("c").cast("double")
                    * F.col("n")
                    / (F.col("cb").cast("double") * F.col("cl"))
                ),
                12,
            )
            .cast("decimal(28,12)")
            .alias("term"),
            "n",
        )
    )
    return terms.groupBy("n").agg(
        grid_sum(F.col("term"), 12).alias("mi_nats")
    ).select(F.col("n").cast("long").alias("n"), "mi_nats")


@query(
    "q_gini",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i
      FROM spend
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx,
             SUM(CAST(i AS DECIMAL(18,0)) * x) AS six
      FROM ranked
    )
    SELECT n,
           round(CAST(sx AS DOUBLE), 2) AS total_spend,
           CAST(CAST((2 * six - (n + 1) * sx) * 100 AS HUGEINT)
                AS DOUBLE)
             / CAST(CAST(n * sx * 100 AS HUGEINT) AS DOUBLE) AS gini
    FROM m
    """,
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend concentration — the
    inequality score behind 'top 1% of customers drive X% of
    revenue'. Computed from the sorted-rank identity
    G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n with per-customer spend summed in
    DECIMAL, ranks from a TOTAL order (spend, custkey), and the
    rank-weighted sum Σi·xᵢ kept in exact DECIMAL — two exact decimal
    aggregates, float only in the final expression. Ranks come from
    the distributed two-pass row number (operators/rank.py): range-
    repartition on (spend, custkey), per-partition row numbers,
    broadcast prefix offsets — identical ranks, no global sort."""
    from babylon_data_loader_spark.operators.rank import (
        with_global_row_number,
    )

    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
        )
    )
    ranked = with_global_row_number(
        spend, [F.col("x").asc(), F.col("o_custkey").asc()], "i"
    ).select("x", F.col("i").cast("decimal(18,0)").alias("i"))
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    # exact-rational identity: G = (2*Σi*x - (n+1)*Σx) / (n*Σx);
    # numerator/denominator are exact scale-2 decimals scaled to
    # integers, one IEEE division — bit-identical across builds
    gini_num = (
        (
            F.lit(2) * F.col("six")
            - (F.col("n") + F.lit(1)) * F.col("sx")
        )
        * 100
    ).cast("decimal(38,0)").cast("double")
    gini_den = (
        (F.col("n") * F.col("sx")) * 100
    ).cast("decimal(38,0)").cast("double")
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("sx").cast("double"), 2).alias("total_spend"),
        (gini_num / gini_den).alias("gini"),
    )


# Sequence / behavioral analytics ----------------------------------------------


@query(
    "q_sequence_pattern",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY epoch_us(ts), event_id) AS s
      FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN regexp_matches(s, 'v[^p]*vp')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_matching,
           CAST(SUM(len(s)) AS BIGINT) AS total_events
    FROM seq
    """,
)
def q_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern matching (the MATCH_RECOGNIZE shape): users
    whose ordered event stream contains view → (no purchase) → view →
    purchase. Each user's timeline collapses to a one-char-per-event
    string via an ORDER-SENSITIVE aggregation — sort_array over
    (ts, event_id, char) structs makes collect-order deterministic
    regardless of partitioning (the classic Spark trap:
    collect_list alone has NO order guarantee) — then one regex per
    user does the sequence test JVM-side. One user_id shuffle; the
    pattern state machine costs O(events per user), not a join."""
    ev_raw = load_table(spark, sf_dir, "events")
    ev = ev_raw.select(
        "user_id",
        F.struct(
            event_ts_us(ev_raw).alias("ts_us"),
            F.col("event_id"),
            F.substring("event_type", 1, 1).alias("ch"),
        ).alias("e"),
    )
    seq = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("e")), lambda x: x["ch"]
            ),
            "",
        ).alias("s")
    )
    return seq.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(
            F.when(F.col("s").rlike("v[^p]*vp"), 1).otherwise(0)
        ).alias("n_matching"),
        F.sum(F.length("s")).alias("total_events"),
    )


@query(
    "q_markov_transitions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id)
               AS next_type
      FROM events
    ), pairs AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM ordered WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ), outdeg AS (
      SELECT from_type, CAST(SUM(c) AS BIGINT) AS total
      FROM pairs GROUP BY from_type
    )
    SELECT p.from_type, p.to_type, p.c,
           CAST(p.c AS DOUBLE) / o.total AS p
    FROM pairs p JOIN outdeg o ON o.from_type = p.from_type
    ORDER BY p.from_type, p.to_type
    """,
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams:
    P(next event type | current) — the behavioral model behind
    next-action prediction and funnel leak analysis. LEAD pairs each
    event with its successor on ONE user_id shuffle; probabilities
    are ratios of exact integer counts. The |types|² matrix is
    metadata-sized output regardless of corpus scale."""
    ev_raw = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        event_ts_us(ev_raw), F.col("event_id")
    )
    ordered = ev_raw.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    pairs = ordered.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    from babylon_data_loader_spark.functions.cache import persist_tracked

    pairs = persist_tracked(pairs)
    outdeg = pairs.groupBy("from_type").agg(F.sum("c").alias("total"))
    return (
        pairs.join(F.broadcast(outdeg), "from_type")
        .select(
            "from_type",
            "to_type",
            "c",
            (F.col("c").cast("double") / F.col("total")).alias(
                "p"
            ),
        )
        .orderBy("from_type", "to_type")
    )


@query(
    "q_rfm_segments",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             MAX(epoch_us(o_orderdate)) AS last_us,
             CAST(COUNT(*) AS BIGINT) AS freq,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT NTILE(4) OVER (ORDER BY last_us, o_custkey) AS r,
             NTILE(4) OVER (ORDER BY freq, o_custkey) AS f,
             NTILE(4) OVER (ORDER BY monetary, o_custkey) AS m,
             monetary
      FROM rfm
    )
    SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
           CAST(m AS BIGINT) AS m,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           round(CAST(SUM(monetary) AS DOUBLE), 2) AS segment_value
    FROM scored GROUP BY r, f, m ORDER BY r, f, m
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: each customer scored into recency / frequency /
    monetary quartiles (NTILE over TOTAL orders — (metric, custkey) —
    so quartile boundaries are engine-deterministic under ties), then
    the 4×4×4 segment census with DECIMAL-exact segment value.

    One shared ranking pass for all three quartiles (r5 VERDICT ask
    #4; was three sequential two-pass NTILEs, 15 exchanges): the
    per-customer frame is MELTED into a (metric, value, custkey) long
    frame — 3N narrow rows, values cast to a common DECIMAL carrier,
    an order-preserving injection for all three source types — and
    ranked with ONE grouped distributed prefix scan
    (operators/rank.py::grouped_running_totals; metric is the 3-value
    group key, exactly its few-group design case). Tile assignment is
    driver arithmetic from the single cached count; the monetary
    passthrough rides the melt so no join back onto the per-customer
    frame is needed. Zero global windows, one range shuffle."""
    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        ).alias("last_us"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
            "monetary"
        ),
    )
    from babylon_data_loader_spark.functions.cache import persist_tracked
    from babylon_data_loader_spark.operators.rank import (
        grouped_running_totals,
    )

    rfm = persist_tracked(rfm)
    n_customers = rfm.count()

    def _arm(metric: str, col: str) -> DataFrame:
        return rfm.select(
            F.lit(metric).alias("metric"),
            F.col(col).cast("decimal(38,6)").alias("val"),
            "o_custkey",
            (
                F.col("monetary")
                if metric == "m"
                else F.lit(None).cast(rfm.schema["monetary"].dataType)
            ).alias("monetary"),
        )

    long = (
        _arm("r", "last_us")
        .unionAll(_arm("f", "freq"))
        .unionAll(_arm("m", "monetary"))
    )
    ranked = grouped_running_totals(
        long,
        ["metric"],
        [F.col("val").asc(), F.col("o_custkey").asc()],
        {"rn": F.lit(1)},
    ).withColumn("rn", F.col("rn").cast("long"))
    # SQL NTILE(4) from the global row number: first N%4 tiles get
    # ceil(N/4) rows, the rest floor(N/4) — same formula as
    # rank.py::with_global_ntile, N from the one cached count
    q, r = divmod(n_customers, 4)
    big = q + 1
    rn_c = F.col("rn")
    if q == 0:
        tile = rn_c
    else:
        tile = F.when(
            rn_c <= r * big, F.ceil(rn_c / F.lit(big))
        ).otherwise(r + F.ceil((rn_c - r * big) / F.lit(q)))
    scored = (
        ranked.withColumn("tile", tile.cast("long"))
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("metric") == "r", F.col("tile"))).alias("r"),
            F.max(F.when(F.col("metric") == "f", F.col("tile"))).alias("f"),
            F.max(F.when(F.col("metric") == "m", F.col("tile"))).alias("m"),
            F.max("monetary").alias("monetary"),
        )
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("monetary").cast("double"), 2).alias(
                "segment_value"
            ),
        )
        .orderBy("r", "f", "m")
    )


@query(
    "q_association_rules",
    oracle="""
    WITH ok_orders AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING COUNT(DISTINCT l_partkey) BETWEEN 2 AND 10
    ), op AS (
      SELECT DISTINCT l.l_orderkey, l.l_partkey
      FROM lineitem l JOIN ok_orders USING (l_orderkey)
    ), n AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM op
    ), item AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM op GROUP BY 1
    ), pair AS (
      SELECT a.l_partkey AS x, b.l_partkey AS y,
             CAST(COUNT(*) AS BIGINT) AS cxy
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
    )
    SELECT p.x, p.y, p.cxy,
           CAST(p.cxy AS DOUBLE) / ix.c AS confidence,
           (CAST(p.cxy AS DOUBLE) * n.n_orders)
             / (CAST(ix.c AS DOUBLE) * iy.c) AS lift
    FROM pair p
    JOIN item ix ON ix.l_partkey = p.x
    JOIN item iy ON iy.l_partkey = p.y
    CROSS JOIN n
    ORDER BY lift DESC, x, y LIMIT 25
    """,
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over the capped co-purchase
    baskets: support (co-occurrence count ≥ 3), confidence
    P(y|x) and lift P(x,y)/(P(x)P(y)) — all ratios of exact integer
    counts, top-25 by lift with full tiebreak. The pair join is the
    same bounded basket self-join as the graph queries (≤10 items per
    basket ⇒ ≤45 pairs per order, never quadratic); item counts
    broadcast into the rule assembly."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    ok = (
        op.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("np"))
        .filter(F.col("np").between(2, 10))
        .select("l_orderkey")
    )
    from babylon_data_loader_spark.functions.cache import persist_tracked

    op2 = persist_tracked(op.join(ok, "l_orderkey"))
    n = op2.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = op2.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a = op2.select("l_orderkey", F.col("l_partkey").alias("x"))
    b = op2.select("l_orderkey", F.col("l_partkey").alias("y"))
    pair = (
        a.join(b, "l_orderkey")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cxy"))
        .filter(F.col("cxy") >= 3)
    )
    ix = item.select(F.col("l_partkey").alias("x"), F.col("c").alias("cx"))
    iy = item.select(F.col("l_partkey").alias("y"), F.col("c").alias("cy"))
    return (
        pair.join(F.broadcast(ix), "x")
        .join(F.broadcast(iy), "y")
        .join(F.broadcast(n))
        .select(
            "x",
            "y",
            "cxy",
            # confidence/lift are ratios of exact integer counts:
            # correctly-rounded IEEE ops only — round(x, 9) on them
            # is the half-way build hazard (and lift is the ORDER key)
            (F.col("cxy").cast("double") / F.col("cx")).alias(
                "confidence"
            ),
            (
                (F.col("cxy").cast("double") * F.col("n_orders"))
                / (F.col("cx").cast("double") * F.col("cy"))
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "x", "y")
        .limit(25)
    )


# IR ranking / phrase search / growth ------------------------------------------


@query(
    "q_bm25_topk",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)),
                                                  '\s+')) AS token
      FROM documents
    ), doclen AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_len
      FROM doclen
    ), tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS f
      FROM toks WHERE token IN ('data', 'table', 'join')
      GROUP BY 1, 2
    ), df AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS d FROM tf GROUP BY token
    ), terms AS (
      SELECT tf.doc_id,
             CAST(round(
               ln((CAST(s.n_docs AS DOUBLE) - df.d + 0.5)
                  / (df.d + 0.5) + 1.0)
               * (tf.f * 2.2)
               / (tf.f + 1.2 * (0.25 + 0.75 * dl.dl
                                * s.n_docs / CAST(s.total_len AS DOUBLE))),
               9) AS DECIMAL(28,9)) AS score_term
      FROM tf
      JOIN df ON df.token = tf.token
      JOIN doclen dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
    )
    SELECT doc_id,
           CAST(CAST(SUM(score_term) * 1000000000 AS HUGEINT) AS DOUBLE)
             / 1000000000.0 AS bm25
    FROM terms GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC LIMIT 20
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-ranked top-20 documents for the 3-term query — the scoring
    function behind every lexical search engine (k1=1.2, b=0.75).
    Exactness for a float formula: tf/df/doclen are exact integers, so
    each per-(doc,term) score is computed from identical doubles in
    both engines, rounded to 9 decimals, then DECIMAL-summed per doc —
    the partition-order-proof recipe. The term filter prunes the
    postings scan to the query terms (at rest: partition pruning of
    the inverted index, like q_boolean_search); doc-length and
    corpus stats are metadata-scale broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    terms_list = ["data", "table", "join"]
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias(
            "token"
        ),
    )
    from babylon_data_loader_spark.functions.cache import persist_tracked

    toks = persist_tracked(toks)
    doclen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_len"),
    )
    tf = (
        toks.filter(F.col("token").isin(terms_list))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    tf = persist_tracked(tf)
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("d"))
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("d") + 0.5)
        / (F.col("d") + 0.5)
        + 1.0
    )
    norm = F.col("f") + 1.2 * (
        0.25
        + 0.75
        * F.col("dl")
        * F.col("n_docs")
        / F.col("total_len").cast("double")
    )
    term_score = F.round(idf * (F.col("f") * 2.2) / norm, 9).cast(
        "decimal(28,9)"
    )
    scored = (
        tf.join(F.broadcast(df_), "token")
        .join(doclen, "doc_id")
        .join(F.broadcast(stats))
        .select("doc_id", term_score.alias("score_term"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(grid_sum(F.col("score_term"), 9).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )


@query(
    "q_phrase_search",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ), bigrams AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM bigrams WHERE w1 = 'data' AND w2 = 'table'
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("data table", adjacent tokens) — the
    positional-postings operation a bag-of-words index cannot answer:
    posexplode keeps each token's POSITION, and the phrase test is a
    self-join on (doc, pos+1). Expressed as an adjacent-pair zip
    (arrays_zip of the array with its own tail) so the plan is one
    projection + explode — no join at all; at rest the bigram becomes
    the posting key (phrase indexes store n-grams for exactly this
    reason)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.trim(F.lower("text")), r"\s+")
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
                F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
            )
        ).alias("bg"),
    )
    return (
        pairs.filter(
            (F.col("bg.0") == "data") & (F.col("bg.1") == "table")
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .orderBy("doc_id")
    )


@query(
    "q_cumulative_uniques",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(epoch_us(ts) // 86400000000) AS first_day
      FROM events GROUP BY user_id
    ), daily AS (
      SELECT CAST(first_day AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS new_users
      FROM firsts GROUP BY 1
    )
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day) AS BIGINT)
             AS cumulative_users
    FROM daily ORDER BY day
    """,
)
def q_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new users and the cumulative distinct-user curve — the
    growth chart. A naive running COUNT(DISTINCT) over an expanding
    window re-scans history per day; the first-seen reduction makes it
    exact and cheap: MIN(day) per user (one shuffle), daily counts,
    one running sum over O(days) rows. This reduction — distinct
    becomes first-occurrence — is the standard trick for cumulative
    uniqueness at any scale."""
    ev_raw = load_table(spark, sf_dir, "events")
    firsts = (
        ev_raw.select(
            "user_id",
            F.floor(event_ts_us(ev_raw) / F.lit(86_400_000_000))
            .cast("long")
            .alias("day"),
        )
        .groupBy("user_id")
        .agg(F.min("day").alias("first_day"))
    )
    daily = firsts.groupBy(
        F.col("first_day").alias("day")
    ).agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    ).orderBy("day")


@query(
    "q_js_divergence",
    oracle=r"""
    WITH toks AS (
      SELECT source, unnest(regexp_split_to_array(trim(lower(text)),
                                                  '\s+')) AS token
      FROM documents
    ), counts AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2
    ), totals AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY 1
    ), pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb,
             ta.n AS na, tb.n AS nb,
             COALESCE(ca.token, cb.token) AS token
      FROM totals a
      JOIN totals b ON a.source < b.source
      JOIN totals ta ON ta.source = a.source
      JOIN totals tb ON tb.source = b.source
      CROSS JOIN (SELECT DISTINCT token FROM counts) t
      LEFT JOIN counts ca ON ca.source = a.source AND ca.token = t.token
      LEFT JOIN counts cb ON cb.source = b.source AND cb.token = t.token
      WHERE COALESCE(ca.c, 0) + COALESCE(cb.c, 0) > 0
    ), terms AS (
      SELECT src_a, src_b,
             CAST(round(
               0.5 * CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE)/na)
                 * ln((CAST(ca AS DOUBLE)/na)
                      / (0.5*(CAST(ca AS DOUBLE)/na
                              + CAST(cb AS DOUBLE)/nb)))
                 ELSE 0 END
               + 0.5 * CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE)/nb)
                 * ln((CAST(cb AS DOUBLE)/nb)
                      / (0.5*(CAST(ca AS DOUBLE)/na
                              + CAST(cb AS DOUBLE)/nb)))
                 ELSE 0 END, 12) AS DECIMAL(28,12)) AS term
      FROM pairs
    )
    SELECT src_a, src_b,
           CAST(CAST(SUM(term) * 1000000000000 AS HUGEINT) AS DOUBLE)
             / 1000000000000.0 AS jsd_nats
    FROM terms GROUP BY src_a, src_b ORDER BY src_a, src_b
    """,
)
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between the sources' token
    distributions — the symmetric, always-finite drift measure for
    dataset mixing (KL blows up on unshared vocabulary; JSD's mixture
    midpoint never does). Probabilities are ratios of exact integer
    counts; each token's contribution is computed from identical
    doubles, rounded to 12 decimals, and DECIMAL-summed per source
    pair. The token-pair frame is built with a FULL join per source
    pair (a token absent on one side contributes only the other
    side's half-term), keyed joins only — no all-pairs anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias(
            "token"
        ),
    )
    counts = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    from babylon_data_loader_spark.functions.cache import persist_tracked

    counts = persist_tracked(counts)
    totals = counts.groupBy("source").agg(F.sum("c").alias("n"))
    srcs = totals.select(
        F.col("source").alias("src_a"), F.col("n").alias("na")
    ).join(
        F.broadcast(
            totals.select(
                F.col("source").alias("src_b"), F.col("n").alias("nb")
            )
        ),
        F.col("src_a") < F.col("src_b"),
    )
    ca = counts.select(
        F.col("source").alias("src_a"),
        F.col("token"),
        F.col("c").alias("ca"),
    )
    cb = counts.select(
        F.col("source").alias("src_b"),
        F.col("token"),
        F.col("c").alias("cb"),
    )
    # full outer on token within each pair: join each side to the
    # pair frame, then full-outer merge the two sides on (pair, token)
    left = srcs.join(ca, "src_a").select(
        "src_a", "src_b", "na", "nb", "token", "ca"
    )
    right = srcs.join(cb, "src_b").select(
        F.col("src_a").alias("src_a2"),
        F.col("src_b").alias("src_b2"),
        F.col("token").alias("token2"),
        "cb",
    )
    merged = left.join(
        right,
        (F.col("src_a") == F.col("src_a2"))
        & (F.col("src_b") == F.col("src_b2"))
        & (F.col("token") == F.col("token2")),
        "full",
    ).select(
        F.coalesce("src_a", "src_a2").alias("src_a"),
        F.coalesce("src_b", "src_b2").alias("src_b"),
        F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
        F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
        "na",
        "nb",
    )
    # na/nb are NULL on right-only rows; rejoin the pair totals
    merged = merged.drop("na", "nb").join(
        F.broadcast(
            srcs.select("src_a", "src_b", "na", "nb")
        ),
        ["src_a", "src_b"],
    )
    pa = F.col("ca").cast("double") / F.col("na")
    pb = F.col("cb").cast("double") / F.col("nb")
    mid = 0.5 * (pa + pb)
    term = (
        F.round(
            0.5
            * F.when(F.col("ca") > 0, pa * F.log(pa / mid)).otherwise(0.0)
            + 0.5
            * F.when(F.col("cb") > 0, pb * F.log(pb / mid)).otherwise(0.0),
            12,
        )
    ).cast("decimal(28,12)")
    return (
        merged.select("src_a", "src_b", term.alias("term"))
        .groupBy("src_a", "src_b")
        .agg(grid_sum(F.col("term"), 12).alias("jsd_nats"))
        .orderBy("src_a", "src_b")
    )


# Fuzzy entity clusters --------------------------------------------------------


@query(
    "q_fuzzy_clusters",
    oracle="""
    WITH RECURSIVE names AS (
      SELECT p_name, split_part(p_name, ' ', 2) AS block_key,
             CAST(COUNT(*) AS BIGINT) AS n_records
      FROM part GROUP BY 1, 2
    ), pairs AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b
      FROM names a
      JOIN names b ON a.block_key = b.block_key AND a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
    ), edges AS (
      SELECT name_a AS a, name_b AS b FROM pairs
      UNION ALL SELECT name_b, name_a FROM pairs
    ), walk AS (
      SELECT p_name AS node, p_name AS label FROM names
      UNION
      SELECT e.b AS node, w.label FROM walk w JOIN edges e ON e.a = w.node
    ), labels AS (
      SELECT node, MIN(label) AS cluster FROM walk GROUP BY node
    )
    SELECT l.cluster, CAST(COUNT(*) AS BIGINT) AS n_variants,
           CAST(SUM(n.n_records) AS BIGINT) AS n_records,
           MIN(l.node) AS representative
    FROM labels l JOIN names n ON n.p_name = l.node
    GROUP BY l.cluster HAVING COUNT(*) > 1
    ORDER BY cluster
    """,
)
def q_fuzzy_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy ENTITY RESOLUTION end to end — the composition
    q_fuzzy_join stops short of: blocked Levenshtein pairs feed
    connected components (operators/graph.py), so chains of variants
    ('cold ring' ~ 'old ring' ~ 'red ring' even when the ends differ
    by 3 edits) collapse into ONE cluster with a deterministic
    min-name representative and the total record mass it absorbs.
    Cluster-semantics dedup (verified pairs -> components -> one
    representative) applied to fuzzy name matching; the RECURSIVE-CTE
    oracle re-derives the same transitive closure.
    Clusters of one (no variants) are excluded — they are not
    resolution work."""
    from babylon_data_loader_spark.operators.graph import (
        connected_components,
    )

    p = load_table(spark, sf_dir, "part")
    names = p.groupBy(
        "p_name", F.split("p_name", " ").getItem(1).alias("block_key")
    ).agg(F.count(F.lit(1)).alias("n_records"))
    from babylon_data_loader_spark.functions.cache import persist_tracked

    names = persist_tracked(names)
    a = names.select(
        F.col("p_name").alias("name_a"), "block_key"
    )
    b = names.select(
        F.col("p_name").alias("name_b"), "block_key"
    )
    dist = F.levenshtein("name_a", "name_b")
    pairs = (
        a.join(b, "block_key")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(dist.between(1, 2))
        .select("name_a", "name_b")
    )
    comp = connected_components(
        names.select(F.col("p_name").alias("id")),
        pairs.select(
            F.col("name_a").alias("src"), F.col("name_b").alias("dst")
        ),
    )
    labeled = comp.select(
        F.col("id").alias("p_name"), F.col("component").alias("cluster")
    ).join(names.select("p_name", "n_records"), "p_name")
    return (
        labeled.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.sum("n_records").alias("n_records"),
            F.min("p_name").alias("representative"),
        )
        .filter(F.col("n_variants") > 1)
        .orderBy("cluster")
    )


# QQ-plot points ---------------------------------------------------------------


@query(
    "q_qq_points",
    oracle="""
    WITH a AS (
      SELECT value AS x,
             ROW_NUMBER() OVER (ORDER BY value, event_id) AS i,
             COUNT(*) OVER () AS n
      FROM events WHERE event_type = 'click' AND value IS NOT NULL
    ), b AS (
      SELECT value AS x,
             ROW_NUMBER() OVER (ORDER BY value, event_id) AS i,
             COUNT(*) OVER () AS n
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ), q AS (SELECT unnest(generate_series(1, 19)) AS k)
    SELECT q.k,
           (SELECT x FROM a WHERE i = (a.n * q.k + 19) // 20 LIMIT 1)
             AS q_click,
           (SELECT x FROM b WHERE i = (b.n * q.k + 19) // 20 LIMIT 1)
             AS q_purchase
    FROM q, (SELECT DISTINCT n FROM a) a(n),
         (SELECT DISTINCT n FROM b) b(n)
    ORDER BY q.k
    """,
)
def q_qq_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QQ-plot points (ventiles 1/20 … 19/20) comparing the click and
    purchase value distributions — the visual companion to
    q_ks_statistic. Each quantile is an ORDER STATISTIC: the exact
    element at rank ⌈n·k/20⌉ under a total order (value, event_id) —
    pure element SELECTION, no arithmetic at all, so both engines
    return identical doubles by construction. Each side's ranks come
    from the distributed two-pass row number (operators/rank.py); the
    19 target ranks ⌈n·k/20⌉ are computed driver-side from the total
    (O(1) metadata) and broadcast — no global sort, no global-count
    window."""
    from babylon_data_loader_spark.operators.rank import (
        global_row_number_with_total,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )

    def side(event_type: str, out: str) -> DataFrame:
        s = ev.filter(F.col("event_type") == event_type).select(
            F.col("value").alias("x"), "event_id"
        )
        ranked, n = global_row_number_with_total(
            s, [F.col("x").asc(), F.col("event_id").asc()], "i"
        )
        ks = F.broadcast(
            ev.sparkSession.createDataFrame(
                [(k, (n * k + 19) // 20) for k in range(1, 20)],
                "k BIGINT, target BIGINT",
            )
        )
        return ranked.join(ks, ranked.i == ks.target).select(
            "k", F.col("x").alias(out)
        )

    qa = side("click", "q_click")
    qb = side("purchase", "q_purchase")
    return qa.join(qb, "k").orderBy("k")


@query(
    "q_median_by_group",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS i,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           round(SUM(CASE
             WHEN n % 2 = 1 AND i = (n + 1) // 2 THEN value
             WHEN n % 2 = 0 AND i IN (n // 2, n // 2 + 1)
               THEN value / 2 ELSE 0 END), 6) AS median
    FROM ranked GROUP BY event_type ORDER BY event_type
    """,
)
def q_median_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median PER GROUP by order-statistic selection over the
    per-(group, value) COUNT table: the middle positions are located
    in the per-group cumulative counts, so the median never ranks raw
    rows. event_type has FIVE values — a partitionBy(event_type)
    window would sort the whole fact table in five tasks; the grouped
    distributed prefix scan (operators/rank.py::grouped_running_totals)
    spreads each group across the cluster's range partitions instead.
    Even-n medians average the two middle elements as value/2 +
    value/2 — each halving exact in IEEE, matching the oracle's
    arithmetic digit for digit."""
    from babylon_data_loader_spark.operators.rank import (
        grouped_running_totals,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    counts = ev.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).alias("c")
    )
    cum = grouped_running_totals(
        counts, ["event_type"], [F.col("value").asc()], {"cum": F.col("c")}
    )
    tot = counts.groupBy("event_type").agg(F.sum("c").alias("n"))
    j = cum.join(F.broadcast(tot), "event_type")

    def covers(t):  # value's rank interval (cum-c, cum] contains t
        return (F.col("cum") - F.col("c") < t) & (t <= F.col("cum"))

    t_odd = F.expr("CAST((n + 1) DIV 2 AS BIGINT)")
    t1 = F.expr("CAST(n DIV 2 AS BIGINT)")
    contrib = F.when(
        F.col("n") % 2 == 1,
        F.when(covers(t_odd), F.col("value")).otherwise(0.0),
    ).otherwise(
        F.when(covers(t1), F.col("value") / 2).otherwise(0.0)
        + F.when(covers(t1 + 1), F.col("value") / 2).otherwise(0.0)
    )
    return (
        j.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.round(F.sum(contrib), 6).alias("median"),
        )
        .orderBy("event_type")
    )


@query(
    "q_covariance_matrix",
    oracle="""
    WITH s AS (
      SELECT CAST(l_quantity AS HUGEINT) AS q,
             CAST(round(l_extendedprice * 100) AS HUGEINT) AS p,
             CAST(round(l_discount * 100) AS HUGEINT) AS d
      FROM lineitem
    ), m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(q) AS sq, SUM(p) AS sp, SUM(d) AS sd,
             SUM(q*q) AS sqq, SUM(p*p) AS spp, SUM(d*d) AS sdd,
             SUM(q*p) AS sqp, SUM(q*d) AS sqd, SUM(p*d) AS spd
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(CAST(n*sqq - sq*sq AS DOUBLE)
                 / CAST(n*(n-1) AS DOUBLE), 6) AS var_qty,
           round(CAST(n*spp - sp*sp AS DOUBLE)
                 / CAST(n*(n-1) AS DOUBLE) / 10000.0, 4) AS var_price,
           round(CAST(n*sdd - sd*sd AS DOUBLE)
                 / CAST(n*(n-1) AS DOUBLE) / 10000.0, 9) AS var_disc,
           round(CAST(n*sqp - sq*sp AS DOUBLE)
                 / CAST(n*(n-1) AS DOUBLE) / 100.0, 4) AS cov_qty_price,
           round(CAST(n*sqd - sq*sd AS DOUBLE)
                 / CAST(n*(n-1) AS DOUBLE) / 100.0, 9) AS cov_qty_disc,
           round(CAST(n*spd - sp*sd AS DOUBLE)
                 / CAST(n*(n-1) AS DOUBLE) / 10000.0, 6) AS cov_price_disc
    FROM m
    """,
)
def q_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3×3 sample covariance matrix of (quantity, price, discount)
    in ONE aggregate pass — the feature-preprocessing primitive (PCA,
    whitening, Mahalanobis) at its smallest. Exactness at 38-digit
    scale: values become cents-scaled INTEGERS (quantity is integral;
    2-dp money rounds exactly), all nine moments are integer sums, and
    each matrix entry is a ratio of exact integer determinants
    (HUGEINT in DuckDB, DECIMAL(38,0) in Spark — products stay under
    both engines' 128-bit/38-digit exact range), followed by one IEEE
    division and one exact power-of-ten unit rescale."""
    s = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("decimal(19,0)").alias("q"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("decimal(19,0)")
        .alias("p"),
        F.round(F.col("l_discount") * 100)
        .cast("decimal(19,0)")
        .alias("d"),
    )
    # sums cast to DECIMAL(28,0): Σp² in cents reaches ~5e19 at sf0.1
    # (overflows 19 digits); 28-digit operands keep every determinant
    # product within Spark's 38-digit exact range (n·Σpp ≈ 8e24).
    m = s.agg(
        F.count(F.lit(1)).cast("decimal(28,0)").alias("n"),
        F.sum("q").cast("decimal(28,0)").alias("sq"),
        F.sum("p").cast("decimal(28,0)").alias("sp"),
        F.sum("d").cast("decimal(28,0)").alias("sd"),
        F.sum(F.col("q") * F.col("q")).cast("decimal(28,0)").alias("sqq"),
        F.sum(F.col("p") * F.col("p")).cast("decimal(28,0)").alias("spp"),
        F.sum(F.col("d") * F.col("d")).cast("decimal(28,0)").alias("sdd"),
        F.sum(F.col("q") * F.col("p")).cast("decimal(28,0)").alias("sqp"),
        F.sum(F.col("q") * F.col("d")).cast("decimal(28,0)").alias("sqd"),
        F.sum(F.col("p") * F.col("d")).cast("decimal(28,0)").alias("spd"),
    )
    n = F.col("n")
    nn1 = (n * (n - 1)).cast("double")

    def cov(sxy, sx, sy, rescale, dp):
        det = (n * F.col(sxy) - F.col(sx) * F.col(sy)).cast("double")
        return F.round(det / nn1 / F.lit(rescale), dp)

    return m.select(
        n.cast("long").alias("n"),
        cov("sqq", "sq", "sq", 1.0, 6).alias("var_qty"),
        cov("spp", "sp", "sp", 10000.0, 4).alias("var_price"),
        cov("sdd", "sd", "sd", 10000.0, 9).alias("var_disc"),
        cov("sqp", "sq", "sp", 100.0, 4).alias("cov_qty_price"),
        cov("sqd", "sq", "sd", 100.0, 9).alias("cov_qty_disc"),
        cov("spd", "sp", "sd", 10000.0, 6).alias("cov_price_disc"),
    )


@query(
    "q_corpus_report",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, lang, source, n_chars,
             regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_toks
      FROM documents
    ), langs AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY lang
    ), lang_entropy AS (
      SELECT CAST(CAST(SUM(CAST(round(
               -(CAST(c AS DOUBLE) / (SELECT SUM(c) FROM langs))
               * ln(CAST(c AS DOUBLE) / (SELECT SUM(c) FROM langs)), 12)
             AS DECIMAL(28,12))) * 1000000000000 AS HUGEINT)
             AS DOUBLE) / 1000000000000.0 AS h
      FROM langs
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_docs,
           (SELECT CAST(COUNT(DISTINCT md5(norm)) AS BIGINT) FROM d)
             AS n_unique,
           CAST(1.0 AS DOUBLE)
             - (SELECT COUNT(DISTINCT md5(norm)) FROM d)
                 / CAST((SELECT COUNT(*) FROM d) AS DOUBLE)
             AS dup_rate,
           (SELECT CAST(SUM(n_toks) AS BIGINT) FROM d) AS total_tokens,
           (SELECT CAST(MIN(n_chars) AS BIGINT) FROM d) AS min_chars,
           (SELECT CAST(MAX(n_chars) AS BIGINT) FROM d) AS max_chars,
           (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) FROM d)
             AS n_langs,
           (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) FROM d)
             AS n_sources,
           (SELECT h FROM lang_entropy) AS lang_entropy_nats
    """,
)
def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card as a DRIVER-VERIFIED query — the one-row
    corpus summary every training run should log (the CLI
    dataset-card command's oracle-checked twin): size, normalized
    exact-dup rate, token volume, length bounds, composition
    cardinalities, and the language-mix entropy (rounded-term DECIMAL
    sum, partition-order-proof). Two scans (docs + the distinct-hash
    count) — the whole report is aggregate-only, no row ever reaches
    the driver."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.md5(
            F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ").cast(
                "binary"
            )
        ).alias("h"),
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_toks"),
    )
    from babylon_data_loader_spark.functions.cache import persist_tracked

    d = persist_tracked(d)
    langs = d.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    lang_entropy = (
        langs.join(F.broadcast(langs.agg(F.sum("c").alias("tot"))))
        .select(
            F.round(
                -(F.col("c").cast("double") / F.col("tot"))
                * F.log(F.col("c").cast("double") / F.col("tot")),
                12,
            )
            .cast("decimal(28,12)")
            .alias("term")
        )
        .agg(grid_sum(F.col("term"), 12).alias("h"))
    )
    base = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("h").alias("n_unique"),
        F.sum("n_toks").alias("total_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    return base.join(F.broadcast(lang_entropy)).select(
        "n_docs",
        "n_unique",
        (
            F.lit(1.0)
            - F.col("n_unique").cast("double") / F.col("n_docs")
        ).alias("dup_rate"),
        "total_tokens",
        F.col("min_chars").cast("long").alias("min_chars"),
        F.col("max_chars").cast("long").alias("max_chars"),
        "n_langs",
        "n_sources",
        F.col("h").alias("lang_entropy_nats"),
    )


@query(
    "q_rolling_median",
    oracle="""
    WITH daily AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), spine AS (
      SELECT g.day, COALESCE(daily.c, 0) AS c
      FROM (SELECT unnest(generate_series(
              (SELECT MIN(day) FROM daily),
              (SELECT MAX(day) FROM daily))) AS day) g
      LEFT JOIN daily ON daily.day = g.day
    )
    SELECT day, c,
           CAST(median(c) OVER (ORDER BY day
                                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                AS DOUBLE) AS med7
    FROM spine ORDER BY day
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day MEDIAN of the daily event count — the robust
    smoother (a single outlier day shifts a rolling mean but not the
    median). Spark has no median window function, so the bounded
    frame becomes an explicit band self-join on the dense day spine
    (center ± 3 — zero-filled like q_gap_fill, so window membership
    is positional, not data-dependent) and each window's median is
    order-statistic SELECTION over ≤7 integer counts: sort the
    collected window array, pick the middle (or average the two
    middles — exact halves). O(days × 7) rows total; counts are
    integers so every median is engine-exact."""
    ev_raw = load_table(spark, sf_dir, "events")
    daily = (
        ev_raw.filter(F.col("ts").isNotNull())
        .select(
            F.floor(event_ts_us(ev_raw) / F.lit(86_400_000_000))
            .cast("long")
            .alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bounds = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).collect()[0]
    spine = (
        ev_raw.sparkSession.range(bounds["d0"], bounds["d1"] + 1)
        .withColumnRenamed("id", "day")
        .join(daily, "day", "left")
        .select("day", F.coalesce("c", F.lit(0)).alias("c"))
    )
    from babylon_data_loader_spark.functions.cache import persist_tracked

    spine = persist_tracked(spine)
    nbr = spine.select(
        F.col("day").alias("nday"), F.col("c").alias("nc")
    )
    windows = (
        spine.join(
            nbr,
            (F.col("nday") >= F.col("day") - 3)
            & (F.col("nday") <= F.col("day") + 3),
        )
        .groupBy("day", "c")
        .agg(F.sort_array(F.collect_list("nc")).alias("w"))
    )
    n = F.size("w")
    med = F.when(
        n % 2 == 1,
        F.element_at("w", ((n + 1) / F.lit(2)).cast("int")),
    ).otherwise(
        (
            F.element_at("w", (n / F.lit(2)).cast("int"))
            + F.element_at("w", (n / F.lit(2)).cast("int") + 1)
        )
        / F.lit(2.0)
    )
    return windows.select(
        "day", "c", med.cast("double").alias("med7")
    ).orderBy("day")


# Corpus scaling laws / seasonal profile / graph degrees -----------------------


@query(
    "q_seasonality_profile",
    oracle="""
    WITH ev AS (
      SELECT epoch_us(ts) AS us FROM events WHERE ts IS NOT NULL
    ), cells AS (
      -- epoch day 0 (1970-01-01) was a Thursday = dow 4 (ISO Mon=1)
      SELECT ((us // 86400000000 + 3) % 7) + 1 AS dow,
             (us % 86400000000) // 3600000000 AS hour,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ev GROUP BY 1, 2
    ), ndays AS (
      SELECT ((us // 86400000000 + 3) % 7) + 1 AS dow,
             CAST(COUNT(DISTINCT us // 86400000000) AS BIGINT) AS days
      FROM ev GROUP BY 1
    )
    SELECT CAST(c.dow AS BIGINT) AS dow, CAST(c.hour AS BIGINT) AS hour,
           c.n, CAST(c.n AS DOUBLE) / d.days AS per_day
    FROM cells c JOIN ndays d ON d.dow = c.dow
    ORDER BY dow, hour
    """,
)
def q_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekly seasonal fingerprint: event volume per (ISO
    day-of-week × hour-of-day) cell, normalized by how many of that
    weekday exist in the span — the baseline a seasonal anomaly
    detector subtracts (q_anomaly_hours flags against a GLOBAL mean;
    this is the per-cell version). Calendar math is pure integer
    epoch arithmetic (epoch day 0 was a Thursday), so no timezone
    library disagreement can leak in; the 7×24 matrix is
    metadata-sized output at any scale."""
    ev_raw = load_table(spark, sf_dir, "events")
    us = event_ts_us(ev_raw)
    ev = ev_raw.filter(F.col("ts").isNotNull()).select(
        us.alias("us"),
        ((F.floor(us / F.lit(86_400_000_000)) + 3) % 7 + 1).alias(
            "dow"
        ),
        F.floor(
            (us % F.lit(86_400_000_000)) / F.lit(3_600_000_000)
        ).cast("long").alias("hour"),
        F.floor(us / F.lit(86_400_000_000)).cast("long").alias("day"),
    )
    from babylon_data_loader_spark.functions.cache import persist_tracked

    ev = persist_tracked(ev)
    cells = ev.groupBy("dow", "hour").agg(F.count(F.lit(1)).alias("n"))
    ndays = ev.groupBy("dow").agg(
        F.countDistinct("day").alias("days")
    )
    return (
        cells.join(F.broadcast(ndays), "dow")
        .select(
            F.col("dow").cast("long").alias("dow"),
            F.col("hour").cast("long").alias("hour"),
            "n",
            (F.col("n").cast("double") / F.col("days")).alias(
                "per_day"
            ),
        )
        .orderBy("dow", "hour")
    )


@query(
    "q_zipf_slope",
    oracle=r"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        AS token
      FROM documents
    ), freq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY token
    ), ranked AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY f DESC, token ASC)
                  AS BIGINT) AS r, f
      FROM freq
    ), pts AS (
      SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1000000)
                  AS BIGINT) AS x6,
             CAST(round(ln(CAST(f AS DOUBLE)) * 1000000)
                  AS BIGINT) AS y6
      FROM ranked
    ), m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CAST(x6 AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(y6 AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x6 AS HUGEINT) * x6) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(x6 AS HUGEINT) * y6) AS HUGEINT) AS sxy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_types,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope
    FROM m
    """,
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus: OLS slope of log-frequency vs
    log-rank over the full vocabulary (natural text ≈ −1; synthetic
    or templated corpora deviate — a generation-quality diagnostic).
    Log points are rounded to 12 decimals then DECIMAL-summed (the
    transcendental recipe); the slope is a ratio of exact decimal
    determinants. Rank order is total (freq desc, token asc) so ties
    rank identically in both engines; ranking is the distributed
    two-pass row number (operators/rank.py) over the vocabulary
    frame — no single-partition window at any vocab size."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(
            F.explode(
                F.split(F.trim(F.lower("text")), r"\s+")
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    from babylon_data_loader_spark.operators.rank import (
        with_global_row_number,
    )

    ranked = with_global_row_number(
        freq, [F.col("f").desc(), F.col("token").asc()], "r"
    ).select("r", "f")
    # log points quantized to EXACT integer e6 units per row, so
    # every moment and both determinants are pure integer/DECIMAL
    # arithmetic with ONE IEEE division at the end (decimal products
    # reduce scale differently across engines; round(x, 6) of the
    # rational quotient was the half-way build hazard). The e6 grid —
    # not e12 — keeps the cross determinants inside 38 digits out to
    # ~1e9 vocabulary types: at e12 the sx*sy product crosses 1e38
    # (DECIMAL(38,0)/HUGEINT overflow) near a 1e6-type vocabulary,
    # i.e. well inside the design scale.
    pts = ranked.select(
        F.round(F.log(F.col("r").cast("double")) * F.lit(1.0e6))
        .cast("decimal(20,0)")
        .alias("x6"),
        F.round(F.log(F.col("f").cast("double")) * F.lit(1.0e6))
        .cast("decimal(20,0)")
        .alias("y6"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n"),
        F.sum("x6").cast("decimal(38,0)").alias("sx"),
        F.sum("y6").cast("decimal(38,0)").alias("sy"),
        F.sum(
            (F.col("x6") * F.col("x6")).cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("sxx"),
        F.sum(
            (F.col("x6") * F.col("y6")).cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("sxy"),
    )
    n = F.col("n")
    zipf_num = (
        n * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double")
    zipf_den = (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    return m.select(
        n.cast("long").alias("n_types"),
        (zipf_num / zipf_den).alias("zipf_slope"),
    )


@query(
    "q_vocab_growth",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)),
                                                  '\s+')) AS token
      FROM documents
    ), firsts AS (
      SELECT token, MIN(doc_id) AS first_doc FROM toks GROUP BY token
    ), doc_tokens AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt
      FROM toks GROUP BY doc_id
    ), buckets AS (
      SELECT (doc_id // 100) AS bucket,
             CAST(SUM(nt) AS BIGINT) AS tokens_in_bucket
      FROM doc_tokens GROUP BY 1
    ), new_types AS (
      SELECT (first_doc // 100) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS new_types
      FROM firsts GROUP BY 1
    )
    SELECT CAST(b.bucket AS BIGINT) AS bucket,
           CAST(SUM(b.tokens_in_bucket) OVER (ORDER BY b.bucket)
                AS BIGINT) AS cum_tokens,
           CAST(SUM(COALESCE(n.new_types, 0)) OVER (ORDER BY b.bucket)
                AS BIGINT) AS cum_vocab
    FROM buckets b LEFT JOIN new_types n ON n.bucket = b.bucket
    ORDER BY bucket
    """,
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law curve: vocabulary size vs cumulative token volume at
    100-document checkpoints — the corpus-scaling diagnostic that says
    whether more data still buys new vocabulary. The same first-seen
    reduction as q_cumulative_uniques (a type's first document, one
    groupBy) makes the expanding distinct count exact and cheap: two
    O(buckets) running sums, never a rescan per checkpoint."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias(
            "token"
        ),
    )
    from babylon_data_loader_spark.functions.cache import persist_tracked

    toks = persist_tracked(toks)
    firsts = toks.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    buckets = (
        toks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nt"))
        .groupBy(
            F.floor(F.col("doc_id") / 100).cast("long").alias("bucket")
        )
        .agg(F.sum("nt").alias("tokens_in_bucket"))
    )
    new_types = firsts.groupBy(
        F.floor(F.col("first_doc") / 100).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("new_types"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        buckets.join(F.broadcast(new_types), "bucket", "left")
        .select(
            "bucket",
            F.sum("tokens_in_bucket").over(w).cast("long").alias(
                "cum_tokens"
            ),
            F.sum(F.coalesce("new_types", F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cum_vocab"),
        )
        .orderBy("bucket")
    )


@query(
    "q_degree_distribution",
    oracle="""
    WITH ok_orders AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING COUNT(DISTINCT l_partkey) BETWEEN 2 AND 10
    ), op AS (
      SELECT DISTINCT l.l_orderkey, l.l_partkey
      FROM lineitem l JOIN ok_orders USING (l_orderkey)
    ), e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
      ) GROUP BY node
    )
    SELECT CAST(floor(ln(CAST(d AS DOUBLE)) / ln(2)) AS BIGINT)
             AS log2_bin,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(d) AS BIGINT) AS min_degree,
           CAST(MAX(d) AS BIGINT) AS max_degree
    FROM deg GROUP BY 1 ORDER BY log2_bin
    """,
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-binned degree distribution of the co-purchase graph — the
    first thing to look at before ANY graph algorithm (it decides
    whether the degree-ordered triangle orientation and the PageRank
    basket cap actually matter). Degrees are exact integer counts;
    the log2 bin of an integer is engine-exact (floor of a
    transcendental applied to identical doubles, away from bin
    boundaries by construction since degrees are integers and
    ln(d)/ln(2) hits an integer only at exact powers of two, where
    both engines compute the same double). O(nodes) output collapsed
    to O(log max-degree) rows."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    ok = (
        op.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("np"))
        .filter(F.col("np").between(2, 10))
        .select("l_orderkey")
    )
    op2 = op.join(ok, "l_orderkey")
    a = op2.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = op2.select("l_orderkey", F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    bin_ = F.floor(
        F.log(F.col("d").cast("double")) / F.log(F.lit(2.0))
    ).cast("long")
    return (
        deg.groupBy(bin_.alias("log2_bin"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("d").cast("long").alias("min_degree"),
            F.max("d").cast("long").alias("max_degree"),
        )
        .orderBy("log2_bin")
    )


# Readability / distinctive terms / ABC / inter-arrival ------------------------


@query(
    "q_readability",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+'))
                  AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS n_syll,
             CAST(len(regexp_extract_all(text, '[.!?]')) + 1
                  AS BIGINT) AS n_sents
      FROM documents
    )
    SELECT doc_id, n_words, n_syll, n_sents,
           round(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                 - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 6)
             AS flesch
    FROM d WHERE n_words > 0 ORDER BY doc_id
    """,
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with vowel-group syllable
    approximation — the readability gate a curation pipeline runs
    next to the Gopher heuristics (q_repetition_filter): telegraphic
    or run-on machine text scores far from natural prose. All three
    inputs are integer regexp counts (vowel groups, sentence enders,
    words), so the formula operates on identical doubles in both
    engines — one rounded expression per row, zero cross-row floats."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    n_syll = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(r"[aeiouy]+"), F.lit(0))
    ).cast("long")
    n_sents = (
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]"), F.lit(0))
        )
        + 1
    ).cast("long")
    d = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_syll.alias("n_syll"),
        n_sents.alias("n_sents"),
    ).filter(F.col("n_words") > 0)
    flesch = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words").cast("double") / F.col("n_sents"))
        - F.lit(84.6)
        * (F.col("n_syll").cast("double") / F.col("n_words"))
    )
    return d.select(
        "doc_id",
        "n_words",
        "n_syll",
        "n_sents",
        F.round(flesch, 6).alias("flesch"),
    ).orderBy("doc_id")


@query(
    "q_distinctive_terms",
    oracle=r"""
    WITH toks AS (
      SELECT source, unnest(regexp_split_to_array(trim(lower(text)),
                                                  '\s+')) AS token
      FROM documents
    ), cnt AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2
    ), tok_tot AS (
      SELECT token, CAST(SUM(c) AS BIGINT) AS ct FROM cnt GROUP BY token
    ), src_tot AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS cs FROM cnt GROUP BY source
    ), grand AS (
      SELECT CAST(SUM(c) AS BIGINT) AS g FROM cnt
    ), scored AS (
      SELECT cnt.source, cnt.token,
             -- log-odds of the term in this source vs the rest,
             -- +1 smoothing keeps every ratio finite
             round(ln((CAST(cnt.c AS DOUBLE) + 1)
                      / (st.cs - cnt.c + 1))
                   - ln((CAST(tt.ct - cnt.c AS DOUBLE) + 1)
                        / (g.g - st.cs - (tt.ct - cnt.c) + 1)), 9)
               AS log_odds
      FROM cnt
      JOIN tok_tot tt ON tt.token = cnt.token
      JOIN src_tot st ON st.source = cnt.source
      CROSS JOIN grand g
    )
    SELECT source, token, log_odds FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY log_odds DESC, token ASC) <= 3
    ORDER BY source, log_odds DESC, token
    """,
)
def q_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most DISTINCTIVE terms per source by smoothed log-odds
    (term frequency in this source vs everywhere else) — the
    corpus-exploration answer to 'what makes src7 different?', and
    the statistic behind weighted-log-odds keyword extraction. Every
    ratio is built from exact integer counts with +1 smoothing (no
    zero divisions, finite everywhere); the per-source top-3 has a
    full deterministic tiebreak. One token-level shuffle; marginals
    broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            "source",
            F.explode(
                F.split(F.trim(F.lower("text")), r"\s+")
            ).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from babylon_data_loader_spark.functions.cache import persist_tracked

    cnt = persist_tracked(cnt)
    tok_tot = cnt.groupBy("token").agg(F.sum("c").alias("ct"))
    src_tot = cnt.groupBy("source").agg(F.sum("c").alias("cs"))
    grand = cnt.agg(F.sum("c").alias("g"))
    scored = (
        cnt.join(tok_tot, "token")
        .join(F.broadcast(src_tot), "source")
        .join(F.broadcast(grand))
        .select(
            "source",
            "token",
            F.round(
                F.log(
                    (F.col("c").cast("double") + 1)
                    / (F.col("cs") - F.col("c") + 1)
                )
                - F.log(
                    ((F.col("ct") - F.col("c")).cast("double") + 1)
                    / (
                        F.col("g")
                        - F.col("cs")
                        - (F.col("ct") - F.col("c"))
                        + 1
                    )
                ),
                9,
            ).alias("log_odds"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("log_odds").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
        .orderBy("source", F.col("log_odds").desc(), "token")
    )


@query(
    "q_abc_classification",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT x,
             SUM(x) OVER (ORDER BY x DESC, o_custkey) AS cum,
             SUM(x) OVER () AS total
      FROM spend
    ), classed AS (
      SELECT x,
             CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE)
                       <= 0.8 THEN 'A'
                  WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE)
                       <= 0.95 THEN 'B'
                  ELSE 'C' END AS klass
      FROM ranked
    )
    SELECT klass, CAST(COUNT(*) AS BIGINT) AS n_customers,
           round(CAST(SUM(x) AS DOUBLE), 2) AS revenue
    FROM classed GROUP BY klass ORDER BY klass
    """,
)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of customers: ranked by spend, the
    customers covering the first 80% of cumulative revenue are class
    A, to 95% class B, the tail C — Gini's (q_gini) actionable
    counterpart. The cumulative sum runs in exact DECIMAL under a
    TOTAL order (spend desc, custkey) through the distributed
    prefix-scan operator (operators/rank.py::running_totals — range
    repartition + per-partition running sums + broadcast decimal
    offsets), so every class boundary is a comparison of
    engine-identical doubles derived from exact decimals; the census
    output is three rows. No single-partition window."""
    from babylon_data_loader_spark.operators.rank import running_totals

    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
        )
    )
    cum = running_totals(
        spend,
        [F.col("x").desc(), F.col("o_custkey").asc()],
        {"cum": F.col("x")},
    )
    total = spend.agg(F.sum("x").alias("total"))
    ranked = cum.join(F.broadcast(total)).select("x", "cum", "total")
    share = F.col("cum").cast("double") / F.col("total").cast("double")
    klass = (
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C")
    )
    return (
        ranked.select("x", klass.alias("klass"))
        .groupBy("klass")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("x").cast("double"), 2).alias("revenue"),
        )
        .orderBy("klass")
    )


@query(
    "q_interarrival_dist",
    oracle="""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS us, event_id
      FROM events WHERE ts IS NOT NULL
    ), gaps AS (
      SELECT us - LAG(us) OVER (PARTITION BY user_id
                                ORDER BY us, event_id) AS gap_us
      FROM ev
    ), g AS (SELECT gap_us FROM gaps WHERE gap_us IS NOT NULL
                                      AND gap_us > 0)
    SELECT CAST(floor(ln(CAST(gap_us AS DOUBLE) / 1000000.0)
                      / ln(10)) AS BIGINT) AS log10_sec_bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(gap_us) AS BIGINT) AS min_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_us
    FROM g GROUP BY 1 ORDER BY log10_sec_bin
    """,
)
def q_interarrival_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per user stream, log10-binned
    in seconds — the burstiness fingerprint (a Poisson process is one
    straight band; humans are bursty) and the input to any session-gap
    threshold choice (q_sessionize's 30-minute cut should sit in the
    valley of this histogram). Gaps are exact integer micros from one
    LAG over the user timeline; binning applies a transcendental to
    identical doubles with integer-measure inputs. Zero-gaps
    (same-instant events) are excluded from the log binning."""
    ev_raw = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        event_ts_us(ev_raw), F.col("event_id")
    )
    gaps = ev_raw.filter(F.col("ts").isNotNull()).select(
        (event_ts_us(ev_raw) - F.lag(event_ts_us(ev_raw)).over(w)).alias(
            "gap_us"
        )
    ).filter(F.col("gap_us").isNotNull() & (F.col("gap_us") > 0))
    bin_ = F.floor(
        F.log(F.col("gap_us").cast("double") / F.lit(1_000_000.0))
        / F.log(F.lit(10.0))
    ).cast("long")
    return (
        gaps.groupBy(bin_.alias("log10_sec_bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("gap_us").cast("long").alias("min_us"),
            F.max("gap_us").cast("long").alias("max_us"),
        )
        .orderBy("log10_sec_bin")
    )


# Changepoint / entropy rate ---------------------------------------------------


@query(
    "q_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s
      FROM daily
    ), cusum AS (
      -- scaled CUSUM: n*Σ_{i<=k}(c_i) - k-prefix count * total stays
      -- INTEGER (avoids the fractional mean); argmax is unchanged
      SELECT day,
             CAST(m.n * SUM(c) OVER (ORDER BY day)
                  - (ROW_NUMBER() OVER (ORDER BY day)) * m.s
               AS BIGINT) AS cu
      FROM daily, m
    )
    SELECT day AS changepoint_day,
           cu AS cusum_scaled,
           (SELECT CAST(MAX(abs(cu)) AS BIGINT) FROM cusum) AS max_abs
    FROM cusum
    WHERE abs(cu) = (SELECT MAX(abs(cu)) FROM cusum)
    ORDER BY day LIMIT 1
    """,
)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM changepoint over the daily event-count series:
    the day where the cumulative deviation from the global mean peaks
    — the first answer to 'when did traffic change?'. Exactness
    trick: the CUSUM is SCALED by n (n·prefix_sum − k·total), which
    keeps every value an integer — no fractional mean, no float
    accumulation — so the argmax (earliest day on ties) is
    engine-exact. One O(days) window after the daily aggregate."""
    ev_raw = load_table(spark, sf_dir, "events")
    daily = (
        ev_raw.filter(F.col("ts").isNotNull())
        .select(
            F.floor(event_ts_us(ev_raw) / F.lit(86_400_000_000))
            .cast("long")
            .alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from babylon_data_loader_spark.functions.cache import persist_tracked

    daily = persist_tracked(daily)
    m = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("s")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cusum = (
        daily.join(F.broadcast(m))
        .select(
            "day",
            (
                F.col("n") * F.sum("c").over(w)
                - F.row_number().over(Window.orderBy("day")) * F.col("s")
            )
            .cast("long")
            .alias("cu"),
        )
    )
    cusum = persist_tracked(cusum)
    mx = cusum.agg(F.max(F.abs("cu")).alias("max_abs"))
    return (
        cusum.join(F.broadcast(mx))
        .filter(F.abs("cu") == F.col("max_abs"))
        .select(
            F.col("day").alias("changepoint_day"),
            F.col("cu").alias("cusum_scaled"),
            F.col("max_abs").cast("long").alias("max_abs"),
        )
        .orderBy("changepoint_day")
        .limit(1)
    )


@query(
    "q_entropy_rate",
    oracle="""
    WITH ordered AS (
      SELECT event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id)
               AS next_type
      FROM events
    ), pairs AS (
      SELECT event_type AS a, next_type AS b, CAST(COUNT(*) AS BIGINT)
        AS c
      FROM ordered WHERE next_type IS NOT NULL GROUP BY 1, 2
    ), marg AS (
      SELECT a, CAST(SUM(c) AS BIGINT) AS ca FROM pairs GROUP BY a
    ), tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS t FROM pairs
    ), terms AS (
      SELECT CAST(round(
               -(CAST(p.c AS DOUBLE) / tot.t)
               * ln(CAST(p.c AS DOUBLE) / marg.ca), 12)
             AS DECIMAL(28,12)) AS term
      FROM pairs p JOIN marg ON marg.a = p.a CROSS JOIN tot
    )
    SELECT (SELECT CAST(t AS BIGINT) FROM tot) AS n_transitions,
           CAST(CAST(SUM(term) * 1000000000000 AS HUGEINT) AS DOUBLE)
             / 1000000000000.0 AS entropy_rate_nats
    FROM terms
    """,
)
def q_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the event-type process, H(next | current) =
    −Σ p(a,b)·ln p(b|a) — how predictable the next user action is
    given the current one (0 = deterministic flows, ln|types| =
    uniform). The information-theoretic summary OF the Markov matrix
    (q_markov_transitions): same LEAD pairing, same integer counts,
    each transcendental term rounded then DECIMAL-summed. One user_id
    shuffle; the |types|² term table is metadata-sized."""
    ev_raw = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        event_ts_us(ev_raw), F.col("event_id")
    )
    pairs = (
        ev_raw.select(
            F.col("event_type").alias("a"),
            F.lead("event_type").over(w).alias("b"),
        )
        .filter(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from babylon_data_loader_spark.functions.cache import persist_tracked

    pairs = persist_tracked(pairs)
    marg = pairs.groupBy("a").agg(F.sum("c").alias("ca"))
    tot = pairs.agg(F.sum("c").alias("t"))
    terms = (
        pairs.join(F.broadcast(marg), "a")
        .join(F.broadcast(tot))
        .select(
            F.round(
                -(F.col("c").cast("double") / F.col("t"))
                * F.log(F.col("c").cast("double") / F.col("ca")),
                12,
            )
            .cast("decimal(28,12)")
            .alias("term"),
            "t",
        )
    )
    return terms.groupBy("t").agg(
        grid_sum(F.col("term"), 12).alias(
            "entropy_rate_nats"
        )
    ).select(
        F.col("t").cast("long").alias("n_transitions"),
        "entropy_rate_nats",
    )


# Duplicate provenance ---------------------------------------------------------


@query(
    "q_dup_burden_by_source",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, source,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
               AS h
      FROM documents
    ), ranked AS (
      SELECT source,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_redundant,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_burden
    FROM ranked GROUP BY source ORDER BY source
    """,
)
def q_dup_burden_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which source PAYS the duplicate tax: per source, the fraction
    of its documents that are redundant copies (non-first members of
    a normalized-hash group, first = lowest doc_id — the exact-dedup
    survivor rule). The curation budget question 'which feed should we
    fix upstream?' answered from one hash shuffle + one group-ranked
    window."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        F.md5(
            F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ").cast(
                "binary"
            )
        ).alias("h"),
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    ranked = d.select(
        "source", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias(
                "n_redundant"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_redundant",
            (
                F.col("n_redundant").cast("double") / F.col("n_docs")
            ).alias("dup_burden"),
        )
        .orderBy("source")
    )


@query(
    "q_cross_source_leakage",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, source,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
               AS h
      FROM documents
    ), pairs AS (
      SELECT a.source AS src_a, b.source AS src_b
      FROM d a JOIN d b ON a.h = b.h AND a.doc_id < b.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
           CAST(SUM(CASE WHEN src_a = src_b THEN 1 ELSE 0 END)
                AS BIGINT) AS within_source,
           CAST(SUM(CASE WHEN src_a <> src_b THEN 1 ELSE 0 END)
                AS BIGINT) AS cross_source,
           CAST(SUM(CASE WHEN src_a <> src_b THEN 1 ELSE 0 END)
                AS DOUBLE)
             / GREATEST(COUNT(*), 1) AS cross_share
    FROM pairs
    """,
)
def q_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do duplicates stay INSIDE a feed or leak ACROSS feeds?
    Within-source dup pairs are a feed hygiene problem; CROSS-source
    pairs are syndication/scrape overlap — the case that silently
    defeats per-source dedup and biases any source-stratified split
    (a doc and its twin can land in train AND eval). Pairs join on
    the normalized hash only (each hash group is tiny after exact
    dedup accounting), so the self-join is bucket-bounded, never
    all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        F.md5(
            F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ").cast(
                "binary"
            )
        ).alias("h"),
    )
    from babylon_data_loader_spark.functions.cache import persist_tracked

    d = persist_tracked(d)
    a = d.select("h", F.col("doc_id").alias("ida"), F.col("source").alias("src_a"))
    b = d.select("h", F.col("doc_id").alias("idb"), F.col("source").alias("src_b"))
    pairs = a.join(b, "h").filter(F.col("ida") < F.col("idb"))
    return pairs.agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.sum(
            F.when(F.col("src_a") == F.col("src_b"), 1).otherwise(0)
        ).alias("within_source"),
        F.sum(
            F.when(F.col("src_a") != F.col("src_b"), 1).otherwise(0)
        ).alias("cross_source"),
    ).select(
        "n_dup_pairs",
        "within_source",
        "cross_source",
        (
            F.col("cross_source").cast("double")
            / F.greatest(F.col("n_dup_pairs"), F.lit(1)).cast("double")
        ).alias("cross_share"),
    )


# Survival analysis / forecast evaluation --------------------------------------


@query(
    "q_kaplan_meier",
    oracle="""
    WITH spans AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS tp,
             MAX(epoch_us(ts)) AS tmax
      FROM events GROUP BY user_id
    ), subjects AS (
      -- duration to first purchase after first view; users who never
      -- purchase are right-CENSORED at their last observed event
      SELECT CASE WHEN tp IS NOT NULL AND tp >= t0
                  THEN (tp - t0) // 3600000000
                  ELSE (tmax - t0) // 3600000000 END AS dur_h,
             CASE WHEN tp IS NOT NULL AND tp >= t0 THEN 1 ELSE 0 END
               AS observed
      FROM spans WHERE t0 IS NOT NULL
    ), times AS (
      SELECT dur_h, CAST(SUM(observed) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM subjects GROUP BY dur_h
    ), risk AS (
      SELECT dur_h, d,
             CAST(SUM(leaving) OVER (ORDER BY dur_h DESC) AS BIGINT)
               AS n_at_risk
      FROM times
    ), km AS (
      SELECT dur_h, d, n_at_risk,
             exp(SUM(CAST(round(ln(1.0 - CAST(d AS DOUBLE) / n_at_risk),
                                12) AS DECIMAL(28,12)))
                 OVER (ORDER BY dur_h)) AS s_raw
      FROM risk WHERE d > 0 AND d < n_at_risk
    )
    SELECT CAST(dur_h AS BIGINT) AS dur_h, d, n_at_risk,
           round(CAST(s_raw AS DOUBLE), 9) AS survival
    FROM km ORDER BY dur_h
    """,
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-first-purchase (hours
    after first view), with users who never purchase right-CENSORED
    at their last event — the estimator that makes 'median time to
    convert' honest when many subjects haven't converted yet (naive
    averages over converters only are biased low). Determinism for a
    PRODUCT estimator: each factor ln(1 − dᵢ/nᵢ) is computed from
    exact integer death/at-risk counts, rounded to 12 decimals,
    DECIMAL-summed cumulatively, then exponentiated once — the
    multiplicative twin of the rounded-term sum recipe. Risk sets
    come from one descending cumulative sum; steps where d = n (the
    final full-death step, survival 0, log undefined) are excluded
    like every standard implementation's curve tail."""
    ev_raw = load_table(spark, sf_dir, "events")
    us = event_ts_us(ev_raw)
    spans = ev_raw.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("tp"),
        F.max(us).alias("tmax"),
    )
    observed = F.col("tp").isNotNull() & (F.col("tp") >= F.col("t0"))
    subjects = spans.filter(F.col("t0").isNotNull()).select(
        F.when(
            observed,
            F.floor((F.col("tp") - F.col("t0")) / F.lit(3_600_000_000)),
        )
        .otherwise(
            F.floor((F.col("tmax") - F.col("t0")) / F.lit(3_600_000_000))
        )
        .cast("long")
        .alias("dur_h"),
        F.when(observed, 1).otherwise(0).alias("observed"),
    )
    times = subjects.groupBy("dur_h").agg(
        F.sum("observed").alias("d"),
        F.count(F.lit(1)).alias("leaving"),
    )
    # Both cumulative passes (reverse risk-set count, forward log-sum)
    # run through the distributed prefix scan (operators/rank.py):
    # dur_h is the group key, hence a total order in both directions.
    from babylon_data_loader_spark.operators.rank import running_totals

    risk = (
        running_totals(
            times,
            [F.col("dur_h").desc()],
            {"n_at_risk": F.col("leaving")},
        )
        .select(
            "dur_h",
            "d",
            F.col("n_at_risk").cast("long").alias("n_at_risk"),
        )
        .filter((F.col("d") > 0) & (F.col("d") < F.col("n_at_risk")))
    )
    log_term = (
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("d").cast("double") / F.col("n_at_risk")
            ),
            12,
        )
    ).cast("decimal(28,12)")
    cum = running_totals(
        risk.withColumn("lt", log_term),
        [F.col("dur_h").asc()],
        {"cum_log": F.col("lt")},
    )
    return cum.select(
        "dur_h",
        "d",
        "n_at_risk",
        F.round(F.exp(F.col("cum_log").cast("double")), 9).alias(
            "survival"
        ),
    ).orderBy("dur_h")


@query(
    "q_forecast_eval",
    oracle="""
    WITH daily AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), paired AS (
      SELECT c AS actual,
             LAG(c) OVER (ORDER BY day) AS forecast
      FROM daily
    ), e AS (
      SELECT actual, forecast, abs(actual - forecast) AS ae
      FROM paired WHERE forecast IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(ae) AS DOUBLE) / COUNT(*) AS mae,
           CAST(SUM(CAST(ae AS HUGEINT) * 1000000000000 // actual)
                AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 1000000000000.0) AS mape
    FROM e
    """,
)
def q_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-evaluation metrics for the naive (persistence)
    baseline — forecast(t) = actual(t−1) over daily counts: the MAE /
    MAPE floor every real forecasting model must beat before it earns
    cluster time. Absolute errors are exact integers (MAE is an
    integer ratio); per-day percentage errors are rounded then
    DECIMAL-summed. One LAG over O(days) rows."""
    ev_raw = load_table(spark, sf_dir, "events")
    daily = (
        ev_raw.filter(F.col("ts").isNotNull())
        .select(
            F.floor(event_ts_us(ev_raw) / F.lit(86_400_000_000))
            .cast("long")
            .alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy("day")
    paired = daily.select(
        F.col("c").alias("actual"),
        F.lag("c").over(w).alias("forecast"),
    ).filter(F.col("forecast").isNotNull())
    ae = F.abs(F.col("actual") - F.col("forecast"))
    # per-day percentage errors quantized by pure INTEGER division
    # (ae*1e12 div actual), integer-summed, one final IEEE division —
    # round(x, 12) per day was the half-way build hazard
    pe12 = F.expr(
        "CAST(abs(actual - forecast) AS DECIMAL(38,0)) "
        "* 1000000000000 div actual"
    )
    return paired.agg(
        F.count(F.lit(1)).alias("n_days"),
        (F.sum(ae).cast("double") / F.count(F.lit(1))).alias("mae"),
        (
            F.sum(pe12).cast("double")
            / (
                F.count(F.lit(1)).cast("double")
                * F.lit(1000000000000.0)
            )
        ).alias("mape"),
    )


@query(
    "q_lorenz_points",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders GROUP BY o_custkey
    ), binned AS (
      SELECT x, NTILE(10) OVER (ORDER BY x, o_custkey) AS decile
      FROM spend
    ), per AS (
      SELECT decile, SUM(x) AS s, CAST(COUNT(*) AS BIGINT) AS n
      FROM binned GROUP BY decile
    )
    SELECT CAST(decile AS BIGINT) AS decile, n,
           CAST(CAST(SUM(s) OVER (ORDER BY decile) * 100 AS HUGEINT)
                AS DOUBLE)
             / CAST(CAST((SELECT SUM(s) FROM per) * 100 AS HUGEINT)
                    AS DOUBLE) AS cum_share
    FROM per ORDER BY decile
    """,
)
def q_lorenz_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve points: cumulative spend share held by each
    customer decile (poorest first) — the curve whose area deficit IS
    q_gini and whose top-end thresholds ARE q_abc_classification;
    together the three give the full inequality picture. Deciles come
    from the distributed two-pass NTILE (operators/rank.py) over the
    entity-scale spend frame; the only window left is the O(10)
    running sum over the DECILE table — a fixed-size frame, on the
    plan-audit allowlist."""
    from babylon_data_loader_spark.operators.rank import with_global_ntile

    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
        )
    )
    binned = with_global_ntile(
        spend,
        [F.col("x").asc(), F.col("o_custkey").asc()],
        10,
        "decile",
    ).select("x", "decile")
    per = binned.groupBy("decile").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
    )
    from babylon_data_loader_spark.functions.cache import persist_tracked

    per = persist_tracked(per)
    tot = per.agg(F.sum("s").alias("t"))
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per.join(F.broadcast(tot))
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n",
            (
                (F.sum("s").over(w) * 100)
                .cast("decimal(38,0)")
                .cast("double")
                / (F.col("t") * 100)
                .cast("decimal(38,0)")
                .cast("double")
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )

"""Robust / nonparametric statistics family (round-3 session 5).

The reference (postrack.go, a 413-line CDC client) has no analytics
surface; these queries extend the engine's exact-statistics family
(SURVEY §2b "stats/percentile" rows) with the classical distribution
comparisons an analyst reaches for next: inequality (Lorenz curve),
monotone-trend testing (Mann-Kendall), and k-sample rank comparison
(Kruskal-Wallis). House rules apply throughout: integer moments for
anything summed across partitions, rank statistics via
operators/ranking (zero unpartitioned windows), and any final float
assembled in ONE identically-shaped correctly-rounded double
expression floored to ppm so the DuckDB oracle hash-matches
bit-for-bit (the events_ab_welch_ttest pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from postrack_spark.queries.registry import query
from postrack_spark.session import load_tables


@query(
    "agg_lorenz_curve",
    oracle="""
    WITH c AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    b AS (
      SELECT rev, ntile(10) OVER (ORDER BY rev, o_custkey) AS bucket FROM c
    ),
    g AS (
      SELECT CAST(bucket AS INT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(rev) AS BIGINT) AS bucket_cents
      FROM b GROUP BY 1
    ),
    t AS (SELECT CAST(sum(bucket_cents) AS BIGINT) AS tot FROM g)
    SELECT g.bucket, g.n_customers, g.bucket_cents,
           CAST((SELECT sum(h.bucket_cents) FROM g h WHERE h.bucket <= g.bucket)
                AS BIGINT) AS cum_cents,
           CAST((SELECT sum(h.bucket_cents) FROM g h WHERE h.bucket <= g.bucket)
                * 10000 // t.tot AS BIGINT) AS cum_share_pp10k
    FROM g, t
    """,
)
def agg_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve — the decile-resolution companion to the
    agg_gini_exact scalar: cumulative revenue share of the poorest
    10%..100% of customers, the curve whose area defect IS the Gini.
    Deciles come from operators/ranking.exact_ntile over the
    per-customer aggregate (range shuffle, zero WindowExec; groupBy
    consumers of the rank value are the documented-safe shape), the
    cumulative sums from a 10x10 broadcast self-join on the bucket
    frame (bucket count is a constant, never data-sized), and shares
    are integer pp10k (positive, so Spark DIV truncation == DuckDB //
    flooring). Scale: one shuffle for the customer aggregate + one
    range exchange; everything after is a 10-row frame."""
    from postrack_spark.operators.ranking import exact_ntile

    rev = (
        load_tables(spark, sf_dir)["orders"]
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    bucketed = exact_ntile(rev, 10, ["rev", "o_custkey"], "bucket")
    # pinned: h/cum/tot all reference this aggregate — localCheckpoint
    # keeps the ranking subplan single-execution (ranking.py CONSUMER
    # WARNING; the orders_sequence_gap_audit discipline)
    g = (
        bucketed.groupBy(F.col("bucket").cast("int").alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("rev").cast("long").alias("bucket_cents"),
        )
        .localCheckpoint()
    )
    h = g.select(
        F.col("bucket").alias("hb"), F.col("bucket_cents").alias("hc")
    )
    cum = (
        g.join(F.broadcast(h), F.col("hb") <= F.col("bucket"))
        .groupBy("bucket", "n_customers", "bucket_cents")
        .agg(F.sum("hc").cast("long").alias("cum_cents"))
    )
    tot = g.agg(F.sum("bucket_cents").cast("long").alias("tot"))
    return cum.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_customers",
        "bucket_cents",
        "cum_cents",
        F.expr("CAST(cum_cents * 10000 DIV tot AS BIGINT)").alias("cum_share_pp10k"),
    )


@query(
    "events_mann_kendall_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.c > a.c THEN 1
                           WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.d > a.d
      GROUP BY 1
    ),
    nd AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1
    ),
    ties AS (
      SELECT event_type,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
      FROM (SELECT event_type, c, CAST(count(*) AS BIGINT) AS t
            FROM daily GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT nd.event_type, nd.n_days, s.s_stat,
           CAST(nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5) - ties.tie18
                AS BIGINT) AS varnum18,
           CASE WHEN s.s_stat = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(1000000.0
                         * CAST(CASE WHEN s.s_stat > 0 THEN s.s_stat - 1
                                     ELSE s.s_stat + 1 END AS DOUBLE)
                         / sqrt(CAST(nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
                                     - ties.tie18 AS DOUBLE) / 18.0)) AS BIGINT)
           END AS z_ppm
    FROM nd JOIN s USING (event_type) JOIN ties USING (event_type)
    """,
)
def events_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test per event type — the
    nonparametric sibling of events_trend_regression (OLS) and
    agg_theil_sen_trend (the slope this test decides the significance
    of). S = Σ sign(c_j − c_i) over ordered day pairs, the tie-aware
    normal-approximation variance 18·Var = n(n−1)(2n+5) − Σt(t−1)(2t+5),
    and the continuity-corrected Z floored to ppm in one
    IEEE-deterministic expression. The pair frame is CALENDAR-bounded
    (days² per type, not data-sized — the agg_theil_sen_trend
    argument), so the self-join broadcasts its right side; everything
    before it is one map-side-combined daily aggregate. All-tied
    series have S = 0 and take the CASE arm, so the sqrt is never
    evaluated on a zero variance."""
    from postrack_spark.operators.stats import mann_kendall

    daily = (
        load_tables(spark, sf_dir)["events"]
        .select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count("*").cast("long").alias("c"))
    )
    return mann_kendall(daily, "event_type", "d", "c")


@query(
    "agg_kruskal_wallis",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS prio,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    cells AS (
      SELECT prio, cents, CAST(count(*) AS BIGINT) AS n_pc
      FROM c GROUP BY 1, 2
    ),
    vals AS (
      SELECT cents, CAST(sum(n_pc) AS BIGINT) AS cnt FROM cells GROUP BY 1
    ),
    mid AS (
      SELECT cents, cnt,
             2 * CAST(coalesce(sum(cnt) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               + cnt + 1 AS mr2
      FROM vals
    ),
    grp AS (
      SELECT prio,
             CAST(sum(n_pc * mr2) AS BIGINT) AS r2,
             CAST(sum(n_pc) AS BIGINT) AS n_j
      FROM cells JOIN mid USING (cents) GROUP BY 1
    ),
    terms AS (
      SELECT CAST(sum(CAST(floor(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
                                 / (4.0 * CAST(n_j AS DOUBLE))) AS BIGINT))
                  AS BIGINT) AS hnum,
             CAST(count(*) AS BIGINT) AS n_groups
      FROM grp
    ),
    tie AS (
      SELECT CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_sum,
             CAST(sum(cnt) AS BIGINT) AS n_total
      FROM vals
    )
    SELECT tie.n_total, terms.n_groups, tie.tie_sum,
           CAST(floor(1000000.0
                * ((12.0 * CAST(terms.hnum AS DOUBLE)
                    / (CAST(tie.n_total AS DOUBLE) * (CAST(tie.n_total AS DOUBLE) + 1.0))
                    - 3.0 * (CAST(tie.n_total AS DOUBLE) + 1.0))
                   / (1.0 - CAST(tie.tie_sum AS DOUBLE)
                      / CAST(tie.n_total * tie.n_total * tie.n_total - tie.n_total
                             AS DOUBLE)))) AS BIGINT) AS h_ppm
    FROM terms, tie
    """,
)
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H — the k-sample generalization of the
    Mann-Whitney machinery behind quality_auc_exact: does order value
    differ across the 5 order priorities, by ranks? Midranks come
    from a distributed prefix sum over the DISTINCT-value frame
    (operators/ranking.prefix_sum_by_key — vocabulary-sized, range
    exchange, no unpartitioned window), doubled (mr2 = 2·cumBefore +
    t + 1) so ties stay integral. Per-group rank sums R2_j = Σ n·mr2
    are exact int64 (≤ n_j·(2N+1) ≈ 4.5e10 at sf0.1); each group's
    R_j²/n_j term is ONE IEEE double expression floored to int64
    BEFORE the cross-group sum (the BM25 floored-contribution trick —
    integer addition is associative, double addition is not), and H
    with the tie-correction divisor is assembled in one final
    identically-shaped expression floored to ppm. Headroom: the tie
    term Σ(t³−t) needs int64 — fine to ~2M fully-tied rows per value;
    coarsen value units past that (the agg_corr_exact rule)."""
    from postrack_spark.operators.stats import kruskal_wallis

    c = load_tables(spark, sf_dir)["orders"].select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return kruskal_wallis(c, "prio", "cents")


@query(
    "window_rolling_median_7d",
    oracle="""
    WITH daily AS (
      SELECT epoch_us(o_orderdate) // 86400000000 AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    win AS (
      SELECT a.d AS d, b.d AS db, b.y AS yb,
             row_number() OVER (PARTITION BY a.d ORDER BY b.y, b.d) AS rn,
             CAST(count(*) OVER (PARTITION BY a.d) AS BIGINT) AS n
      FROM daily a JOIN daily b ON b.d BETWEEN a.d - 6 AND a.d
    )
    SELECT d, max(n) AS n_window,
           CAST(sum(yb * CASE WHEN (n + 1) // 2 = (n + 2) // 2 THEN 2 ELSE 1 END)
                AS BIGINT) AS med2x_dollars
    FROM win
    WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
    GROUP BY d
    """,
)
def window_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling MEDIAN of daily order revenue — the
    robust twin of the moving average family (a median has no
    incremental frame update, so SQL's ROWS frame can't express it;
    engines that try buffer the window). Here the window relation is
    materialized explicitly as a calendar-bounded range self-join
    (≤7 rows per day, days² pairs total — the agg_theil_sen_trend
    argument) and the median is rank-selected with a PARTITIONED
    row_number (partition = output day, ≤7 rows per partition — never
    the single-task global window). med2x = the doubled median (sum
    of the two middle values when even), keeping the gate integer.
    Scale: the daily aggregate is the only data-sized pass."""
    from pyspark.sql import Window

    daily = (
        load_tables(spark, sf_dir)["orders"]
        .select(
            F.expr("unix_micros(o_orderdate) div 86400000000").alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("d")
        .agg(F.expr("CAST(sum(cents) DIV 100 AS BIGINT)").alias("y"))
    )
    b = daily.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    win = daily.select("d").join(
        F.broadcast(b),
        (F.col("db") >= F.col("d") - 6) & (F.col("db") <= F.col("d")),
    )
    w = Window.partitionBy("d").orderBy("yb", "db")
    ranked = win.select(
        "d",
        "yb",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("d")).cast("long").alias("n"),
    )
    return (
        ranked.filter(
            (F.col("rn") == F.expr("(n + 1) DIV 2"))
            | (F.col("rn") == F.expr("(n + 2) DIV 2"))
        )
        .groupBy("d")
        .agg(
            F.max("n").alias("n_window"),
            F.sum(
                F.col("yb")
                * F.expr("CASE WHEN (n + 1) DIV 2 = (n + 2) DIV 2 THEN 2 ELSE 1 END")
            )
            .cast("long")
            .alias("med2x_dollars"),
        )
    )


@query(
    "events_sequence_bigrams",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type, event_type AS next_type, user_id
      FROM seq WHERE prev_type IS NOT NULL
    ),
    t AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_total FROM events
    )
    SELECT prev_type, next_type,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT user_id) * 10000 // t.n_users_total AS BIGINT)
             AS support_pp10k
    FROM pairs, t
    GROUP BY prev_type, next_type, t.n_users_total
    """,
)
def events_sequence_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining at depth 2: which event-type
    transitions actually happen, how often, and for what share of the
    user base — the support table a PrefixSpan-style miner would seed
    from, and the raw counts behind events_markov_transitions (which
    normalizes per source state; this keeps corpus-level support).
    Adjacency comes from lag() over a PER-USER window (partitioned —
    never global); support is distinct-user counts in integer pp10k of
    the total user population. Scale: one shuffle to order each user's
    history + one pair aggregation over a types² result frame."""
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy(
        F.expr("unix_micros(ts)"), F.col("event_id")
    )
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    tot = ev.agg(F.count_distinct("user_id").cast("long").alias("n_users_total"))
    return (
        seq.crossJoin(F.broadcast(tot))
        .groupBy("prev_type", F.col("event_type").alias("next_type"), "n_users_total")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
        .select(
            "prev_type",
            "next_type",
            "n_occurrences",
            "n_users",
            F.expr("CAST(n_users * 10000 DIV n_users_total AS BIGINT)").alias(
                "support_pp10k"
            ),
        )
    )


@query(
    "events_conversion_latency_quartiles",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v_us,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us
      FROM events GROUP BY 1
    ),
    lat AS (
      SELECT user_id, CAST((p_us - v_us) // 1000000 AS BIGINT) AS lat_sec
      FROM firsts WHERE v_us IS NOT NULL AND p_us IS NOT NULL AND p_us > v_us
    ),
    ranked AS (
      SELECT lat_sec, row_number() OVER (ORDER BY lat_sec, user_id) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM lat
    )
    SELECT max(n) AS n_users,
           CAST(max(CASE WHEN rn = (1 * n + 3) // 4 THEN lat_sec END) AS BIGINT)
             AS q1_sec,
           CAST(max(CASE WHEN rn = (2 * n + 3) // 4 THEN lat_sec END) AS BIGINT)
             AS med_sec,
           CAST(max(CASE WHEN rn = (3 * n + 3) // 4 THEN lat_sec END) AS BIGINT)
             AS q3_sec
    FROM ranked
    WHERE rn = (1 * n + 3) // 4 OR rn = (2 * n + 3) // 4 OR rn = (3 * n + 3) // 4
    """,
)
def events_conversion_latency_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: quartiles of first-view → first-
    purchase latency across converting users — the funnel-health
    number next to events_ordered_funnel's stage counts. Latencies are
    integer seconds (epoch-micros difference floored — the documented
    epoch_us//1e6 convention, never a timestamp cast); the three
    quartiles are type-1 order statistics at ceil(k·n/4) selected via
    operators/ranking.global_row_number over the user-sized latency
    frame (range exchange, zero WindowExec — user counts are
    data-sized at 100 TB, so the global window the textbook query
    would use is exactly the single-task killer this avoids)."""
    from postrack_spark.operators.ranking import global_row_number

    ev = load_tables(spark, sf_dir)["events"]
    firsts = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.expr("unix_micros(ts)"))
        ).alias("v_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.expr("unix_micros(ts)"))
        ).alias("p_us"),
    )
    lat = firsts.filter(
        F.col("v_us").isNotNull()
        & F.col("p_us").isNotNull()
        & (F.col("p_us") > F.col("v_us"))
    ).select(
        "user_id",
        F.expr("CAST((p_us - v_us) DIV 1000000 AS BIGINT)").alias("lat_sec"),
    )
    ranked = global_row_number(lat, ["lat_sec", "user_id"])
    n = lat.agg(F.count("*").cast("long").alias("n"))
    picked = ranked.crossJoin(F.broadcast(n)).filter(
        (F.col("rn") == F.expr("(1 * n + 3) DIV 4"))
        | (F.col("rn") == F.expr("(2 * n + 3) DIV 4"))
        | (F.col("rn") == F.expr("(3 * n + 3) DIV 4"))
    )
    return picked.agg(
        F.max("n").alias("n_users"),
        F.max(F.when(F.col("rn") == F.expr("(1 * n + 3) DIV 4"), F.col("lat_sec")))
        .cast("long")
        .alias("q1_sec"),
        F.max(F.when(F.col("rn") == F.expr("(2 * n + 3) DIV 4"), F.col("lat_sec")))
        .cast("long")
        .alias("med_sec"),
        F.max(F.when(F.col("rn") == F.expr("(3 * n + 3) DIV 4"), F.col("lat_sec")))
        .cast("long")
        .alias("q3_sec"),
    )


QUANTIZE_MILLI_EXPR = (
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0)"
    " AS BIGINT))"
)
"""Milli-quantization of an embedding array — the vector family's
shared exactness grid (floor(x*1000), IEEE-identical in numpy and both
SQL engines). Every query pairing with a floor(embedding[i]*1000.0)
oracle MUST use this one string; a one-site edit desynchronizes the
rest (review finding)."""


def cms_bucket(r, k):
    """Portable CMS row-hash bucket: md5-derived (engine-portable),
    shared by cms_report, agg_count_min_sketch, and the streaming
    maintenance twin — all three MUST stay bit-identical (review
    finding)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(r.cast("string"), F.lit(":"), k)), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 256
    )


RICHNESS_ORACLE = """
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    freq AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(f) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 10000 // count(*)
                AS BIGINT) AS hapax_share_pp10k,
           CAST(count(*) * 10000 // sum(f) AS BIGINT) AS ttr_pp10k,
           CAST((sum(f * f) - sum(f)) * 10000000
                // (sum(f) * sum(f)) AS BIGINT) AS yule_k_milli
    FROM freq
    GROUP BY source
    """


def richness_from_freq(freq: DataFrame) -> DataFrame:
    """Per-source richness statistics from a (source, w, f) term-
    frequency relation — shared by the batch query and the streaming
    view twin so both are gated by the SAME oracle."""
    return freq.groupBy("source").agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).cast("long").alias("n_hapax"),
        F.expr(
            "CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 10000"
            " DIV count(*) AS BIGINT)"
        ).alias("hapax_share_pp10k"),
        F.expr("CAST(count(*) * 10000 DIV sum(f) AS BIGINT)").alias("ttr_pp10k"),
        F.expr(
            "CAST((sum(f * f) - sum(f)) * 10000000"
            " DIV (sum(f) * sum(f)) AS BIGINT)"
        ).alias("yule_k_milli"),
    )


@query("text_vocabulary_richness", oracle=RICHNESS_ORACLE)
def text_vocabulary_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary-richness profile — the corpus-health
    numbers a data curator reads next to text_corpus_token_freq's Zipf
    head: token/type totals, hapax legomena (words seen once — the
    long tail LLM tokenizers choke on), type-token ratio, and Yule's K
    (the length-robust repetitiveness characteristic, K = 10⁴·(Σf² −
    N)/N²). Every statistic is an integer rational (shares pp10k, K in
    milli-units via a single positive DIV — Spark truncation == DuckDB
    flooring), so the gate is bit-exact. Plan: one explode + wordcount
    shuffle (map-side combined), then a per-source fold. Headroom:
    Σf²·10⁷ needs int64 — fine to ~10⁹ tokens per source on this
    vocabulary; shard the source key past that."""
    from postrack_spark.functions.text import tokens
    from postrack_spark.session import fan_out

    docs = fan_out(load_tables(spark, sf_dir)["documents"])
    freq = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("f"))
    )
    return richness_from_freq(freq)


@query(
    "dedup_record_linkage_scores",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, source, n_chars,
             len(string_split(text, ' ')) AS ntok,
             array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ')
               AS prefix3
      FROM documents
    ),
    pairs AS (
      SELECT a.lang,
             (CASE WHEN a.source = b.source THEN 24 ELSE -8 END
              + CASE WHEN a.ntok = b.ntok THEN 16 ELSE -6 END
              + CASE WHEN a.prefix3 = b.prefix3 THEN 30 ELSE -4 END) AS score
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
    )
    SELECT lang,
           CASE WHEN score >= 50 THEN 'link'
                WHEN score >= 10 THEN 'possible' ELSE 'non_link' END AS decision,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(score) AS BIGINT) AS min_score,
           CAST(max(score) AS BIGINT) AS max_score
    FROM pairs
    GROUP BY 1, 2
    """,
)
def dedup_record_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage — the
    field-weighted scoring tier between dedup_exact_groups (all-or-
    nothing) and dedup_minhash_lsh (content similarity): candidate
    pairs from (lang, exact length) blocking, per-field agreement /
    disagreement log-odds weights in integer centibans (source +24/−8,
    token count +16/−6, 3-token prefix +30/−4 — fixed m/u-probability
    constants, as a trained FS model would broadcast), summed to a
    pair score and thresholded into link / possible / non-link. The
    blocking keeps the pair relation O(Σ block²) with data-sized
    blocks never forming (length × language is near-unique here;
    production blocking composes more keys the same way — never a
    crossJoin). Integer scores, integer counts: bit-exact gate."""
    d = load_tables(spark, sf_dir)["documents"].select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(F.split(F.col("text"), r"\s+")).alias("ntok"),
        F.array_join(F.slice(F.split(F.col("text"), r"\s+"), 1, 3), " ").alias(
            "prefix3"
        ),
    )
    a = d.alias("a")
    b = d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.n_chars") == F.col("b.n_chars"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.lang").alias("lang"),
        (
            F.when(F.col("a.source") == F.col("b.source"), 24).otherwise(-8)
            + F.when(F.col("a.ntok") == F.col("b.ntok"), 16).otherwise(-6)
            + F.when(F.col("a.prefix3") == F.col("b.prefix3"), 30).otherwise(-4)
        ).alias("score"),
    )
    return pairs.groupBy(
        "lang",
        F.when(F.col("score") >= 50, "link")
        .when(F.col("score") >= 10, "possible")
        .otherwise("non_link")
        .alias("decision"),
    ).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.min("score").cast("long").alias("min_score"),
        F.max("score").cast("long").alias("max_score"),
    )


@query(
    "events_fano_burstiness",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS ss
      FROM daily GROUP BY 1
    )
    SELECT event_type, n, s,
           CAST((n * ss - s * s) * 10000 // (n * s) AS BIGINT) AS fano_pp10k,
           CAST(floor(1000000.0
                * (sqrt(CAST(n * ss - s * s AS DOUBLE)
                        / CAST(n * n AS DOUBLE)) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                / (sqrt(CAST(n * ss - s * s AS DOUBLE)
                        / CAST(n * n AS DOUBLE)) + CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                AS BIGINT) AS burstiness_ppm
    FROM m
    """,
)
def events_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion screening per event type: the Fano factor (variance/
    mean of daily counts — 1 for a Poisson process, >1 overdispersed)
    and Goh-Barabási burstiness B = (σ−μ)/(σ+μ) ∈ (−1, 1). The Fano
    factor is EXACT: var/mean = (nΣc²−S²)/(nS), one positive integer
    DIV in pp10k. Burstiness needs a square root, so it follows the
    welch-ttest rule: one identically-shaped correctly-rounded double
    expression, floor()-ed to ppm (floor, not DIV — B can be negative
    and floor() rounds toward −∞ in both engines). Input is the
    map-side-combined daily aggregate; the moment fold is O(types)."""
    daily = (
        load_tables(spark, sf_dir)["events"]
        .select("event_type", F.expr("unix_micros(ts) div 86400000000").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count("*").cast("long").alias("c"))
    )
    m = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
    )
    sigma = F.sqrt(
        F.expr("CAST(n * ss - s * s AS DOUBLE)") / F.expr("CAST(n * n AS DOUBLE)")
    )
    mu = F.expr("CAST(s AS DOUBLE)") / F.expr("CAST(n AS DOUBLE)")
    return m.select(
        "event_type",
        "n",
        "s",
        F.expr("CAST((n * ss - s * s) * 10000 DIV (n * s) AS BIGINT)").alias(
            "fano_pp10k"
        ),
        F.floor(F.lit(1000000.0) * (sigma - mu) / (sigma + mu))
        .cast("long")
        .alias("burstiness_ppm"),
    )


@query(
    "text_good_turing_smoothing",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    freq AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY 1),
    nr AS (
      SELECT f AS r, CAST(count(*) AS BIGINT) AS n_r FROM freq
      WHERE f <= 6 GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(f) AS BIGINT) AS n_tokens,
             CAST(coalesce((SELECT n_r FROM nr WHERE r = 1), 0) AS BIGINT) AS n1
      FROM freq
    )
    SELECT a.r, a.n_r,
           CAST(coalesce(b.n_r, 0) AS BIGINT) AS n_r_next,
           CAST((a.r + 1) * coalesce(b.n_r, 0) * 1000 // a.n_r AS BIGINT)
             AS rstar_milli,
           CAST(t.n1 * 10000 // t.n_tokens AS BIGINT) AS p_unseen_pp10k
    FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
    CROSS JOIN tot t
    WHERE a.r <= 5
    """,
)
def text_good_turing_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple Good-Turing frequency smoothing over the corpus
    vocabulary — the LM-estimation classic: the smoothed count
    r* = (r+1)·N_{r+1}/N_r for the low-frequency ranks r = 1..5, and
    the unseen-event mass P₀ = N₁/N that a language model reserves for
    words it has never seen. N_r (types occurring exactly r times)
    comes from one wordcount shuffle + one tiny rank histogram;
    r* is an integer rational in milli-units (positive DIV) and P₀ in
    pp10k, so the whole table is bit-exact. Ranks with N_r = 0 are
    excluded (ANSI division); N_{r+1} gaps smooth to 0 — the honest
    raw-SGT behavior (production SGT regresses Z_r, which needs logs —
    the documented no-logarithm rule — and changes nothing for
    r ≤ 5 on a corpus this dense). Scale: the only data-sized stage is
    the wordcount; the rank histogram is ≤6 rows."""
    from postrack_spark.functions.text import tokens
    from postrack_spark.session import fan_out

    from postrack_spark.session import pin_small

    docs = fan_out(load_tables(spark, sf_dir)["documents"])
    # the vocabulary-bounded wordcount feeds the rank histogram AND the
    # totals, and the <=6-row histogram feeds its own shifted copy —
    # pinned: one corpus explode, not 3.
    freq = pin_small(
        "gt_freq",
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("f")),
    )
    nr = pin_small(
        "gt_nr",
        freq.filter(F.col("f") <= 6)
        .groupBy(F.col("f").alias("r"))
        .agg(F.count("*").cast("long").alias("n_r")),
    )
    tot = freq.agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.coalesce(
            F.sum(F.when(F.col("f") == 1, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
        )
        .cast("long")
        .alias("n1"),
    )
    b = nr.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_next"))
    return (
        nr.filter(F.col("r") <= 5)
        .join(F.broadcast(b), "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            "n_r",
            F.coalesce(F.col("n_r_next"), F.lit(0)).cast("long").alias("n_r_next"),
            F.expr(
                "CAST((r + 1) * coalesce(n_r_next, 0) * 1000 DIV n_r AS BIGINT)"
            ).alias("rstar_milli"),
            F.expr("CAST(n1 * 10000 DIV n_tokens AS BIGINT)").alias(
                "p_unseen_pp10k"
            ),
        )
    )


@query(
    "events_local_extrema_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, c,
             lag(c) OVER (PARTITION BY event_type ORDER BY d) AS pc,
             lead(c) OVER (PARTITION BY event_type ORDER BY d) AS nc
      FROM daily
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN pc IS NOT NULL AND nc IS NOT NULL
                          AND c > pc AND c > nc THEN 1 ELSE 0 END) AS BIGINT)
             AS n_peaks,
           CAST(sum(CASE WHEN pc IS NOT NULL AND nc IS NOT NULL
                          AND c < pc AND c < nc THEN 1 ELSE 0 END) AS BIGINT)
             AS n_troughs
    FROM lagged
    GROUP BY event_type
    """,
)
def events_local_extrema_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-extrema census per event type: strict peaks and troughs
    in the daily count series (boundary days and plateaus excluded) —
    the shape statistic a seasonality detector or alert-deduper reads
    before thresholding (many peaks ⇒ noisy series; few ⇒ regime
    shifts; pairs with events_fano_burstiness' dispersion numbers).
    lag/lead run over PER-TYPE partitioned windows on the
    calendar-bounded daily aggregate — never a global frame. Counts
    are integers; the gate is bit-exact."""
    from pyspark.sql import Window

    daily = (
        load_tables(spark, sf_dir)["events"]
        .select("event_type", F.expr("unix_micros(ts) div 86400000000").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "c",
        F.lag("c").over(w).alias("pc"),
        F.lead("c").over(w).alias("nc"),
    )
    is_peak = (
        F.col("pc").isNotNull()
        & F.col("nc").isNotNull()
        & (F.col("c") > F.col("pc"))
        & (F.col("c") > F.col("nc"))
    )
    is_trough = (
        F.col("pc").isNotNull()
        & F.col("nc").isNotNull()
        & (F.col("c") < F.col("pc"))
        & (F.col("c") < F.col("nc"))
    )
    return lagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.when(is_peak, 1).otherwise(0)).cast("long").alias("n_peaks"),
        F.sum(F.when(is_trough, 1).otherwise(0)).cast("long").alias("n_troughs"),
    )


def fisher_from_cells(cell: DataFrame) -> DataFrame:
    """Fisher separation statistics from a (label, dim, n, s, ss)
    moment-cell frame — shared by the batch query and the streaming
    view twin (the cells are ADDITIVE, so they stream through the fold
    sink even though the Fisher ratio itself does not)."""
    grand = cell.groupBy("dim").agg(
        F.sum("s").cast("long").alias("sd"), F.sum("n").cast("long").alias("nn")
    )
    terms = cell.join(F.broadcast(grand), "dim").select(
        "label",
        "n",
        F.expr("CAST(ss - (s * s) DIV n AS BIGINT)").alias("w_term"),
        F.floor(
            F.expr("CAST(nn * s - n * sd AS DOUBLE)")
            * F.expr("CAST(nn * s - n * sd AS DOUBLE)")
            / (
                F.expr("CAST(n AS DOUBLE)")
                * F.expr("CAST(nn AS DOUBLE)")
                * F.expr("CAST(nn AS DOUBLE)")
            )
        )
        .cast("long")
        .alias("b_term"),
    )
    return terms.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.max("n").alias("n_vectors"),
        F.sum("w_term").cast("long").alias("within_ss"),
        F.sum("b_term").cast("long").alias("between_ss"),
        F.expr("CAST(sum(b_term) * 1000 DIV sum(w_term) AS BIGINT)").alias(
            "fisher_ratio_milli"
        ),
    )


FISHER_ORACLE = """
    WITH q AS (
      SELECT label, i AS dim,
             CAST(floor(embedding[i]::DOUBLE * 1000.0) AS BIGINT) AS x
      FROM embeddings CROSS JOIN generate_series(1, 64) AS g(i)
    ),
    cell AS (
      SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s, CAST(sum(x * x) AS BIGINT) AS ss
      FROM q GROUP BY 1, 2
    ),
    grand AS (
      SELECT dim, CAST(sum(s) AS BIGINT) AS sd, CAST(sum(n) AS BIGINT) AS nn
      FROM cell GROUP BY 1
    ),
    terms AS (
      SELECT c.label, c.n,
             CAST(c.ss - (c.s * c.s) // c.n AS BIGINT) AS w_term,
             CAST(floor(CAST(g.nn * c.s - c.n * g.sd AS DOUBLE)
                        * CAST(g.nn * c.s - c.n * g.sd AS DOUBLE)
                        / (CAST(c.n AS DOUBLE) * CAST(g.nn AS DOUBLE)
                           * CAST(g.nn AS DOUBLE))) AS BIGINT) AS b_term
      FROM cell c JOIN grand g USING (dim)
    )
    SELECT CAST(label AS INT) AS label, max(n) AS n_vectors,
           CAST(sum(w_term) AS BIGINT) AS within_ss,
           CAST(sum(b_term) AS BIGINT) AS between_ss,
           CAST(sum(b_term) * 1000 // sum(w_term) AS BIGINT)
             AS fisher_ratio_milli
    FROM terms GROUP BY label
    """


@query("vector_fisher_separation", oracle=FISHER_ORACLE)
def vector_fisher_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-separation audit over the embedding corpus — the
    LDA-readiness numbers an ML engineer checks before trusting the
    label column: per class, the within-class scatter trace vs the
    between-class scatter trace (Fisher's criterion, diagonal form).
    Embeddings are milli-quantized (floor(x·1000), IEEE-identical in
    numpy and both SQL engines — the vector_gram_matrix protocol at a
    coarser grid so n·Σx² keeps int64 headroom), making the within
    term EXACT integer per (class, dim); the between term's raw
    numerator (N·s − n·S)² would overflow int64, so it is one IEEE
    double expression floored per (class, dim) BEFORE the integer sum
    over dims (the floored-contribution rule). Spark side reduces each
    Arrow batch to per-(label, dim) numpy partials via mapInPandas —
    shuffle O(partitions·labels·d), corpus touched once; the oracle
    expands dims relationally (fine at oracle SF, wrong plan at
    100 TB)."""
    import numpy as np
    import pandas as pd

    from postrack_spark.session import fan_out

    emb = fan_out(load_tables(spark, sf_dir)["embeddings"]).select(
        "label", "embedding"
    )

    def partials(batches):
        from collections import defaultdict

        acc = defaultdict(lambda: None)  # label -> [n, s(d), ss(d)]
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            qx = np.floor(x * 1000.0).astype(np.int64)
            labels = pdf["label"].to_numpy()
            for lab in np.unique(labels):
                rows = qx[labels == lab]
                part = [len(rows), rows.sum(axis=0), (rows * rows).sum(axis=0)]
                if acc[lab] is None:
                    acc[lab] = part
                else:
                    acc[lab] = [
                        acc[lab][0] + part[0],
                        acc[lab][1] + part[1],
                        acc[lab][2] + part[2],
                    ]
        out = {"label": [], "dim": [], "n": [], "s": [], "ss": []}
        for lab, (n, s, ss) in acc.items():
            for d0 in range(len(s)):
                out["label"].append(int(lab))
                out["dim"].append(d0 + 1)
                out["n"].append(int(n))
                out["s"].append(int(s[d0]))
                out["ss"].append(int(ss[d0]))
        if out["label"]:
            yield pd.DataFrame(out)

    cell = (
        emb.mapInPandas(partials, "label int, dim int, n long, s long, ss long")
        .groupBy("label", "dim")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s").cast("long").alias("s"),
            F.sum("ss").cast("long").alias("ss"),
        )
    )
    return fisher_from_cells(cell)


@query(
    "events_binary_segmentation",
    oracle="""
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS d, CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    pre AS (
      SELECT a.d,
             CAST((SELECT count(*) FROM daily h WHERE h.d <= a.d) AS BIGINT) AS k,
             CAST((SELECT sum(h.y) FROM daily h WHERE h.d <= a.d) AS BIGINT) AS cum
      FROM daily a
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s FROM daily
    ),
    root AS (
      SELECT p.d, p.k, p.cum, abs(t.n * p.cum - p.k * t.s) AS score
      FROM pre p, tot t WHERE p.k < t.n
      ORDER BY score DESC, p.d LIMIT 1
    ),
    left_pick AS (
      SELECT p.d, abs(r.k * p.cum - p.k * r.cum) AS score
      FROM pre p, root r WHERE p.k < r.k
      ORDER BY score DESC, p.d LIMIT 1
    ),
    right_pick AS (
      SELECT p.d,
             abs((t.n - r.k) * (p.cum - r.cum) - (p.k - r.k) * (t.s - r.cum))
               AS score
      FROM pre p, root r, tot t WHERE p.k > r.k AND p.k < t.n
      ORDER BY score DESC, p.d LIMIT 1
    )
    SELECT 'root' AS segment, d AS split_day, CAST(score AS BIGINT) AS score
    FROM root
    UNION ALL
    SELECT 'left', d, CAST(score AS BIGINT) FROM left_pick
    UNION ALL
    SELECT 'right', d, CAST(score AS BIGINT) FROM right_pick
    """,
)
def events_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint detection by two-level binary segmentation on the
    daily event-count series — the multi-changepoint extension of
    events_cusum_changepoint: pick the day maximizing the scaled CUSUM
    deviation |n·S_k − k·S_n| over the whole series, then recurse once
    into each half with segment-relative prefix sums. The statistic is
    EXACT scaled integers (no n-division), picks break ties by
    earliest day, and each pick is an orderBy().limit(1) —
    TakeOrderedAndProject, never a global sort or window. The daily
    frame is calendar-bounded, so the prefix sums use the broadcast
    self-join form (days², constant-bounded) and all three picks are
    tiny-frame ops; the one data-sized stage is the daily aggregate."""
    from postrack_spark.session import pin_small

    # days-sized frames with 3 consumers each (h/pre/tot and the three
    # segment picks) — pinned so the events scan + daily aggregate runs
    # once (measured 15 scans before).
    daily = pin_small(
        "bseg_daily",
        load_tables(spark, sf_dir)["events"]
        .select(F.expr("unix_micros(ts) div 86400000000").alias("d"))
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("y")),
    )
    h = daily.select(F.col("d").alias("hd"), F.col("y").alias("hy"))
    pre = (
        daily.join(F.broadcast(h), F.col("hd") <= F.col("d"))
        .groupBy("d")
        .agg(
            F.count("*").cast("long").alias("k"),
            F.sum("hy").cast("long").alias("cum"),
        )
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("s")
    )
    pt = pin_small("bseg_pt", pre.crossJoin(F.broadcast(tot)))
    root = (
        pt.filter(F.col("k") < F.col("n"))
        .select(
            "d",
            "k",
            "cum",
            F.abs(F.col("n") * F.col("cum") - F.col("k") * F.col("s")).alias("score"),
        )
        .orderBy(F.col("score").desc(), "d")
        .limit(1)
    )
    r = F.broadcast(
        root.select(
            F.col("d").alias("rd"), F.col("k").alias("rk"), F.col("cum").alias("rcum")
        )
    )
    left_pick = (
        pt.join(r, F.col("k") < F.col("rk"))
        .select(
            "d",
            F.abs(F.col("rk") * F.col("cum") - F.col("k") * F.col("rcum")).alias(
                "score"
            ),
        )
        .orderBy(F.col("score").desc(), "d")
        .limit(1)
    )
    right_pick = (
        pt.join(r, (F.col("k") > F.col("rk")) & (F.col("k") < F.col("n")))
        .select(
            "d",
            F.abs(
                (F.col("n") - F.col("rk")) * (F.col("cum") - F.col("rcum"))
                - (F.col("k") - F.col("rk")) * (F.col("s") - F.col("rcum"))
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), "d")
        .limit(1)
    )
    return (
        root.select(F.lit("root").alias("segment"), F.col("d").alias("split_day"),
                    F.col("score").cast("long").alias("score"))
        .unionAll(
            left_pick.select(F.lit("left").alias("segment"),
                             F.col("d").alias("split_day"),
                             F.col("score").cast("long").alias("score"))
        )
        .unionAll(
            right_pick.select(F.lit("right").alias("segment"),
                              F.col("d").alias("split_day"),
                              F.col("score").cast("long").alias("score"))
        )
    )


@query(
    "scalar_fiscal_445_rollup",
    oracle="""
    WITH base AS (
      SELECT CAST(o_orderdate AS DATE) AS od,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    fy AS (
      SELECT cents,
             CASE WHEN (month(od), day(od)) >= (2, 1)
                  THEN year(od) ELSE year(od) - 1 END AS fiscal_year,
             od
      FROM base
    ),
    wk AS (
      SELECT fiscal_year, cents,
             CAST((od - make_date(fiscal_year, 2, 1)) // 7 AS BIGINT) AS w
      FROM fy
    ),
    per AS (
      SELECT fiscal_year, cents,
             CAST(CASE WHEN w >= 52 THEN 12
                       ELSE (w // 13) * 3
                            + CASE WHEN w % 13 < 4 THEN 1
                                   WHEN w % 13 < 8 THEN 2 ELSE 3 END
                  END AS BIGINT) AS period
      FROM wk
    )
    SELECT CAST(fiscal_year AS BIGINT) AS fiscal_year, period,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM per
    GROUP BY 1, 2
    """,
)
def scalar_fiscal_445_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retail 4-4-5 fiscal-calendar rollup — the BI calendar the
    Gregorian date functions can't express: fiscal years start Feb 1,
    quarters split 13 weeks as 4+4+5, and week indexes >= 52 (the 53rd
    week) fold into the FINAL period 12 explicitly — a least() clamp on
    the quarter alone would wrap w % 13 back to Q4's first month, the
    bug a review pass caught here. The mapping is pure integer
    date arithmetic — week index = days-since-fiscal-new-year DIV 7,
    period from two CASE splits — certifying that make_date / year /
    month / day and date subtraction resolve identically cross-engine
    (the scalar_timezone_daygroup pattern for calendar seams). One
    scan, one aggregation; the mapping is map-side."""
    base = load_tables(spark, sf_dir)["orders"].select(
        F.to_date("o_orderdate").alias("od"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    fy = base.select(
        "cents",
        "od",
        F.when(
            (F.month("od") > 2) | ((F.month("od") == 2) & (F.dayofmonth("od") >= 1)),
            F.year("od"),
        )
        .otherwise(F.year("od") - 1)
        .alias("fiscal_year"),
    )
    wk = fy.select(
        "fiscal_year",
        "cents",
        F.expr(
            "CAST(datediff(od, make_date(fiscal_year, 2, 1)) DIV 7 AS BIGINT)"
        ).alias("w"),
    )
    per = wk.select(
        "fiscal_year",
        "cents",
        F.expr(
            "CAST(CASE WHEN w >= 52 THEN 12"
            " ELSE (w DIV 13) * 3"
            " + CASE WHEN w % 13 < 4 THEN 1"
            "        WHEN w % 13 < 8 THEN 2 ELSE 3 END END AS BIGINT)"
        ).alias("period"),
    )
    return per.groupBy(
        F.col("fiscal_year").cast("long").alias("fiscal_year"), "period"
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


@query(
    "events_cmh_stratified_test",
    oracle="""
    WITH base AS (
      SELECT (epoch_us(ts) // 86400000000) % 7 AS k,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS arm_a,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
      FROM events
    ),
    strata AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(arm_a) AS BIGINT) AS r1,
             CAST(sum(hit) AS BIGINT) AS c1,
             CAST(sum(arm_a * hit) AS BIGINT) AS a
      FROM base GROUP BY k
    ),
    terms AS (
      SELECT k, a,
             CAST(a * 1000000 - (r1 * c1 * 1000000) // n AS BIGINT) AS da_micro,
             CAST(floor(CAST(r1 AS DOUBLE) * CAST(n - r1 AS DOUBLE)
                        * CAST(c1 AS DOUBLE) * CAST(n - c1 AS DOUBLE) * 1000000.0
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                           * (CAST(n AS DOUBLE) - 1.0))) AS BIGINT) AS v_micro
      FROM strata
    )
    SELECT CAST(count(*) AS BIGINT) AS n_strata,
           CAST(sum(a) AS BIGINT) AS a_total,
           CAST(sum(da_micro) AS BIGINT) AS sum_da_micro,
           CAST(sum(v_micro) AS BIGINT) AS sum_v_micro,
           CAST(floor(1000000.0
                * (CAST(abs(sum(da_micro)) AS DOUBLE) - 500000.0)
                * (CAST(abs(sum(da_micro)) AS DOUBLE) - 500000.0)
                / (CAST(sum(v_micro) AS DOUBLE) * 1000000.0)) AS BIGINT)
             AS cmh_ppm
    FROM terms
    """,
)
def events_cmh_stratified_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel test — the STRATIFIED 2×2 comparison
    that guards an A/B readout against Simpson's paradox: arm (user
    parity) × outcome (purchase) stratified by day-of-week (integer
    epoch arithmetic — the events_heatmap_dow_hour convention), so a
    weekday/weekend traffic mix shift can't masquerade as a treatment
    effect. Per stratum: a − E floored to micro as a pure-integer DIV
    (r1·c1·10⁶ stays in int64 to ~10⁸ rows per stratum — coarsen units
    past that), and the hypergeometric variance — whose raw numerator
    r1·r0·c1·c0 WOULD overflow int64 — evaluated in one IEEE double
    expression micro-floored per stratum BEFORE the integer sum (the
    floored-contribution rule). The continuity-corrected statistic
    assembles the two integer sums in one final ppm-floored
    expression. One aggregation pass; the stratum frame is 7 rows."""
    base = load_tables(spark, sf_dir)["events"].select(
        F.expr("(unix_micros(ts) div 86400000000) % 7").alias("k"),
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("arm_a"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("hit"),
    )
    strata = base.groupBy("k").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("arm_a").cast("long").alias("r1"),
        F.sum("hit").cast("long").alias("c1"),
        F.sum(F.col("arm_a") * F.col("hit")).cast("long").alias("a"),
    )
    terms = strata.select(
        "k",
        "a",
        F.expr("CAST(a * 1000000 - (r1 * c1 * 1000000) DIV n AS BIGINT)").alias(
            "da_micro"
        ),
        F.floor(
            F.expr("CAST(r1 AS DOUBLE)")
            * F.expr("CAST(n - r1 AS DOUBLE)")
            * F.expr("CAST(c1 AS DOUBLE)")
            * F.expr("CAST(n - c1 AS DOUBLE)")
            * F.lit(1000000.0)
            / (
                F.expr("CAST(n AS DOUBLE)")
                * F.expr("CAST(n AS DOUBLE)")
                * (F.expr("CAST(n AS DOUBLE)") - F.lit(1.0))
            )
        )
        .cast("long")
        .alias("v_micro"),
    )
    return terms.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.sum("a").cast("long").alias("a_total"),
        F.sum("da_micro").cast("long").alias("sum_da_micro"),
        F.sum("v_micro").cast("long").alias("sum_v_micro"),
        F.floor(
            F.lit(1000000.0)
            * (F.expr("CAST(abs(sum(da_micro)) AS DOUBLE)") - F.lit(500000.0))
            * (F.expr("CAST(abs(sum(da_micro)) AS DOUBLE)") - F.lit(500000.0))
            / (F.expr("CAST(sum(v_micro) AS DOUBLE)") * F.lit(1000000.0))
        )
        .cast("long")
        .alias("cmh_ppm"),
    )


@query(
    "agg_grubbs_outlier_test",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS ss,
             CAST(max(c) AS BIGINT) AS maxc, CAST(min(c) AS BIGINT) AS minc
      FROM daily GROUP BY 1
    )
    SELECT event_type, n,
           CAST(greatest(n * maxc - s, s - n * minc) AS BIGINT) AS m_scaled,
           CAST(floor(1000000.0
                * CAST(greatest(n * maxc - s, s - n * minc) AS DOUBLE)
                / (CAST(n AS DOUBLE)
                   * sqrt(CAST(n * ss - s * s AS DOUBLE)
                          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))))
                AS BIGINT) AS g_ppm,
           CAST(floor(1000000.0
                * CAST(greatest(n * maxc - s, s - n * minc) AS DOUBLE)
                / (CAST(n AS DOUBLE)
                   * sqrt(CAST(n * ss - s * s AS DOUBLE)
                          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))))
                AS BIGINT) >= 3000000 AS outlier_detected
    FROM m
    """,
)
def agg_grubbs_outlier_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' maximum-studentized-deviate test per event type: is the
    single most extreme daily count an outlier? The z-score anomaly
    query flags MANY days against a fixed threshold; Grubbs asks the
    sharper single-outlier question with the sample sd. The deviate
    max|c − mean| is computed EXACTLY in scaled integers —
    max(n·c − S) over days is reached at max(c) or min(c), so
    greatest(n·max − S, S − n·min) needs only the one moment pass, no
    second scan. G itself is one IEEE ppm-floored expression;
    `outlier_detected` compares against 3.0 (the large-n critical
    value, a fixed documented constant — exact Grubbs critical values
    need the t-distribution inverse, which neither engine has
    deterministically). Scale: map-side fold to one row per type."""
    daily = (
        load_tables(spark, sf_dir)["events"]
        .select("event_type", F.expr("unix_micros(ts) div 86400000000").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count("*").cast("long").alias("c"))
    )
    m = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
        F.max("c").cast("long").alias("maxc"),
        F.min("c").cast("long").alias("minc"),
    )
    g_expr = F.floor(
        F.lit(1000000.0)
        * F.expr("CAST(greatest(n * maxc - s, s - n * minc) AS DOUBLE)")
        / (
            F.expr("CAST(n AS DOUBLE)")
            * F.sqrt(
                F.expr("CAST(n * ss - s * s AS DOUBLE)")
                / (
                    F.expr("CAST(n AS DOUBLE)")
                    * (F.expr("CAST(n AS DOUBLE)") - F.lit(1.0))
                )
            )
        )
    ).cast("long")
    return m.select(
        "event_type",
        "n",
        F.expr("CAST(greatest(n * maxc - s, s - n * minc) AS BIGINT)").alias(
            "m_scaled"
        ),
        g_expr.alias("g_ppm"),
        (g_expr >= F.lit(3000000)).alias("outlier_detected"),
    )


@query(
    "events_interpurchase_gaps",
    oracle="""
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS us, event_id
      FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
      SELECT user_id, event_id,
             CAST((us - lag(us) OVER (PARTITION BY user_id
                                      ORDER BY us, event_id)) // 1000000
                  AS BIGINT) AS gap_sec
      FROM p
    ),
    g AS (SELECT user_id, event_id, gap_sec FROM gaps WHERE gap_sec IS NOT NULL),
    ranked AS (
      SELECT gap_sec, row_number() OVER (ORDER BY gap_sec, user_id, event_id) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM g
    )
    SELECT max(n) AS n_gaps,
           CAST((SELECT sum(gap_sec) FROM g) // max(n) AS BIGINT) AS mean_gap_sec,
           CAST(sum(gap_sec * CASE WHEN (n + 1) // 2 = (n + 2) // 2
                                   THEN 2 ELSE 1 END) AS BIGINT) AS med2x_gap_sec
    FROM ranked
    WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
    """,
)
def events_interpurchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpurchase-time distribution: seconds between a user's
    consecutive purchases — the repeat-buying cadence behind LTV and
    churn-window choices (pairs with events_user_survival_table's
    lifetime view). Gaps come from a PER-USER partitioned lag on
    epoch-micros (integer floor to seconds, the epoch_us//1e6
    convention); the mean is a positive integer DIV and the median is
    rank-selected on the gap frame via
    operators/ranking.global_row_number (gaps are data-sized — one per
    purchase — so the global window the textbook writes is the
    single-task killer; the doubled median keeps the gate integer)."""
    from postrack_spark.operators.ranking import global_row_number

    p = (
        load_tables(spark, sf_dir)["events"]
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.expr("unix_micros(ts)").alias("us"), "event_id")
    )
    g = (
        p.select(
            "user_id",
            "event_id",
            F.expr(
                "CAST((us - lag(us) OVER (PARTITION BY user_id"
                " ORDER BY us, event_id)) DIV 1000000 AS BIGINT)"
            ).alias("gap_sec"),
        )
        .filter(F.col("gap_sec").isNotNull())
    )
    ranked = global_row_number(g, ["gap_sec", "user_id", "event_id"])
    tot = g.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("gap_sec").cast("long").alias("sum_gap"),
    )
    picked = ranked.crossJoin(F.broadcast(tot)).filter(
        (F.col("rn") == F.expr("(n + 1) DIV 2")) | (F.col("rn") == F.expr("(n + 2) DIV 2"))
    )
    return picked.agg(
        F.max("n").alias("n_gaps"),
        F.expr("CAST(max(sum_gap) DIV max(n) AS BIGINT)").alias("mean_gap_sec"),
        F.sum(
            F.col("gap_sec")
            * F.expr("CASE WHEN (n + 1) DIV 2 = (n + 2) DIV 2 THEN 2 ELSE 1 END")
        )
        .cast("long")
        .alias("med2x_gap_sec"),
    )


_GROUP_BY_ALL_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM lineitem
    GROUP BY ALL
    ORDER BY ALL
"""


@query("sql_group_by_all", oracle=_GROUP_BY_ALL_SQL)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL — the modern analyst-SQL sugar
    (infer grouping keys from the select list), supported by both
    Spark 4 and DuckDB. The SQL text runs VERBATIM on both engines —
    the query IS its own oracle, pinning that the two engines resolve
    the sugar to the same grouping (the sql_recursive_reachability
    pattern for surface-parity checks). Revenue is integer cents, so
    the hash gate is bit-exact."""
    load_tables(spark, sf_dir)  # registers temp views
    return spark.sql(_GROUP_BY_ALL_SQL)


def _hits_oracle(iters: int = 3) -> str:
    head = """
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    a0 AS (SELECT DISTINCT p AS node, CAST(1000000 AS BIGINT) AS a FROM edges)
    """
    steps = []
    for i in range(1, iters + 1):
        steps.append(f"""
    h{i}raw AS MATERIALIZED (
      SELECT e.c AS node, CAST(sum(a.a) AS BIGINT) AS hr
      FROM edges e JOIN a{i - 1} a ON a.node = e.p GROUP BY e.c
    ),
    h{i} AS MATERIALIZED (
      SELECT node, CAST(hr * 1000000 // (SELECT max(hr) FROM h{i}raw) AS BIGINT) AS h
      FROM h{i}raw
    ),
    a{i}raw AS MATERIALIZED (
      SELECT e.p AS node, CAST(sum(h.h) AS BIGINT) AS ar
      FROM edges e JOIN h{i} h ON h.node = e.c GROUP BY e.p
    ),
    a{i} AS MATERIALIZED (
      SELECT node, CAST(ar * 1000000 // (SELECT max(ar) FROM a{i}raw) AS BIGINT) AS a
      FROM a{i}raw
    )""")
    return (
        head.rstrip()
        + ","
        + ",".join(steps)
        + f"""
    SELECT * FROM (
      SELECT 'hub' AS side, node, h AS score_micros FROM h{iters}
      ORDER BY score_micros DESC, node LIMIT 10)
    UNION ALL
    SELECT * FROM (
      SELECT 'authority' AS side, node, a AS score_micros FROM a{iters}
      ORDER BY score_micros DESC, node LIMIT 10)
    """
    )


@query("graph_hits_bipartite", oracle=_hits_oracle(3))
def graph_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (3 iterations) on the BIPARTITE
    customer→part purchase graph — the link-analysis sibling of
    graph_pagerank_top10, exercising the other classic recurrence
    (mutual reinforcement across two node classes instead of a single
    stochastic matrix). Same fixed-point discipline: micro-unit
    integer scores, L-inf normalization each half-step as one positive
    integer DIV against the broadcast max (the
    vector_pca_power_iteration trick), so the trajectory is hash-exact
    against an oracle that unrolls the identical six half-steps as
    MATERIALIZED CTEs (materialized — DuckDB would otherwise inline
    the exponential chain, the documented k-core trap). Scale: each
    half-step is one co-partitioned edge⋈score join + one aggregation
    keyed by the opposite node class (vertex-centric Pregel shape);
    localCheckpoint truncates lineage per round."""
    from postrack_spark.session import pin_small

    t = load_tables(spark, sf_dir)
    # pin_small, not .cache(): a bare cache() is never unpersisted and
    # the CacheManager's canonicalized-plan matching silently reuses
    # the previous invocation's materialized result across bench/sweep
    # runs; the pin re-persists fresh lineage per call. The iterative
    # fixed-point consumes this frame six times (3 rounds x 2 sides).
    edges = pin_small(
        "hits_edges",
        t["orders"]
        .select("o_orderkey", "o_custkey")
        .join(t["lineitem"].select("l_orderkey", "l_partkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct(),
    )
    a = edges.select("p").distinct().select(
        F.col("p").alias("node"), F.lit(1000000).cast("long").alias("a")
    )
    h = None
    for _ in range(3):
        hraw = (
            edges.join(a.withColumnRenamed("node", "p"), "p")
            .groupBy("c")
            .agg(F.sum("a").cast("long").alias("hr"))
        )
        hmax = hraw.agg(F.max("hr").alias("hmax"))
        h = (
            hraw.crossJoin(F.broadcast(hmax))
            .select(
                F.col("c").alias("node"),
                F.expr("CAST(hr * 1000000 DIV hmax AS BIGINT)").alias("h"),
            )
            .localCheckpoint()
        )
        araw = (
            edges.join(h.withColumnRenamed("node", "c"), "c")
            .groupBy("p")
            .agg(F.sum("h").cast("long").alias("ar"))
        )
        amax = araw.agg(F.max("ar").alias("amax"))
        a = (
            araw.crossJoin(F.broadcast(amax))
            .select(
                F.col("p").alias("node"),
                F.expr("CAST(ar * 1000000 DIV amax AS BIGINT)").alias("a"),
            )
            .localCheckpoint()
        )
    hubs = (
        h.select(F.lit("hub").alias("side"), "node", F.col("h").alias("score_micros"))
        .orderBy(F.col("score_micros").desc(), "node")
        .limit(10)
    )
    auths = (
        a.select(
            F.lit("authority").alias("side"), "node", F.col("a").alias("score_micros")
        )
        .orderBy(F.col("score_micros").desc(), "node")
        .limit(10)
    )
    return hubs.unionAll(auths)


def life_table_from_spans(per_user: DataFrame) -> DataFrame:
    """Life table + Nelson-Aalen hazard from a per-user
    (first_d, last_d) day-bounds frame — shared by the batch survival
    query and its streaming view twin so both gate on the SAME oracle.
    See events_user_survival_table for the statistical contract."""
    from postrack_spark.session import pin_small

    # per_user feeds the censoring bound AND the span projection; the
    # day-sized steps/risk frames each feed two branches — pinned so
    # the one data-sized pass runs once (measured 8 scans before).
    per_user = pin_small("lt_per_user", per_user)
    bounds = per_user.agg(F.max("last_d").alias("max_d"))
    spans = per_user.crossJoin(F.broadcast(bounds)).select(
        (F.col("last_d") - F.col("first_d")).cast("long").alias("t"),
        F.when(F.col("last_d") >= F.col("max_d") - 6, 1)
        .otherwise(0)
        .cast("long")
        .alias("censored"),
    )
    steps = pin_small(
        "lt_steps",
        spans.groupBy("t").agg(
            F.sum(F.lit(1) - F.col("censored")).cast("long").alias("d_churn"),
            F.sum("censored").cast("long").alias("c_censored"),
        ),
    )
    h = steps.select(
        F.col("t").alias("ht"),
        (F.col("d_churn") + F.col("c_censored")).alias("hn"),
    )
    risk = pin_small(
        "lt_risk",
        steps.join(F.broadcast(h), F.col("ht") >= F.col("t"))
        .groupBy("t", "d_churn", "c_censored")
        .agg(F.sum("hn").cast("long").alias("n_risk")),
    )
    inc = risk.select(
        F.col("t").alias("it"),
        F.expr("CAST((d_churn * 1000000) DIV n_risk AS BIGINT)").alias("haz"),
    )
    return (
        risk.join(F.broadcast(inc), F.col("it") <= F.col("t"))
        .groupBy("t", "n_risk", "d_churn", "c_censored")
        .agg(F.sum("haz").cast("long").alias("na_hazard_ppm"))
        .select(
            F.col("t").alias("t_days"),
            "n_risk",
            "d_churn",
            "c_censored",
            "na_hazard_ppm",
        )
    )


SURVIVAL_ORACLE = """
    WITH bounds AS (
      SELECT max(epoch_us(ts) // 86400000000) AS max_d FROM events
    ),
    spans AS (
      SELECT user_id,
             CAST(max(epoch_us(ts) // 86400000000)
                  - min(epoch_us(ts) // 86400000000) AS BIGINT) AS t,
             CAST(CASE WHEN max(epoch_us(ts) // 86400000000)
                            >= (SELECT max_d FROM bounds) - 6
                       THEN 1 ELSE 0 END AS BIGINT) AS censored
      FROM events GROUP BY user_id
    ),
    steps AS (
      SELECT t,
             CAST(sum(1 - censored) AS BIGINT) AS d_churn,
             CAST(sum(censored) AS BIGINT) AS c_censored
      FROM spans GROUP BY t
    ),
    risk AS (
      SELECT s.t, s.d_churn, s.c_censored,
             CAST((SELECT sum(d_churn + c_censored) FROM steps h
                   WHERE h.t >= s.t) AS BIGINT) AS n_risk
      FROM steps s
    )
    SELECT r.t AS t_days, r.n_risk, r.d_churn, r.c_censored,
           CAST((SELECT sum((h.d_churn * 1000000) // h.n_risk)
                 FROM risk h WHERE h.t <= r.t) AS BIGINT) AS na_hazard_ppm
    FROM risk r
    """


@query("events_user_survival_table", oracle=SURVIVAL_ORACLE)
def events_user_survival_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival analysis over user lifetimes: the life table (risk set,
    churn events, right-censored counts per observed lifetime day) plus
    the Nelson-Aalen cumulative hazard — the censoring-aware churn
    statistics behind retention curves. A user's lifetime is last-seen
    minus first-seen day; users still active in the corpus's final 7
    days are right-censored, not churned. The Kaplan-Meier SURVIVAL
    curve is a cumulative float product (never oracle-gateable — see
    the double-association trap); the life table and the Nelson-Aalen
    sum ARE gateable: risk sets are suffix sums over the
    calendar-bounded lifetime frame (days-sized broadcast self-join —
    the Lorenz pattern), and each hazard increment d/n is floored to
    ppm BEFORE the cumulative integer sum (the BM25 floored-
    contribution trick). One data-sized pass (the per-user span
    aggregate); everything after is day-frame-sized."""
    per_user = (
        load_tables(spark, sf_dir)["events"]
        .select("user_id", F.expr("unix_micros(ts) div 86400000000").alias("d"))
        .groupBy("user_id")
        .agg(F.min("d").alias("first_d"), F.max("d").alias("last_d"))
    )
    return life_table_from_spans(per_user)


def _mmr_oracle(steps: int = 5) -> str:
    head = """
    WITH pts AS MATERIALIZED (
      SELECT vec_id, i,
             CAST(floor(embedding[i]::DOUBLE * 1000.0) AS BIGINT) AS x
      FROM embeddings CROSS JOIN generate_series(1, 64) AS g(i)
    ),
    q0 AS (SELECT min(vec_id) AS qid FROM embeddings),
    rel AS MATERIALIZED (
      SELECT p.vec_id, CAST(sum(p.x * qv.x) AS BIGINT) AS r
      FROM pts p
      JOIN (SELECT i, x FROM pts, q0 WHERE vec_id = q0.qid) qv USING (i)
      WHERE p.vec_id <> (SELECT qid FROM q0)
      GROUP BY 1
    ),
    cand AS MATERIALIZED (
      SELECT vec_id, r FROM rel ORDER BY r DESC, vec_id LIMIT 50
    ),
    cd AS MATERIALIZED (
      SELECT c.vec_id, p.i, p.x FROM cand c JOIN pts p USING (vec_id)
    ),
    sim AS MATERIALIZED (
      SELECT a.vec_id AS va, b.vec_id AS vb, CAST(sum(a.x * b.x) AS BIGINT) AS s
      FROM cd a JOIN cd b ON a.i = b.i AND a.vec_id <> b.vec_id
      GROUP BY 1, 2
    ),
    pick1 AS MATERIALIZED (
      SELECT 1 AS k, vec_id, r, CAST(2 * r AS BIGINT) AS score
      FROM cand ORDER BY r DESC, vec_id LIMIT 1
    ),
    sel1 AS (SELECT k, vec_id, r, score FROM pick1)
    """
    steps_sql = []
    for k in range(2, steps + 1):
        steps_sql.append(f"""
    pick{k} AS MATERIALIZED (
      SELECT {k} AS k, c.vec_id, c.r,
             CAST(2 * c.r - max(sim.s) AS BIGINT) AS score
      FROM cand c
      JOIN sim ON sim.va = c.vec_id
             AND sim.vb IN (SELECT vec_id FROM sel{k - 1})
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{k - 1})
      GROUP BY c.vec_id, c.r
      ORDER BY score DESC, c.vec_id LIMIT 1
    ),
    sel{k} AS (SELECT * FROM sel{k - 1} UNION ALL SELECT * FROM pick{k})""")
    return (
        head.rstrip()
        + ","
        + ",".join(steps_sql)
        + f"""
    SELECT k, vec_id, r AS rel, score FROM sel{steps}
    """
    )


@query("vector_mmr_rerank", oracle=_mmr_oracle(5))
def vector_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking — the diversification
    step a RAG retriever runs after ANN recall: greedily pick 5 of the
    top-50 candidates maximizing 2·relevance − max-similarity-to-
    already-picked (λ = 2/3 cross-multiplied away so the score stays
    integer). Everything is exact int64: milli-quantized embeddings
    make relevance and pairwise similarity integer dot products (the
    vector family's protocol), the candidate pool is a TakeOrdered
    head, the 50×50 similarity matrix is a broadcast self-join, and
    each greedy step is an orderBy().limit(1) pick with vec_id
    tie-breaks — so the whole greedy trajectory is hash-exact against
    an oracle that unrolls the identical 5 picks as MATERIALIZED CTEs
    (the graph_hits_bipartite discipline for iterative algorithms).
    Scale: one corpus pass for relevance; the greedy loop runs on the
    constant-size candidate pool."""
    emb = load_tables(spark, sf_dir)["embeddings"].select(
        "vec_id",
        F.expr(QUANTIZE_MILLI_EXPR).alias("qe"),
    )
    qid = emb.agg(F.min("vec_id").alias("qid"))
    qv = (
        emb.join(F.broadcast(qid), F.col("vec_id") == F.col("qid"))
        .select(F.col("qe").alias("qv"))
    )
    rel = (
        emb.crossJoin(F.broadcast(qv))
        .crossJoin(F.broadcast(qid))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "vec_id",
            "qe",
            F.aggregate(
                F.zip_with(F.col("qe"), F.col("qv"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("r"),
        )
    )
    cand = rel.orderBy(F.col("r").desc(), "vec_id").limit(50).localCheckpoint()
    b = cand.select(F.col("vec_id").alias("vb"), F.col("qe").alias("qeb"))
    sim = (
        cand.select(F.col("vec_id").alias("va"), "qe")
        .join(F.broadcast(b), F.col("va") != F.col("vb"))
        .select(
            "va",
            "vb",
            F.aggregate(
                F.zip_with(F.col("qe"), F.col("qeb"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("s"),
        )
        .localCheckpoint()
    )
    pick = (
        cand.select(
            F.lit(1).alias("k"),
            "vec_id",
            "r",
            (F.lit(2) * F.col("r")).cast("long").alias("score"),
        )
        .orderBy(F.col("r").desc(), "vec_id")
        .limit(1)
    )
    sel = pick.select("k", "vec_id", "r", "score").localCheckpoint()
    for k in range(2, 6):
        sel_ids = sel.select(F.col("vec_id").alias("vb"))
        maxsim = (
            sim.join(F.broadcast(sel_ids), "vb")
            .groupBy("va")
            .agg(F.max("s").alias("ms"))
        )
        pick_k = (
            cand.join(sel.select(F.col("vec_id")), "vec_id", "left_anti")
            .join(maxsim, F.col("vec_id") == F.col("va"))
            .select(
                F.lit(k).alias("k"),
                "vec_id",
                "r",
                (F.lit(2) * F.col("r") - F.col("ms")).cast("long").alias("score"),
            )
            .orderBy(F.col("score").desc(), "vec_id")
            .limit(1)
        )
        sel = sel.unionByName(pick_k).localCheckpoint()
    return sel.select("k", "vec_id", F.col("r").alias("rel"), "score")


@query(
    "vector_prf_rocchio",
    oracle="""
    WITH pts AS MATERIALIZED (
      SELECT vec_id, i,
             CAST(floor(embedding[i]::DOUBLE * 1000.0) AS BIGINT) AS x
      FROM embeddings CROSS JOIN generate_series(1, 64) AS g(i)
    ),
    q0 AS (SELECT min(vec_id) AS qid FROM embeddings),
    qv AS (SELECT i, x FROM pts, q0 WHERE vec_id = q0.qid),
    rel AS MATERIALIZED (
      SELECT p.vec_id, CAST(sum(p.x * qv.x) AS BIGINT) AS r
      FROM pts p JOIN qv USING (i)
      WHERE p.vec_id <> (SELECT qid FROM q0)
      GROUP BY 1
    ),
    top1 AS MATERIALIZED (
      SELECT vec_id FROM rel ORDER BY r DESC, vec_id LIMIT 10
    ),
    fb AS (
      SELECT p.i,
             CAST((sum(p.x) + 10 * 1000) // 10 - 1000 AS BIGINT) AS c
      FROM pts p JOIN top1 USING (vec_id) GROUP BY p.i
    ),
    q2 AS (SELECT qv.i, CAST(qv.x + fb.c AS BIGINT) AS x
           FROM qv JOIN fb USING (i)),
    rel2 AS MATERIALIZED (
      SELECT p.vec_id, CAST(sum(p.x * q2.x) AS BIGINT) AS r2
      FROM pts p JOIN q2 USING (i)
      WHERE p.vec_id <> (SELECT qid FROM q0)
      GROUP BY 1
    ),
    top2 AS MATERIALIZED (
      SELECT vec_id, r2 FROM rel2 ORDER BY r2 DESC, vec_id LIMIT 10
    )
    SELECT t2.vec_id, t2.r2 AS rel2,
           CASE WHEN t1.vec_id IS NULL THEN 0 ELSE 1 END AS was_in_round1
    FROM top2 t2 LEFT JOIN top1 t1 ON t1.vec_id = t2.vec_id
    """,
)
def vector_prf_rocchio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback (Rocchio, β = 1): retrieve top-10 by
    integer dot product, move the query toward their centroid
    (positive-shift floor division — the documented DIV/flooring
    alignment), re-retrieve, and report the new top-10 with a flag for
    survivors from round 1 — the classical two-pass expansion a
    retrieval pipeline layers on the ANN index, with the round-2
    overlap as the built-in drift diagnostic. All arithmetic is exact
    int64 on milli-quantized vectors; both retrieval heads are
    TakeOrdered picks with vec_id tie-breaks. Scale: two corpus passes
    (one per retrieval round), each a broadcast-query dot product;
    the feedback centroid is a 10-row aggregate."""
    emb = load_tables(spark, sf_dir)["embeddings"].select(
        "vec_id",
        F.expr(QUANTIZE_MILLI_EXPR).alias("qe"),
    )
    qid = emb.agg(F.min("vec_id").alias("qid"))
    qv = emb.join(F.broadcast(qid), F.col("vec_id") == F.col("qid")).select(
        F.col("qe").alias("qv")
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    rel = (
        emb.crossJoin(F.broadcast(qv))
        .crossJoin(F.broadcast(qid))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("vec_id", "qe", dot("qe", "qv").alias("r"))
    )
    top1 = rel.orderBy(F.col("r").desc(), "vec_id").limit(10).localCheckpoint()
    fb = (
        top1.select(F.posexplode("qe").alias("i", "x"))
        .groupBy("i")
        .agg(F.expr("CAST((sum(x) + 10 * 1000) DIV 10 - 1000 AS BIGINT)").alias("c"))
    )
    q2 = (
        qv.select(F.posexplode("qv").alias("i", "x"))
        .join(fb, "i")
        .select("i", (F.col("x") + F.col("c")).cast("long").alias("x2"))
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "x2"))), lambda st: st["x2"]
            ).alias("q2")
        )
    )
    rel2 = (
        emb.crossJoin(F.broadcast(q2))
        .crossJoin(F.broadcast(qid))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("vec_id", dot("qe", "q2").alias("r2"))
    )
    top2 = rel2.orderBy(F.col("r2").desc(), "vec_id").limit(10)
    t1_ids = top1.select(F.col("vec_id").alias("t1id"))
    return (
        top2.join(F.broadcast(t1_ids), F.col("vec_id") == F.col("t1id"), "left")
        .select(
            "vec_id",
            F.col("r2").alias("rel2"),
            F.when(F.col("t1id").isNull(), 0).otherwise(1).alias("was_in_round1"),
        )
    )


@query(
    "events_funnel_time_windowed",
    oracle="""
    WITH v AS (
      SELECT user_id, min(epoch_us(ts)) AS v_us
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS c_us
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click'
        AND epoch_us(e.ts) > v.v_us
        AND epoch_us(e.ts) <= v.v_us + 86400000000
      GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) > c.c_us
        AND epoch_us(e.ts) <= c.c_us + 86400000000
      GROUP BY 1
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_viewed,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_clicked_24h,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchased_24h
    """,
)
def events_funnel_time_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-WINDOWED strict funnel: view → click within 24 h of the
    first view → purchase within 24 h of that click. The unwindowed
    events_ordered_funnel overstates conversion (a purchase months
    later still counts); marketing attribution wants the bounded
    version, and the bound makes each stage an interval-predicated
    equi-join on user_id (the as-of family's shape — never a
    cross-product, the window predicate prunes after the hash probe).
    Timestamps are epoch-micros integers throughout. Scale: two
    user-keyed shuffle joins on pre-filtered event subsets, then
    three 1-row combines."""
    from postrack_spark.session import pin_small

    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id", "event_type", F.expr("unix_micros(ts)").alias("us")
    )
    # each per-stage frame feeds the next stage AND its own count —
    # pinned (the events_ordered_funnel pattern): 6 events scans -> 3
    # (one pushdown-filtered scan per stage).
    v = pin_small(
        "tw_funnel_v",
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us")),
    )
    c = pin_small(
        "tw_funnel_c",
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("us") > F.col("v_us"))
            & (F.col("us") <= F.col("v_us") + F.lit(86400000000))
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("c_us")),
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("us") > F.col("c_us"))
            & (F.col("us") <= F.col("c_us") + F.lit(86400000000))
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    nv = v.agg(F.count("*").cast("long").alias("n_viewed"))
    nc = c.agg(F.count("*").cast("long").alias("n_clicked_24h"))
    np_ = p.agg(F.count("*").cast("long").alias("n_purchased_24h"))
    return nv.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(np_))


def aging_from_daily(daily: DataFrame) -> DataFrame:
    """Aging report from a (o_orderstatus, d, n, cents) per-day
    partial frame — shared by the batch query and the streaming view
    twin (the partials are additive; the horizon and buckets are
    re-derived at read time, like the survival twin's censoring)."""
    mx = daily.agg(F.max("d").alias("max_d"))
    aged = daily.crossJoin(F.broadcast(mx)).select(
        "o_orderstatus",
        "n",
        "cents",
        (F.col("max_d") - F.col("d")).alias("age_days"),
    )
    return aged.groupBy(
        "o_orderstatus",
        F.when(F.col("age_days") <= 30, "0-30")
        .when(F.col("age_days") <= 60, "31-60")
        .when(F.col("age_days") <= 90, "61-90")
        .otherwise("90+")
        .alias("age_bucket"),
    ).agg(
        F.sum("n").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


AGING_ORACLE = """
    WITH mx AS (SELECT max(epoch_us(o_orderdate) // 86400000000) AS max_d
                FROM orders),
    aged AS (
      SELECT o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             mx.max_d - epoch_us(o_orderdate) // 86400000000 AS age_days
      FROM orders, mx
    )
    SELECT o_orderstatus,
           CASE WHEN age_days <= 30 THEN '0-30'
                WHEN age_days <= 60 THEN '31-60'
                WHEN age_days <= 90 THEN '61-90'
                ELSE '90+' END AS age_bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM aged
    GROUP BY 1, 2
    """


@query("orders_aging_buckets", oracle=AGING_ORACLE)
def orders_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-book aging report: orders bucketed by days outstanding
    relative to the corpus horizon (0-30/31-60/61-90/90+), split by
    status — the AR-aging shape every finance close reproduces, here
    as pure integer day arithmetic (epoch-micros day indexes, the
    horizon broadcast from a 1-row aggregate, CASE bucket edges).
    One scan + one per-day rollup, then the shared aging_from_daily
    bucketing; bucket count constant."""
    daily = (
        load_tables(spark, sf_dir)["orders"]
        .select(
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            F.expr("unix_micros(o_orderdate) div 86400000000").alias("d"),
        )
        .groupBy("o_orderstatus", "d")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )
    return aging_from_daily(daily)


@query(
    "sample_balanced_classes",
    oracle="""
    WITH ranked AS (
      SELECT label, vec_id,
             row_number() OVER (PARTITION BY label
                                ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn,
             count(*) OVER (PARTITION BY label) AS n_class
      FROM embeddings
    ),
    m AS (SELECT CAST(min(cnt) AS BIGINT) AS m FROM
          (SELECT count(*) AS cnt FROM embeddings GROUP BY label))
    SELECT CAST(label AS INT) AS label,
           CAST(max(n_class) AS BIGINT) AS n_total,
           CAST(count(*) FILTER (rn <= m.m) AS BIGINT) AS n_sampled,
           CAST(sum(vec_id) FILTER (rn <= m.m) AS BIGINT) AS sampled_id_sum
    FROM ranked, m
    GROUP BY label, m.m
    """,
)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every label keeps EXACTLY the
    minority class's count, membership decided by content-hash order —
    the rebalancing draw before training a classifier on skewed
    labels, deterministic across engines and re-partitionings (the
    sample_stratified_proportional discipline: hash-order PARTITIONED
    row_number, never Bernoulli, and an id-sum column that
    value-checks the exact membership set). The minority size is a
    1-row broadcast; per-class ranks are partitioned windows. Scale:
    one shuffle on the class key; skewed classes pre-split via
    operators/skew.py with per-salt quotas."""
    from pyspark.sql import Window as W

    emb = load_tables(spark, sf_dir)["embeddings"].select("label", "vec_id")
    w = W.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    wc = W.partitionBy("label")
    ranked = emb.select(
        "label",
        "vec_id",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n_class"),
    )
    m = (
        emb.groupBy("label")
        .agg(F.count("*").alias("cnt"))
        .agg(F.min("cnt").cast("long").alias("m"))
    )
    keep = F.col("rn") <= F.col("m")
    return (
        ranked.crossJoin(F.broadcast(m))
        .groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.max("n_class").cast("long").alias("n_total"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_sampled"),
            F.sum(F.when(keep, F.col("vec_id"))).cast("long").alias("sampled_id_sum"),
        )
    )


@query(
    "vector_simplified_silhouette",
    oracle="""
    WITH q AS (
      SELECT vec_id, label, i AS dim,
             CAST(floor(embedding[i]::DOUBLE * 1000.0) AS BIGINT) AS x
      FROM embeddings CROSS JOIN generate_series(1, 64) AS g(i)
    ),
    cell AS (
      SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s
      FROM q GROUP BY 1, 2
    ),
    cent AS (
      SELECT label AS clabel, dim,
             CAST((s + n * 1000) // n - 1000 AS BIGINT) AS c
      FROM cell
    ),
    d2 AS (
      SELECT q.vec_id, q.label, cent.clabel,
             CAST(sum((q.x - cent.c) * (q.x - cent.c)) AS BIGINT) AS dist2
      FROM q JOIN cent USING (dim)
      GROUP BY 1, 2, 3
    ),
    ab AS (
      SELECT vec_id, label,
             CAST(max(CASE WHEN clabel = label THEN dist2 END) AS BIGINT) AS a2,
             CAST(min(CASE WHEN clabel <> label THEN dist2 END) AS BIGINT) AS b2
      FROM d2 GROUP BY 1, 2
    ),
    terms AS (
      SELECT label,
             CASE WHEN greatest(a2, b2) = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor(1000000.0 * (sqrt(CAST(b2 AS DOUBLE))
                                               - sqrt(CAST(a2 AS DOUBLE)))
                            / sqrt(CAST(greatest(a2, b2) AS DOUBLE)))
                       AS BIGINT)
             END AS s_micro
      FROM ab
    )
    SELECT CAST(label AS INT) AS label, CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(s_micro) AS BIGINT) AS sum_s_micro,
           CAST((sum(s_micro) + count(*) * 1000000) // (count(*) * 1000) - 1000
                AS BIGINT) AS mean_silhouette_milli
    FROM terms GROUP BY label
    """,
)
def vector_simplified_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per class — the
    clustering-quality companion to vector_fisher_separation: for each
    vector, a = distance to its own class centroid, b = distance to
    the nearest OTHER centroid, s = (b−a)/max(a,b) ∈ [−1, 1]; the full
    silhouette's O(n²) pairwise distances collapse to O(n·k) centroid
    distances, the standard big-data approximation. Exactness:
    embeddings are milli-quantized, centroids use the POSITIVE-SHIFT
    floor division ((s + n·1000) DIV n − 1000 — Σx can be negative and
    Spark DIV truncates where DuckDB floors; the agg_theil_sen_trend
    trick), so every squared distance is an exact int64; each point's
    s is one IEEE expression micro-floored before the per-class
    integer sum, and the class mean reuses the positive shift. Scale:
    one n×k broadcast-centroid join with JVM zip_with dot products —
    the vector_kmeans_lloyd assignment shape; no crossJoin on data."""
    emb = load_tables(spark, sf_dir)["embeddings"].select(
        "vec_id",
        "label",
        F.expr(QUANTIZE_MILLI_EXPR).alias("qe"),
    )
    cell = (
        emb.select(
            "label", F.posexplode("qe").alias("dim0", "x")
        )
        .groupBy("label", "dim0")
        .agg(F.count("*").cast("long").alias("n"), F.sum("x").cast("long").alias("s"))
    )
    cent = cell.select(
        F.col("label").alias("clabel"),
        "dim0",
        F.expr("CAST((s + n * 1000) DIV n - 1000 AS BIGINT)").alias("c"),
    )
    carr = cent.groupBy("clabel").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim0", "c"))), lambda st: st["c"]
        ).alias("carr")
    )
    d2 = emb.crossJoin(F.broadcast(carr)).select(
        "vec_id",
        "label",
        "clabel",
        F.aggregate(
            F.zip_with(F.col("qe"), F.col("carr"), lambda x, c: (x - c) * (x - c)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("dist2"),
    )
    ab = d2.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("dist2")))
        .cast("long")
        .alias("a2"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("dist2")))
        .cast("long")
        .alias("b2"),
    )
    s_micro = F.when(F.greatest("a2", "b2") == 0, F.lit(0).cast("long")).otherwise(
        F.floor(
            F.lit(1000000.0)
            * (F.sqrt(F.col("b2").cast("double")) - F.sqrt(F.col("a2").cast("double")))
            / F.sqrt(F.greatest("a2", "b2").cast("double"))
        ).cast("long")
    )
    return (
        ab.select("label", s_micro.alias("s_micro"))
        .groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.sum("s_micro").cast("long").alias("sum_s_micro"),
            F.expr(
                "CAST((sum(s_micro) + count(*) * 1000000)"
                " DIV (count(*) * 1000) - 1000 AS BIGINT)"
            ).alias("mean_silhouette_milli"),
        )
    )


@query(
    "events_bounce_rate_daily",
    oracle="""
    WITH flagged AS (
      SELECT user_id, epoch_us(ts) AS us, event_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    sess AS (
      SELECT user_id, us,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS sid
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, sid,
             CAST(min(us) // 86400000000 AS BIGINT) AS start_day,
             CAST(count(*) AS BIGINT) AS n_events
      FROM sess GROUP BY 1, 2
    )
    SELECT start_day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 10000 // count(*)
                AS BIGINT) AS bounce_pp10k
    FROM per_session GROUP BY start_day
    """,
)
def events_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: the share of 30-minute-gap sessions that
    contain exactly one event, attributed to the session's START day —
    the engagement-health headline next to events_dau_wau_stickiness.
    Sessionization is the sessionize_user_events recipe on the
    epoch-micros convention (per-user partitioned lag + running flag
    sum with an (us, event_id) total order — the ROWS-frame cumsum is
    per-user, never global); bounce shares are integer pp10k. BOTH the
    flag window AND the running-sum frame carry the (us, event_id)
    tie-break: a ROWS cumsum over a non-total order is shuffle-order
    nondeterministic when timestamps tie (the prefix_sums_by_key rule
    in CLAUDE.md — flags of equal-us rows do NOT commute when one of
    them opens the session). Scale: one user shuffle, then a
    sessions-sized rollup."""
    from pyspark.sql import Window as W

    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id", F.expr("unix_micros(ts)").alias("us"), "event_id"
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.select(
        "user_id",
        "us",
        "event_id",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > 1800000000),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    w_run = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    per_session = (
        flagged.withColumn("sid", F.sum("new_session").over(w_run))
        .groupBy("user_id", "sid")
        .agg(
            F.expr("CAST(min(us) DIV 86400000000 AS BIGINT)").alias("start_day"),
            F.count("*").cast("long").alias("n_events"),
        )
    )
    return per_session.groupBy("start_day").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounces"),
        F.expr(
            "CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 10000"
            " DIV count(*) AS BIGINT)"
        ).alias("bounce_pp10k"),
    )


@query(
    "agg_revenue_waterfall",
    oracle="""
    WITH lines AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS gross_c,
             CAST(floor(CAST(round(l_extendedprice * 100) AS BIGINT) * l_discount)
                  AS BIGINT) AS disc_c,
             CAST(floor((CAST(round(l_extendedprice * 100) AS BIGINT)
                         - CAST(floor(CAST(round(l_extendedprice * 100) AS BIGINT)
                                      * l_discount) AS BIGINT)) * l_tax)
                  AS BIGINT) AS tax_c
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(sum(gross_c) AS BIGINT) AS gross_cents,
           CAST(sum(disc_c) AS BIGINT) AS discount_cents,
           CAST(sum(tax_c) AS BIGINT) AS tax_cents,
           CAST(sum(gross_c) - sum(disc_c) + sum(tax_c) AS BIGINT) AS net_cents
    FROM lines GROUP BY l_returnflag
    """,
)
def agg_revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue waterfall per return flag: gross → −discount → +tax →
    net, the finance bridge that explains WHERE the money between list
    price and invoice total went (the decomposition under TPC-H q1's
    aggregate expressions). Per line, the discount and tax amounts are
    floored to integer cents at the LINE level — exactly how invoicing
    rounds — so the per-flag sums are exact int64 and the bridge
    reconciles by construction (net = gross − disc + tax, an identity
    over the integer columns, unlike float-summed q1 where the bridge
    would drift). The double products (cents × discount rate) are
    identical IEEE expressions cross-engine before the floor. One
    map-side pass, one aggregation."""
    lines = load_tables(spark, sf_dir)["lineitem"].select(
        "l_returnflag",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("gross_c"),
        F.expr(
            "CAST(floor(CAST(round(l_extendedprice * 100) AS BIGINT) * l_discount)"
            " AS BIGINT)"
        ).alias("disc_c"),
        F.expr(
            "CAST(floor((CAST(round(l_extendedprice * 100) AS BIGINT)"
            " - CAST(floor(CAST(round(l_extendedprice * 100) AS BIGINT)"
            " * l_discount) AS BIGINT)) * l_tax) AS BIGINT)"
        ).alias("tax_c"),
    )
    return lines.groupBy("l_returnflag").agg(
        F.sum("gross_c").cast("long").alias("gross_cents"),
        F.sum("disc_c").cast("long").alias("discount_cents"),
        F.sum("tax_c").cast("long").alias("tax_cents"),
        (F.sum("gross_c") - F.sum("disc_c") + F.sum("tax_c"))
        .cast("long")
        .alias("net_cents"),
    )


@query(
    "agg_runs_test",
    oracle="""
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS d, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    pre AS (
      SELECT a.d, a.c,
             CAST((SELECT count(*) FROM daily h WHERE h.d <= a.d) AS BIGINT) AS k,
             CAST((SELECT count(*) FROM daily h
                   WHERE h.c < a.c OR (h.c = a.c AND h.d <= a.d)) AS BIGINT) AS kv
      FROM daily a
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    med AS (
      SELECT p.c AS m FROM pre p, tot t WHERE p.kv = (t.n + 1) // 2
    ),
    signs AS (
      SELECT p.k, CASE WHEN p.c > med.m THEN 1 ELSE 0 END AS above
      FROM pre p, med
    ),
    trans AS (
      SELECT CAST(sum(CASE WHEN a.above <> b.above THEN 1 ELSE 0 END) AS BIGINT)
               AS flips
      FROM signs a JOIN signs b ON b.k = a.k + 1
    ),
    m2 AS (
      SELECT CAST(sum(above) AS BIGINT) AS n1,
             CAST(count(*) - sum(above) AS BIGINT) AS n2
      FROM signs
    )
    SELECT t.n AS n_days, m2.n1 AS n_above, m2.n2 AS n_below,
           CAST(trans.flips + 1 AS BIGINT) AS runs,
           CASE WHEN 2 * m2.n1 * m2.n2 <= t.n THEN CAST(NULL AS BIGINT)
                ELSE CAST(floor(1000000.0
                * (CAST(trans.flips + 1 AS DOUBLE)
                   - (1.0 + 2.0 * CAST(m2.n1 AS DOUBLE) * CAST(m2.n2 AS DOUBLE)
                      / CAST(t.n AS DOUBLE)))
                / sqrt(2.0 * CAST(m2.n1 AS DOUBLE) * CAST(m2.n2 AS DOUBLE)
                       * (2.0 * CAST(m2.n1 AS DOUBLE) * CAST(m2.n2 AS DOUBLE)
                          - CAST(t.n AS DOUBLE))
                       / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)
                          * (CAST(t.n AS DOUBLE) - 1.0)))) AS BIGINT)
           END AS z_ppm
    FROM tot t, med, trans, m2
    """,
)
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily event-count series: are
    above-median and below-median days randomly interleaved, or does
    the series trend/cluster? (The randomness sanity check behind
    events_mann_kendall_trend — a trending series fails both.) The
    median is the type-1 order statistic picked via a value-rank
    self-join on the calendar-bounded daily frame (ties-at-median count
    as 'below', the classical dichotomization); runs come from an
    ADJACENCY SELF-JOIN on the day index (k+1 = k), not a window — the
    tiny-frame pattern that keeps the audit window-free; the
    continuity-free Z assembles integer counts in one ppm-floored IEEE
    expression. One data-sized aggregate; everything else is
    days-sized."""
    from postrack_spark.operators.stats import runs_test

    daily = (
        load_tables(spark, sf_dir)["events"]
        .select(F.expr("unix_micros(ts) div 86400000000").alias("d"))
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("c"))
    )
    return runs_test(daily, "d", "c")


@query(
    "text_term_burstiness",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    stats AS (
      SELECT w, CAST(count(*) AS BIGINT) AS tf,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY 1
    )
    SELECT w, tf, df,
           CAST(tf * 1000 // df AS BIGINT) AS burstiness_milli
    FROM stats
    ORDER BY df DESC, w LIMIT 20
    """,
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale term burstiness for the 20 highest-df terms: mean
    occurrences per CONTAINING document (tf/df, integer milli) — the
    IR statistic that separates topical terms (bursty: many mentions
    once a document is about them) from function words (uniform). The
    (doc, term) relation is one explode + aggregation (map-side
    combined); the top-20 head is orderBy().limit(20) —
    TakeOrderedAndProject, the no-window top-k shape
    (text_corpus_token_freq's re-plan). Integer ratios: bit-exact."""
    from postrack_spark.functions.text import tokens
    from postrack_spark.session import fan_out

    docs = fan_out(load_tables(spark, sf_dir)["documents"])
    stats = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(
            F.count("*").cast("long").alias("tf"),
            F.count_distinct("doc_id").cast("long").alias("df"),
        )
    )
    return (
        stats.select(
            "w",
            "tf",
            "df",
            F.expr("CAST(tf * 1000 DIV df AS BIGINT)").alias("burstiness_milli"),
        )
        .orderBy(F.col("df").desc(), "w")
        .limit(20)
    )


@query(
    "quality_hll_error_certify",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
)
def quality_hll_error_certify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-contract certification for HyperLogLog — the
    quality_quantile_sketch_certify pattern applied to the OTHER
    workhorse sketch: approx_count_distinct's estimate is
    engine-specific (never directly gateable), but its ERROR CONTRACT
    is a deterministic boolean. Each event type's HLL estimate (default
    rsd 5%) must land within 3σ = 15% of the exact distinct-user count
    computed alongside; the oracle asserts the exact counts and
    `within_bound = TRUE`, so a sketch drifting out of contract fails
    the hash gate. This is how nondeterministic estimators get
    first-class correctness coverage: gate the certificate, not the
    estimate. One aggregation pass computes both counts."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").cast("long").alias("exact_users"),
            F.approx_count_distinct("user_id").cast("long").alias("est"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                <= F.lit(0.15) * F.col("exact_users").cast("double")
            ).alias("within_bound"),
        )
    )


@query(
    "window_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT epoch_us(o_orderdate) // 86400000000 AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    rm AS (
      SELECT a.d, a.y,
             CAST((SELECT max(h.y) FROM daily h WHERE h.d <= a.d) AS BIGINT) AS peak
      FROM daily a
    )
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           d AS trough_day, peak AS peak_dollars, y AS level_dollars,
           CAST(peak - y AS BIGINT) AS max_drawdown_dollars
    FROM rm
    ORDER BY peak - y DESC, d LIMIT 1
    """,
)
def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily-revenue series: the worst decline
    from a running peak to the current level, and the day it bottoms —
    the risk statistic a finance reviewer asks for right after the
    trend queries (a cumulative-revenue series is monotone, so the
    classical definition applies to the LEVEL series). The running
    peak is a suffix-free prefix max over the calendar-bounded daily
    frame (broadcast self-join, the Lorenz pattern — not a global
    window), the pick is orderBy().limit(1) with earliest-day
    tie-break, and everything is integer dollars. One data-sized
    aggregate; days-sized everything else."""
    from postrack_spark.session import pin_small

    # days-sized frame with three consumers (prefix-max self-join both
    # sides, the count) — pinned: one orders scan, not 3.
    daily = pin_small(
        "mdd_daily",
        load_tables(spark, sf_dir)["orders"]
        .select(
            F.expr("unix_micros(o_orderdate) div 86400000000").alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("d")
        .agg(F.expr("CAST(sum(cents) DIV 100 AS BIGINT)").alias("y")),
    )
    h = daily.select(F.col("d").alias("hd"), F.col("y").alias("hy"))
    rm = (
        daily.join(F.broadcast(h), F.col("hd") <= F.col("d"))
        .groupBy("d", "y")
        .agg(F.max("hy").cast("long").alias("peak"))
    )
    n = daily.agg(F.count("*").cast("long").alias("n_days"))
    return (
        rm.crossJoin(F.broadcast(n))
        .select(
            "n_days",
            F.col("d").alias("trough_day"),
            F.col("peak").alias("peak_dollars"),
            F.col("y").alias("level_dollars"),
            (F.col("peak") - F.col("y")).cast("long").alias("max_drawdown_dollars"),
        )
        .orderBy(F.col("max_drawdown_dollars").desc(), "trough_day")
        .limit(1)
    )


@query(
    "events_ljung_box_q",
    oracle="""
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS d, CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s FROM daily
    ),
    den AS (
      SELECT CAST(sum((m.n * daily.y - m.s) * (m.n * daily.y - m.s)) AS BIGINT)
               AS den
      FROM daily, mom m
    ),
    lags AS (
      SELECT k.k,
             CAST(sum((m.n * a.y - m.s) * (m.n * b.y - m.s)) AS BIGINT) AS num,
             CAST(count(*) AS BIGINT) AS m_k
      FROM generate_series(1, 7) AS k(k)
      JOIN daily a ON TRUE
      JOIN daily b ON b.d = a.d + k.k
      CROSS JOIN mom m
      GROUP BY k.k
    ),
    terms AS (
      SELECT CAST(sum(CAST(floor(1000000.0
                   * (CAST(num AS DOUBLE) / CAST(den.den AS DOUBLE))
                   * (CAST(num AS DOUBLE) / CAST(den.den AS DOUBLE))
                   / CAST(m_k AS DOUBLE)) AS BIGINT)) AS BIGINT) AS tsum,
             CAST(count(*) AS BIGINT) AS n_lags
      FROM lags, den
    )
    SELECT m.n AS n_days, t.n_lags,
           CAST(m.n * (m.n + 2) * t.tsum // 1000 AS BIGINT) AS q_milli
    FROM mom m, terms t
    """,
)
def events_ljung_box_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on daily event counts: is the series
    white noise across lags 1..7 jointly? — the formal conclusion the
    events_acf_lags profile eyeballs. Autocorrelations use n-scaled
    integer deviations (n·y − S, exact int64 — daily counts keep
    headroom where revenue cents would not), each lag's r²/m term is
    ONE IEEE expression micro-floored BEFORE the cross-lag integer sum
    (the floored-contribution rule), and Q = n(n+2)·Σ lands via a
    single positive DIV in milli-units. Lag pairs join on the calendar
    day index, so m_k is the realized pair count (= n−k on contiguous
    calendars — documented deviation from the textbook's n−k on gapped
    ones). All frames after the daily aggregate are days-sized."""
    from postrack_spark.session import pin_small

    # days-sized frame, four consumers (moments, deviation denominator,
    # lag pairs twice) — pinned: one events pass (measured 6 before).
    daily = pin_small(
        "ljb_daily",
        load_tables(spark, sf_dir)["events"]
        .select(F.expr("unix_micros(ts) div 86400000000").alias("d"))
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("y")),
    )
    mom = daily.agg(
        F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("s")
    )
    dm = daily.crossJoin(F.broadcast(mom))
    den = dm.agg(
        F.sum(
            (F.col("n") * F.col("y") - F.col("s"))
            * (F.col("n") * F.col("y") - F.col("s"))
        )
        .cast("long")
        .alias("den")
    )
    ks = spark.range(1, 8).select(F.col("id").alias("k"))
    b = daily.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    lags = (
        dm.crossJoin(F.broadcast(ks))
        .join(F.broadcast(b), F.col("db") == F.col("d") + F.col("k"))
        .groupBy("k")
        .agg(
            F.sum(
                (F.col("n") * F.col("y") - F.col("s"))
                * (F.col("n") * F.col("yb") - F.col("s"))
            )
            .cast("long")
            .alias("num"),
            F.count("*").cast("long").alias("m_k"),
        )
    )
    terms = (
        lags.crossJoin(F.broadcast(den))
        .agg(
            F.sum(
                F.floor(
                    F.lit(1000000.0)
                    * (F.col("num").cast("double") / F.col("den").cast("double"))
                    * (F.col("num").cast("double") / F.col("den").cast("double"))
                    / F.col("m_k").cast("double")
                ).cast("long")
            )
            .cast("long")
            .alias("tsum"),
            F.count("*").cast("long").alias("n_lags"),
        )
    )
    return (
        mom.crossJoin(F.broadcast(terms))  # 1-row combine
        .select(
            F.col("n").alias("n_days"),
            "n_lags",
            F.expr("CAST(n * (n + 2) * tsum DIV 1000 AS BIGINT)").alias("q_milli"),
        )
    )


@query(
    "events_dwell_time_by_type",
    oracle="""
    WITH seq AS (
      SELECT event_type, epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id) AS nxt
      FROM events
    )
    SELECT event_type,
           CAST(count(nxt) AS BIGINT) AS n_dwells,
           CAST(sum((nxt - us) // 1000000) AS BIGINT) AS total_dwell_sec,
           CAST(sum((nxt - us) // 1000000) // count(nxt) AS BIGINT)
             AS mean_dwell_sec
    FROM seq
    WHERE nxt IS NOT NULL
    GROUP BY event_type
    """,
)
def events_dwell_time_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell time per event type: how long a user stays on an event
    before their NEXT action (lead over the per-user timeline) —
    the engagement metric that ranks screens by attention, attributed
    to the event being dwelt on. Per-row dwell is an integer-seconds
    floor of the epoch-micros difference (positive — lead is later by
    the window order); the per-type mean is one positive DIV. The
    lead window is per-user partitioned with an (us, event_id) total
    order. One user shuffle + one per-type fold."""
    from pyspark.sql import Window as W

    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id", "event_type", F.expr("unix_micros(ts)").alias("us"), "event_id"
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    seq = ev.select(
        "event_type", "us", F.lead("us").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    return seq.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_dwells"),
        F.sum(F.expr("(nxt - us) DIV 1000000")).cast("long").alias("total_dwell_sec"),
        F.expr(
            "CAST(sum((nxt - us) DIV 1000000) DIV count(*) AS BIGINT)"
        ).alias("mean_dwell_sec"),
    )


@query(
    "vector_centroid_distances",
    oracle="""
    WITH q AS (
      SELECT label, i AS dim,
             CAST(floor(embedding[i]::DOUBLE * 1000.0) AS BIGINT) AS x
      FROM embeddings CROSS JOIN generate_series(1, 64) AS g(i)
    ),
    cell AS (
      SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s
      FROM q GROUP BY 1, 2
    ),
    cent AS (
      SELECT label, dim, CAST((s + n * 1000) // n - 1000 AS BIGINT) AS c
      FROM cell
    )
    SELECT CAST(a.label AS INT) AS label_a, CAST(b.label AS INT) AS label_b,
           CAST(sum((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS dist2_milli2
    FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
    GROUP BY 1, 2
    """,
)
def vector_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-centroid distance matrix (upper triangle): which label
    pairs sit closest in embedding space — the confusion-risk map that
    vector_simplified_silhouette summarizes per class, exposed
    pairwise. Centroids reuse the milli-quantized positive-shift
    division; squared distances are exact int64 sums over dims. The
    corpus is touched once for the per-(label, dim) sums; the k²·d
    pair frame is constant-bounded. At 100 TB this is the cheap daily
    report you run INSTEAD of any pairwise-vector scan."""
    emb = load_tables(spark, sf_dir)["embeddings"].select(
        "label",
        F.expr(QUANTIZE_MILLI_EXPR).alias("qe"),
    )
    cell = (
        emb.select("label", F.posexplode("qe").alias("dim0", "x"))
        .groupBy("label", "dim0")
        .agg(F.count("*").cast("long").alias("n"), F.sum("x").cast("long").alias("s"))
    )
    cent = cell.select(
        "label",
        "dim0",
        F.expr("CAST((s + n * 1000) DIV n - 1000 AS BIGINT)").alias("c"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        F.col("dim0").alias("bdim"),
        F.col("c").alias("cb"),
    )
    return (
        cent.join(
            F.broadcast(b),
            (F.col("dim0") == F.col("bdim")) & (F.col("label") < F.col("label_b")),
        )
        .groupBy(
            F.col("label").cast("int").alias("label_a"),
            F.col("label_b").cast("int").alias("label_b"),
        )
        .agg(
            F.sum((F.col("c") - F.col("cb")) * (F.col("c") - F.col("cb")))
            .cast("long")
            .alias("dist2_milli2")
        )
    )


_TRY_ARITH_SQL_SPARK = """
    SELECT l_linenumber,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN try_divide(CAST(round(l_extendedprice * 100) AS BIGINT),
                                         CAST(l_quantity AS BIGINT))
                          IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_safe,
           CAST(sum(CASE WHEN try_add(9223372036854775807,
                                      CAST(round(l_extendedprice * 100) AS BIGINT))
                          IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow_null
    FROM lineitem
    GROUP BY l_linenumber
"""


@query(
    "scalar_try_arithmetic",
    oracle="""
    SELECT l_linenumber,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_safe,
           CAST(count(*) AS BIGINT) AS n_overflow_null
    FROM lineitem
    GROUP BY l_linenumber
    """,
)
def scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic surface (try_divide / try_add): under ANSI
    mode, arithmetic that would error returns NULL through the try_*
    family instead — the scalar_try_cast_safety pattern extended to
    arithmetic. The query CERTIFIES the semantics: every per-line
    try_divide succeeds (quantities are nonzero, so n_safe = n_rows)
    and every deliberately-overflowed try_add(int64max, cents) yields
    NULL (n_overflow_null = n_rows) — the oracle asserts both counts
    equal the row count, so a semantics change in either function
    fails the gate. DuckDB has no try_* family; the oracle states the
    CONTRACT rather than re-running the ops — the
    quality_hll_error_certify certification pattern."""
    load_tables(spark, sf_dir)  # registers temp views
    return spark.sql(_TRY_ARITH_SQL_SPARK)


@query(
    "quality_xmr_control_chart",
    oracle="""
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS d, CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    mr AS (
      SELECT CAST(sum(abs(a.y - b.y)) AS BIGINT) AS smr,
             CAST(count(*) AS BIGINT) AS nr
      FROM daily a JOIN daily b ON b.d = a.d - 1
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s FROM daily
    )
    SELECT m.n AS n_days, r.nr AS n_ranges,
           CAST(r.smr * 1000 // r.nr AS BIGINT) AS mr_bar_milli,
           CAST((SELECT sum(CASE WHEN 100 * daily.y * m.n * r.nr
                                      > 100 * m.s * r.nr + 266 * r.smr * m.n
                                 THEN 1 ELSE 0 END)
                 FROM daily) AS BIGINT) AS n_above_ucl,
           CAST((SELECT sum(CASE WHEN 100 * daily.y * m.n * r.nr
                                      < 100 * m.s * r.nr - 266 * r.smr * m.n
                                 THEN 1 ELSE 0 END)
                 FROM daily) AS BIGINT) AS n_below_lcl
    FROM mom m, mr r
    """,
)
def quality_xmr_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XmR (individuals/moving-range) control chart on daily event
    volume — classical SPC: control limits mean ± 2.66·mR̄, out-of-
    control days counted on each side. The entire chart is EXACT
    integer arithmetic: the 2.66 constant and both rational means
    cross-multiply away (flag y when 100·y·n·nR > 100·S·nR +
    266·SmR·n), so no floats exist anywhere — the strongest gate shape
    this engine has. Moving ranges come from a calendar-adjacency
    self-join (d−1 = d; calendar gaps simply contribute no range — the
    runs-test convention), never a window. One data-sized aggregate;
    days-sized everything else."""
    from postrack_spark.session import pin_small

    # days-sized frame with four consumers (adjacency pair, ranges,
    # moments, flag scan) — pinned: one events pass, not seven.
    daily = pin_small(
        "xmr_daily",
        load_tables(spark, sf_dir)["events"]
        .select(F.expr("unix_micros(ts) div 86400000000").alias("d"))
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("y")),
    )
    b = daily.select((F.col("d") + 1).alias("d"), F.col("y").alias("yb"))
    mr = (
        daily.join(F.broadcast(b), "d")
        .agg(
            F.sum(F.abs(F.col("y") - F.col("yb"))).cast("long").alias("smr"),
            F.count("*").cast("long").alias("nr"),
        )
    )
    mom = daily.agg(
        F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("s")
    )
    flags = (
        daily.crossJoin(F.broadcast(mom))
        .crossJoin(F.broadcast(mr))
        .agg(
            F.sum(
                F.when(
                    F.lit(100) * F.col("y") * F.col("n") * F.col("nr")
                    > F.lit(100) * F.col("s") * F.col("nr")
                    + F.lit(266) * F.col("smr") * F.col("n"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_above_ucl"),
            F.sum(
                F.when(
                    F.lit(100) * F.col("y") * F.col("n") * F.col("nr")
                    < F.lit(100) * F.col("s") * F.col("nr")
                    - F.lit(266) * F.col("smr") * F.col("n"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_below_lcl"),
        )
    )
    return (
        mom.crossJoin(F.broadcast(mr))  # 1-row combines
        .crossJoin(F.broadcast(flags))
        .select(
            F.col("n").alias("n_days"),
            F.col("nr").alias("n_ranges"),
            F.expr("CAST(smr * 1000 DIV nr AS BIGINT)").alias("mr_bar_milli"),
            "n_above_ucl",
            "n_below_lcl",
        )
    )


@query(
    "agg_herfindahl_concentration",
    oracle="""
    WITH rev AS (
      SELECT p.p_brand,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev),
    shares AS (
      SELECT p_brand, CAST(cents * 10000 // tot.t AS BIGINT) AS share_pp10k
      FROM rev, tot
    )
    SELECT CAST(count(*) AS BIGINT) AS n_brands,
           CAST(max(share_pp10k) AS BIGINT) AS top_share_pp10k,
           CAST(sum(share_pp10k * share_pp10k) AS BIGINT) AS hhi_pp10k2
    FROM shares
    """,
)
def agg_herfindahl_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of brand revenue — the
    antitrust-grade market-structure scalar next to agg_pareto_abc's
    classes: HHI = Σ share², here with shares floored to integer
    pp10k BEFORE squaring (a defined statistic, the floored-
    contribution rule — the float HHI can never hash cross-engine).
    10000² = monopoly; < 1.5e6 in these units ≈ the 'unconcentrated'
    DOJ threshold. Plan: one broadcast dim join (part is the small
    side), one brand rollup, a 1-row total combine."""
    t = load_tables(spark, sf_dir)
    rev = (
        t["lineitem"]
        .select(
            "l_partkey",
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
        .join(F.broadcast(t["part"].select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("t"))
    shares = rev.crossJoin(F.broadcast(tot)).select(
        "p_brand", F.expr("CAST(cents * 10000 DIV t AS BIGINT)").alias("share_pp10k")
    )
    return shares.agg(
        F.count("*").cast("long").alias("n_brands"),
        F.max("share_pp10k").cast("long").alias("top_share_pp10k"),
        F.sum(F.col("share_pp10k") * F.col("share_pp10k"))
        .cast("long")
        .alias("hhi_pp10k2"),
    )


CMS_ORACLE = """
    WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
    cells AS (
      SELECT r.r,
             ('0x' || substr(md5(r.r::VARCHAR || ':' || ev.k), 1, 8))::BIGINT % 256
               AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM ev CROSS JOIN generate_series(0, 3) AS r(r)
      GROUP BY 1, 2
    ),
    top10 AS (
      SELECT k, CAST(count(*) AS BIGINT) AS true_count
      FROM ev GROUP BY k ORDER BY true_count DESC, k LIMIT 10
    ),
    probes AS (
      SELECT t.k, t.true_count, r.r,
             ('0x' || substr(md5(r.r::VARCHAR || ':' || t.k), 1, 8))::BIGINT % 256
               AS bucket
      FROM top10 t CROSS JOIN generate_series(0, 3) AS r(r)
    )
    SELECT p.k AS user_key, max(p.true_count) AS true_count,
           CAST(min(c.c) AS BIGINT) AS cms_estimate,
           CAST(min(c.c) - max(p.true_count) AS BIGINT) AS overcount
    FROM probes p JOIN cells c ON c.r = p.r AND c.bucket = p.bucket
    GROUP BY p.k
    """


def cms_report(cells: DataFrame, user_counts: DataFrame) -> DataFrame:
    """CMS probe report from a (r, bucket, c) cell relation and a
    (k, true_count) per-user count relation — shared by the batch
    query and the streaming maintenance twin (both relations are
    additive)."""
    top10 = (
        user_counts.orderBy(F.col("true_count").desc(), "k").limit(10)
    )
    rs = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("r")
    probes = top10.select("k", "true_count", rs).select(
        "k", "true_count", "r", cms_bucket(F.col("r"), F.col("k")).alias("bucket")
    )
    return (
        cells.join(F.broadcast(probes), ["r", "bucket"])
        .groupBy(F.col("k").alias("user_key"))
        .agg(
            F.max("true_count").alias("true_count"),
            F.min("c").cast("long").alias("cms_estimate"),
            (F.min("c") - F.max("true_count")).cast("long").alias("overcount"),
        )
    )


@query("agg_count_min_sketch", oracle=CMS_ORACLE)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch with PORTABLE determinism: 4 hash rows × 256
    buckets over per-user event counts, probed for the 10 heaviest
    users. Engine-native sketches (HLL, GK) are nondeterministic and
    get certificate gates (quality_hll_error_certify); this CMS
    instead derives its hash rows from md5 — the engine-portable hash
    (functions/text.py rule) — so the ENTIRE sketch, estimates
    included, is bit-reproducible cross-engine and hash-gates
    directly. The estimate ≥ truth invariant surfaces as a
    non-negative overcount column. Scale: the sketch is a groupBy onto
    1024 cells regardless of key cardinality — the point of CMS — and
    the probe side is a constant 40-row broadcast join."""
    ev = load_tables(spark, sf_dir)["events"].select(
        F.col("user_id").cast("string").alias("k")
    )
    rs = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("r")
    cells = (
        ev.select("k", rs)
        .select("k", "r", cms_bucket(F.col("r"), F.col("k")).alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count("*").cast("long").alias("c"))
    )
    user_counts = ev.groupBy("k").agg(
        F.count("*").cast("long").alias("true_count")
    )
    return cms_report(cells, user_counts)


@query(
    "events_haar_wavelet_energy",
    oracle="""
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS d, CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT a.d, a.y,
             CAST((SELECT count(*) FROM daily h WHERE h.d <= a.d) AS BIGINT) AS k
      FROM daily a
    ),
    l1 AS (
      SELECT (a.k + 1) // 2 AS k, a.y + b.y AS s, a.y - b.y AS dd
      FROM idx a JOIN idx b ON b.k = a.k + 1 AND a.k % 2 = 1
    ),
    l2 AS (
      SELECT (a.k + 1) // 2 AS k, a.s + b.s AS s, a.s - b.s AS dd
      FROM l1 a JOIN l1 b ON b.k = a.k + 1 AND a.k % 2 = 1
    ),
    l3 AS (
      SELECT (a.k + 1) // 2 AS k, a.s + b.s AS s, a.s - b.s AS dd
      FROM l2 a JOIN l2 b ON b.k = a.k + 1 AND a.k % 2 = 1
    )
    SELECT 1 AS level, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(dd * dd) AS BIGINT) AS energy FROM l1
    UNION ALL
    SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(dd * dd) AS BIGINT) FROM l2
    UNION ALL
    SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(dd * dd) AS BIGINT) FROM l3
    """,
)
def events_haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution (Haar wavelet) energy decomposition of the
    daily event-count series: detail energy at 2-day, 4-day, and 8-day
    scales — where the variance LIVES across time scales (daily noise
    vs weekly structure), the question ACF answers pointwise and this
    answers band-wise. The UNNORMALIZED Haar transform (s = a+b,
    d = a−b, no √2) keeps every coefficient an exact integer; each
    level is an even/odd adjacency self-join on the rank index
    (calendar-bounded frames, broadcast — no window), odd tails drop
    (the standard dyadic truncation). Energies are Σd² in int64. One
    data-sized aggregate; three days-sized join rounds."""
    daily = (
        load_tables(spark, sf_dir)["events"]
        .select(F.expr("unix_micros(ts) div 86400000000").alias("d"))
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("y"))
    )
    h = daily.select(F.col("d").alias("hd"))
    idx = (
        daily.join(F.broadcast(h), F.col("hd") <= F.col("d"))
        .groupBy("d", "y")
        .agg(F.count("*").cast("long").alias("k"))
        .select("k", F.col("y").alias("s"))
    )

    def level_up(frame: DataFrame) -> DataFrame:
        b = frame.select((F.col("k") - 1).alias("k"), F.col("s").alias("sb"))
        return (
            frame.filter(F.col("k") % 2 == 1)
            .join(F.broadcast(b), "k")
            .select(
                F.expr("CAST((k + 1) DIV 2 AS BIGINT)").alias("k"),
                (F.col("s") + F.col("sb")).cast("long").alias("s"),
                (F.col("s") - F.col("sb")).cast("long").alias("dd"),
            )
        )

    out = None
    frame = idx
    for level in (1, 2, 3):
        frame = level_up(frame).localCheckpoint()
        e = frame.agg(
            F.lit(level).alias("level"),
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.col("dd") * F.col("dd")).cast("long").alias("energy"),
        )
        out = e if out is None else out.unionByName(e)
    return out


@query(
    "events_seasonal_decomposition",
    oracle="""
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS d, CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    dows AS (
      SELECT d % 7 AS dow, d, y FROM daily
    ),
    seas AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
             CAST(1000 * sum(y) // count(*) AS BIGINT) AS seasonal_milli
      FROM dows GROUP BY dow
    )
    SELECT s.dow, s.n_days, s.seasonal_milli,
           CAST(sum((1000 * w.y - s.seasonal_milli)
                    * (1000 * w.y - s.seasonal_milli)) AS BIGINT)
             AS ss_remainder_milli2
    FROM dows w JOIN seas s ON s.dow = w.dow
    GROUP BY s.dow, s.n_days, s.seasonal_milli
    """,
)
def events_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal decomposition of daily volume by day-of-week: the
    additive model y = seasonal(dow) + remainder with the seasonal
    component as per-dow means (milli-floored via positive DIV — the
    poor-man's STL whose moving-average seasonality would need float
    smoothing) and the remainder's sum-of-squares reported per dow —
    how much variance the weekly profile fails to explain, the number
    that justifies (or kills) the seasonal-naive forecast
    (events_seasonal_naive_error). Day-of-week is integer epoch
    arithmetic (the heatmap convention). One data-sized aggregate;
    the dow join is a 7-row broadcast."""
    daily = (
        load_tables(spark, sf_dir)["events"]
        .select(F.expr("unix_micros(ts) div 86400000000").alias("d"))
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("y"))
    )
    dows = daily.select((F.col("d") % 7).alias("dow"), "y")
    seas = dows.groupBy("dow").agg(
        F.count("*").cast("long").alias("n_days"),
        F.expr("CAST(1000 * sum(y) DIV count(*) AS BIGINT)").alias("seasonal_milli"),
    )
    return (
        dows.join(F.broadcast(seas), "dow")
        .groupBy("dow", "n_days", "seasonal_milli")
        .agg(
            F.sum(
                (F.lit(1000) * F.col("y") - F.col("seasonal_milli"))
                * (F.lit(1000) * F.col("y") - F.col("seasonal_milli"))
            )
            .cast("long")
            .alias("ss_remainder_milli2")
        )
    )


@query(
    "orders_sequence_gap_audit",
    oracle="""
    WITH keys AS (SELECT DISTINCT o_orderkey AS k FROM orders),
    r AS (SELECT k, row_number() OVER (ORDER BY k) AS rn FROM keys),
    adj AS (
      SELECT a.k AS ka, CAST(b.k - a.k - 1 AS BIGINT) AS gap
      FROM r a JOIN r b ON b.rn = a.rn + 1
    )
    SELECT CAST((SELECT count(*) FROM keys) AS BIGINT) AS n_keys,
           CAST((SELECT max(k) - min(k) + 1 - count(*) FROM keys) AS BIGINT)
             AS missing_total,
           CAST((SELECT max(gap) FROM adj) AS BIGINT) AS largest_gap,
           CAST((SELECT min(ka) FROM adj
                 WHERE gap = (SELECT max(gap) FROM adj)) AS BIGINT)
             AS gap_after_key
    """,
)
def orders_sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap audit on the order-key space: total missing keys
    in [min, max] and the largest contiguous hole (with the key it
    follows) — the invoice-numbering completeness check an auditor
    runs (and a CDC consumer runs on LSN-like sequences to spot
    capture gaps; cdc_sequence_integrity's per-key cousin at the
    keyspace level). Adjacency on the DATA-SIZED key frame comes from
    operators/ranking.global_row_number (range shuffle, zero
    WindowExec) self-joined on rn+1 — the ranked frame is pinned with
    localCheckpoint first because BOTH subplans reference the rank
    output (the documented two-consumer trap in ranking.py). The
    equi-join on rn is hash-co-partitioned. Totals are exact integers."""
    from postrack_spark.operators.ranking import global_row_number

    keys = (
        load_tables(spark, sf_dir)["orders"]
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    ranked = global_row_number(keys, ["k"]).localCheckpoint()
    b = ranked.select((F.col("rn") - 1).alias("rn"), F.col("k").alias("kb"))
    adj = ranked.join(b, "rn").select(
        F.col("k").alias("ka"),
        (F.col("kb") - F.col("k") - 1).cast("long").alias("gap"),
    )
    stats = keys.agg(
        F.count("*").cast("long").alias("n_keys"),
        (F.max("k") - F.min("k") + 1 - F.count("*")).cast("long").alias(
            "missing_total"
        ),
    )
    mx = adj.agg(F.max("gap").cast("long").alias("largest_gap"))
    where_ = (
        adj.crossJoin(F.broadcast(mx))
        .filter(F.col("gap") == F.col("largest_gap"))
        .agg(F.min("ka").cast("long").alias("gap_after_key"))
    )
    return (
        stats.crossJoin(F.broadcast(mx))  # 1-row combines
        .crossJoin(F.broadcast(where_))
        .select("n_keys", "missing_total", "largest_gap", "gap_after_key")
    )


@query(
    "events_retention_day_n",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d FROM events
    ),
    firsts AS (SELECT user_id, min(d) AS d0 FROM ud GROUP BY 1),
    flags AS (
      SELECT f.user_id,
             max(CASE WHEN u.d = f.d0 + 1 THEN 1 ELSE 0 END) AS r1,
             max(CASE WHEN u.d = f.d0 + 7 THEN 1 ELSE 0 END) AS r7,
             max(CASE WHEN u.d = f.d0 + 30 THEN 1 ELSE 0 END) AS r30
      FROM firsts f JOIN ud u ON u.user_id = f.user_id
      GROUP BY f.user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(r1) AS BIGINT) AS d1_retained,
           CAST(sum(r7) AS BIGINT) AS d7_retained,
           CAST(sum(r30) AS BIGINT) AS d30_retained,
           CAST(sum(r1) * 10000 // count(*) AS BIGINT) AS d1_pp10k,
           CAST(sum(r7) * 10000 // count(*) AS BIGINT) AS d7_pp10k,
           CAST(sum(r30) * 10000 // count(*) AS BIGINT) AS d30_pp10k
    FROM flags
    """,
)
def events_retention_day_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-N retention (D1/D7/D30): the growth-team headline —
    of all users, what share came back exactly N days after their
    first-seen day. events_cohort_retention gives the weekly
    triangle; this is the bounded-offset scalar view investors ask
    for. One deduped (user, day) relation feeds both the first-seen
    frame and the return probe (user-keyed equi-join, offset
    predicates after the hash probe — the as-of family's shape);
    shares are integer pp10k. Two user-keyed shuffles total."""
    ud = (
        load_tables(spark, sf_dir)["events"]
        .select("user_id", F.expr("unix_micros(ts) div 86400000000").alias("d"))
        .distinct()
    )
    firsts = ud.groupBy("user_id").agg(F.min("d").alias("d0"))
    flags = (
        ud.join(firsts, "user_id")
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("d") == F.col("d0") + 1, 1).otherwise(0)).alias("r1"),
            F.max(F.when(F.col("d") == F.col("d0") + 7, 1).otherwise(0)).alias("r7"),
            F.max(F.when(F.col("d") == F.col("d0") + 30, 1).otherwise(0)).alias(
                "r30"
            ),
        )
    )
    return flags.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("r1").cast("long").alias("d1_retained"),
        F.sum("r7").cast("long").alias("d7_retained"),
        F.sum("r30").cast("long").alias("d30_retained"),
        F.expr("CAST(sum(r1) * 10000 DIV count(*) AS BIGINT)").alias("d1_pp10k"),
        F.expr("CAST(sum(r7) * 10000 DIV count(*) AS BIGINT)").alias("d7_pp10k"),
        F.expr("CAST(sum(r30) * 10000 DIV count(*) AS BIGINT)").alias("d30_pp10k"),
    )


@query(
    "orders_duplicate_payment_candidates",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             epoch_us(o_orderdate) // 86400000000 AS d
      FROM orders
    ),
    pairs AS (
      SELECT a.o_custkey, a.cents, CAST(abs(a.d - b.d) AS BIGINT) AS day_diff
      FROM o a JOIN o b
        ON a.o_custkey = b.o_custkey AND a.cents = b.cents
       AND a.o_orderkey < b.o_orderkey
       AND abs(a.d - b.d) <= 3
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS cents_at_risk,
           CAST(min(day_diff) AS BIGINT) AS min_day_diff,
           CAST(max(day_diff) AS BIGINT) AS max_day_diff
    FROM pairs
    """,
)
def orders_duplicate_payment_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment detection: order pairs from the same customer
    for the EXACT same amount within 3 days — the accounts-payable
    fraud/error screen (the dedup_record_linkage_scores discipline
    applied to transactions: equality blocking on (customer, amount)
    makes the pair relation O(Σ block²) with near-unique blocks, the
    day-window predicate prunes after the hash probe; never a
    crossJoin). Amounts are integer cents; the at-risk total sums the
    duplicated amount once per candidate pair. One shuffle on the
    block key."""
    o = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("d"),
    )
    b = o.select(
        F.col("o_custkey").alias("ck"),
        F.col("cents").alias("cb"),
        F.col("o_orderkey").alias("kb"),
        F.col("d").alias("db"),
    )
    pairs = o.join(
        b,
        (F.col("o_custkey") == F.col("ck"))
        & (F.col("cents") == F.col("cb"))
        & (F.col("o_orderkey") < F.col("kb"))
        & (F.abs(F.col("d") - F.col("db")) <= 3),
    ).select("o_custkey", "cents", F.abs(F.col("d") - F.col("db")).alias("day_diff"))
    return pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.count_distinct("o_custkey").cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("cents_at_risk"),
        F.min("day_diff").cast("long").alias("min_day_diff"),
        F.max("day_diff").cast("long").alias("max_day_diff"),
    )


@query(
    "events_alert_episodes",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s
      FROM daily GROUP BY 1
    ),
    flagged AS (
      SELECT daily.event_type, daily.d
      FROM daily JOIN m ON m.event_type = daily.event_type
      WHERE 10 * daily.c * m.n > 12 * m.s
    ),
    islands AS (
      SELECT event_type, d,
             d - row_number() OVER (PARTITION BY event_type ORDER BY d) AS grp
      FROM flagged
    ),
    episodes AS (
      SELECT event_type, grp, CAST(count(*) AS BIGINT) AS len
      FROM islands GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_episodes,
           CAST(sum(len) AS BIGINT) AS n_flagged_days,
           CAST(max(len) AS BIGINT) AS longest_episode
    FROM episodes GROUP BY event_type
    """,
)
def events_alert_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert debouncing: days whose volume exceeds 1.2× the type's
    mean (cross-multiplied — 10·c·n > 12·S, no floats) collapse into
    consecutive-day EPISODES via gaps-and-islands (day minus
    partitioned row_number — the window_activity_streaks identity),
    reporting episode counts and the longest run per type. This is
    what turns a noisy daily anomaly feed into pageable incidents —
    the operational layer above events_anomaly_daily_zscore. Windows
    are per-type partitioned on the calendar-bounded flagged frame."""
    from pyspark.sql import Window as W

    daily = (
        load_tables(spark, sf_dir)["events"]
        .select("event_type", F.expr("unix_micros(ts) div 86400000000").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count("*").cast("long").alias("c"))
    )
    m = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"), F.sum("c").cast("long").alias("s")
    )
    flagged = (
        daily.join(F.broadcast(m), "event_type")
        .filter(F.lit(10) * F.col("c") * F.col("n") > F.lit(12) * F.col("s"))
        .select("event_type", "d")
    )
    w = W.partitionBy("event_type").orderBy("d")
    episodes = (
        flagged.withColumn("grp", F.col("d") - F.row_number().over(w))
        .groupBy("event_type", "grp")
        .agg(F.count("*").cast("long").alias("len"))
    )
    return episodes.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_episodes"),
        F.sum("len").cast("long").alias("n_flagged_days"),
        F.max("len").cast("long").alias("longest_episode"),
    )


@query(
    "agg_skew_kurtosis_exact",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s
      FROM daily GROUP BY 1
    ),
    terms AS (
      SELECT daily.event_type, m.n,
             CAST(floor((CAST(m.n * daily.c - m.s AS DOUBLE) / CAST(m.n AS DOUBLE))
                        * (CAST(m.n * daily.c - m.s AS DOUBLE) / CAST(m.n AS DOUBLE)))
                  AS BIGINT) AS t2,
             CAST(floor((CAST(m.n * daily.c - m.s AS DOUBLE) / CAST(m.n AS DOUBLE))
                        * (CAST(m.n * daily.c - m.s AS DOUBLE) / CAST(m.n AS DOUBLE))
                        * (CAST(m.n * daily.c - m.s AS DOUBLE) / CAST(m.n AS DOUBLE)))
                  AS BIGINT) AS t3,
             CAST(floor((CAST(m.n * daily.c - m.s AS DOUBLE) / CAST(m.n AS DOUBLE))
                        * (CAST(m.n * daily.c - m.s AS DOUBLE) / CAST(m.n AS DOUBLE))
                        * (CAST(m.n * daily.c - m.s AS DOUBLE) / CAST(m.n AS DOUBLE))
                        * (CAST(m.n * daily.c - m.s AS DOUBLE) / CAST(m.n AS DOUBLE)))
                  AS BIGINT) AS t4
      FROM daily JOIN m ON m.event_type = daily.event_type
    )
    SELECT event_type, max(n) AS n_days,
           CAST(sum(t2) AS BIGINT) AS m2_sum,
           CAST(sum(t3) AS BIGINT) AS m3_sum,
           CAST(sum(t4) AS BIGINT) AS m4_sum,
           CAST(floor(1000000.0 * (CAST(sum(t3) AS DOUBLE) / CAST(max(n) AS DOUBLE))
                / pow(CAST(sum(t2) AS DOUBLE) / CAST(max(n) AS DOUBLE), 1.5))
                AS BIGINT) AS skewness_ppm,
           CAST(floor(1000000.0 * (CAST(sum(t4) AS DOUBLE) / CAST(max(n) AS DOUBLE))
                / (CAST(sum(t2) AS DOUBLE) / CAST(max(n) AS DOUBLE)
                   * (CAST(sum(t2) AS DOUBLE) / CAST(max(n) AS DOUBLE)))
                - 3000000.0) AS BIGINT) AS excess_kurtosis_ppm
    FROM terms GROUP BY event_type
    """,
)
def agg_skew_kurtosis_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment shape statistics per event type: skewness g1 and
    excess kurtosis g2 of the daily-count distribution — the tails
    story the mean/variance queries can't tell. Raw integer moment
    sums Σ(nc−S)³ would overflow int64, so each day's centered
    deviation (an exact-integer ratio evaluated in double) is raised
    to the power and FLOORED per day before the integer sum (the
    floored-contribution rule — with deviations ~10³ the flooring
    noise is ppm-scale while int64 headroom extends to ~10⁴× current
    volume); g1/g2 then assemble in one ppm-floored IEEE expression
    (pow(x, 1.5) is correctly rounded on both engines for these
    magnitudes). Note kurtosis is reported EXCESS (−3). Map-side
    daily aggregate + a 5-row broadcast join."""
    daily = (
        load_tables(spark, sf_dir)["events"]
        .select("event_type", F.expr("unix_micros(ts) div 86400000000").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count("*").cast("long").alias("c"))
    )
    m = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"), F.sum("c").cast("long").alias("s")
    )
    dev = F.expr("CAST(n * c - s AS DOUBLE)") / F.expr("CAST(n AS DOUBLE)")
    terms = daily.join(F.broadcast(m), "event_type").select(
        "event_type",
        "n",
        F.floor(dev * dev).cast("long").alias("t2"),
        F.floor(dev * dev * dev).cast("long").alias("t3"),
        F.floor(dev * dev * dev * dev).cast("long").alias("t4"),
    )
    d = lambda e: e.cast("double")  # noqa: E731
    g = terms.groupBy("event_type").agg(
        F.max("n").alias("n_days"),
        F.sum("t2").cast("long").alias("m2_sum"),
        F.sum("t3").cast("long").alias("m3_sum"),
        F.sum("t4").cast("long").alias("m4_sum"),
    )
    m2n = d(F.col("m2_sum")) / d(F.col("n_days"))
    return g.select(
        "event_type",
        "n_days",
        "m2_sum",
        "m3_sum",
        "m4_sum",
        F.floor(
            F.lit(1000000.0)
            * (d(F.col("m3_sum")) / d(F.col("n_days")))
            / F.pow(m2n, F.lit(1.5))
        )
        .cast("long")
        .alias("skewness_ppm"),
        F.floor(
            F.lit(1000000.0)
            * (d(F.col("m4_sum")) / d(F.col("n_days")))
            / (m2n * m2n)
            - F.lit(3000000.0)
        )
        .cast("long")
        .alias("excess_kurtosis_ppm"),
    )


@query(
    "agg_two_way_anova",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS a, o_orderstatus AS b,
             CAST(round(o_totalprice * 100) AS BIGINT) AS y
      FROM orders
    ),
    cell AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
      FROM c GROUP BY 1, 2
    ),
    ra AS (SELECT a, CAST(sum(n) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS s
           FROM cell GROUP BY 1),
    rb AS (SELECT b, CAST(sum(n) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS s
           FROM cell GROUP BY 1),
    g AS (SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS s
          FROM cell),
    ssa AS (
      SELECT CAST(sum(CAST(floor(
               (CAST(ra.s AS DOUBLE) / CAST(ra.n AS DOUBLE)
                - CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
               * (CAST(ra.s AS DOUBLE) / CAST(ra.n AS DOUBLE)
                  - CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
               * CAST(ra.n AS DOUBLE) / 1000000.0) AS BIGINT)) AS BIGINT) AS v
      FROM ra, g
    ),
    ssb AS (
      SELECT CAST(sum(CAST(floor(
               (CAST(rb.s AS DOUBLE) / CAST(rb.n AS DOUBLE)
                - CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
               * (CAST(rb.s AS DOUBLE) / CAST(rb.n AS DOUBLE)
                  - CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
               * CAST(rb.n AS DOUBLE) / 1000000.0) AS BIGINT)) AS BIGINT) AS v
      FROM rb, g
    ),
    sscell AS (
      SELECT CAST(sum(CAST(floor(
               (CAST(cell.s AS DOUBLE) / CAST(cell.n AS DOUBLE)
                - CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
               * (CAST(cell.s AS DOUBLE) / CAST(cell.n AS DOUBLE)
                  - CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
               * CAST(cell.n AS DOUBLE) / 1000000.0) AS BIGINT)) AS BIGINT) AS v
      FROM cell, g
    )
    SELECT CAST((SELECT count(*) FROM cell) AS BIGINT) AS n_cells,
           CAST(g.n AS BIGINT) AS n_total,
           ssa.v AS ssa_dollars2,
           ssb.v AS ssb_dollars2,
           CAST(sscell.v - ssa.v - ssb.v AS BIGINT) AS ssab_dollars2
    FROM g, ssa, ssb, sscell
    """,
)
def agg_two_way_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way ANOVA decomposition of order value over priority ×
    status: main-effect sums of squares for each factor and their
    interaction (SS_cells − SS_A − SS_B) — does the priority effect
    depend on status? Cell/marginal/grand moments are exact integer
    (n, Σ) pairs from ONE aggregation; each group's n·(mean −
    grand)² term is a single IEEE expression floored to square-DOLLAR
    units per group BEFORE the integer sums (cents² would waste the
    headroom the flooring exists to protect). The factor frames are
    constant-size (5×3 cells), so everything after the first
    aggregation is broadcast combines."""
    c = load_tables(spark, sf_dir)["orders"].select(
        F.col("o_orderpriority").alias("a"),
        F.col("o_orderstatus").alias("b"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
    )
    from postrack_spark.session import pin_small

    # the 15-row cell table feeds five branches (two marginals, the
    # grand total, SS_cells, the cell count) — pinned so the orders
    # scan + cell aggregate runs once (measured 8 scans before).
    cell = pin_small(
        "anova_cell",
        c.groupBy("a", "b").agg(
            F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("s")
        ),
    )
    ra = cell.groupBy("a").agg(
        F.sum("n").cast("long").alias("n"), F.sum("s").cast("long").alias("s")
    )
    rb = cell.groupBy("b").agg(
        F.sum("n").cast("long").alias("n"), F.sum("s").cast("long").alias("s")
    )
    g = cell.agg(
        F.sum("n").cast("long").alias("gn"), F.sum("s").cast("long").alias("gs")
    )

    def ss(frame: DataFrame, alias: str) -> DataFrame:
        mean_dev = F.expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)") - F.expr(
            "CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)"
        )
        return (
            frame.crossJoin(F.broadcast(g))
            .select(
                F.floor(mean_dev * mean_dev * F.expr("CAST(n AS DOUBLE)") / F.lit(1000000.0))
                .cast("long")
                .alias("t")
            )
            .agg(F.sum("t").cast("long").alias(alias))
        )

    ssa = ss(ra, "ssa_dollars2")
    ssb = ss(rb, "ssb_dollars2")
    sscell = ss(cell, "sscell")
    ncells = cell.agg(F.count("*").cast("long").alias("n_cells"))
    return (
        ncells.crossJoin(F.broadcast(g))  # constant-size combines
        .crossJoin(F.broadcast(ssa))
        .crossJoin(F.broadcast(ssb))
        .crossJoin(F.broadcast(sscell))
        .select(
            "n_cells",
            F.col("gn").alias("n_total"),
            "ssa_dollars2",
            "ssb_dollars2",
            (F.col("sscell") - F.col("ssa_dollars2") - F.col("ssb_dollars2"))
            .cast("long")
            .alias("ssab_dollars2"),
        )
    )


LIFECYCLE_ORACLE = """
    WITH uw AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS w FROM events
    ),
    lagged AS (
      SELECT user_id, w,
             lag(w) OVER (PARTITION BY user_id ORDER BY w) AS pw
      FROM uw
    ),
    staged AS (
      SELECT w,
             CASE WHEN pw IS NULL THEN 'new'
                  WHEN w - pw = 1 THEN 'retained'
                  ELSE 'resurrected' END AS stage
      FROM lagged
    )
    SELECT w AS week, stage, CAST(count(*) AS BIGINT) AS n_users
    FROM staged GROUP BY 1, 2
    """


def lifecycle_from_user_weeks(uw: DataFrame) -> DataFrame:
    """Weekly lifecycle staging from a deduped (user_id, w) relation —
    shared by the batch query and the streaming view twin."""
    from pyspark.sql import Window as W

    w_ = W.partitionBy("user_id").orderBy("w")
    staged = uw.select(
        "w",
        F.when(F.lag("w").over(w_).isNull(), "new")
        .when(F.col("w") - F.lag("w").over(w_) == 1, "retained")
        .otherwise("resurrected")
        .alias("stage"),
    )
    return staged.groupBy(F.col("w").alias("week"), "stage").agg(
        F.count("*").cast("long").alias("n_users")
    )


@query("events_lifecycle_stages_weekly", oracle=LIFECYCLE_ORACLE)
def events_lifecycle_stages_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly user-lifecycle staging: each active (user, week) is
    'new' (first week ever), 'retained' (active last week too), or
    'resurrected' (returning after a gap) — the growth-accounting
    decomposition whose week-over-week deltas ARE the famous
    acquisition/retention/resurrection ledger
    (events_new_vs_returning_daily's weekly, gap-aware big sibling).
    Week indexes are integer epoch arithmetic (epoch_us // 604800e6);
    staging is one per-user partitioned lag over the deduped
    user-week relation. One shuffle on user, one stage rollup."""
    uw = (
        load_tables(spark, sf_dir)["events"]
        .select("user_id", F.expr("unix_micros(ts) div 604800000000").alias("w"))
        .distinct()
    )
    return lifecycle_from_user_weeks(uw)


@query(
    "dedup_blocking_quality",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, n_chars, md5(text) AS fp FROM documents
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
    cand AS (
      SELECT CAST(count(*) AS BIGINT) AS n_candidates
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
    ),
    true_pairs AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib,
             CAST(CASE WHEN a.lang = b.lang AND a.n_chars = b.n_chars
                       THEN 1 ELSE 0 END AS BIGINT) AS blocked
      FROM d a JOIN d b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    tp AS (
      SELECT CAST(count(*) AS BIGINT) AS n_true,
             CAST(coalesce(sum(blocked), 0) AS BIGINT) AS n_true_blocked
      FROM true_pairs
    )
    SELECT n.n AS n_docs, cand.n_candidates, tp.n_true, tp.n_true_blocked,
           CAST(10000 - cand.n_candidates * 10000 * 2 // (n.n * (n.n - 1))
                AS BIGINT) AS reduction_ratio_pp10k,
           CAST(CASE WHEN tp.n_true = 0 THEN 10000
                     ELSE tp.n_true_blocked * 10000 // tp.n_true END AS BIGINT)
             AS pair_completeness_pp10k
    FROM n, cand, tp
    """,
)
def dedup_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme evaluation — the two numbers every record-
    linkage/dedup pipeline must publish before anyone trusts its
    blocking: REDUCTION RATIO (how much of the n(n−1)/2 pair space the
    (lang, length) blocking discards) and PAIR COMPLETENESS (what
    share of TRUE duplicate pairs — exact md5-fingerprint matches, the
    ground truth dedup_exact_groups uses — the blocking still
    co-blocks). Candidate counting aggregates the SAME blocked join
    dedup_record_linkage_scores runs; true pairs join on the
    fingerprint (O(Σ dup-group²), tiny). Both metrics are integer
    pp10k with positive DIVs; empty truth degenerates to complete
    (10000) by convention. This is the query that would have caught a
    too-tight blocking key before it silently dropped recall at
    100 TB."""
    from postrack_spark.session import pin_small

    # d feeds five branches (count, both join sides twice) and its md5
    # fingerprint is the expensive per-row compute — pinned so the text
    # hashes once per action (5 scans before, 1 after).
    d = pin_small(
        "bq_d",
        load_tables(spark, sf_dir)["documents"].select(
            "doc_id", "lang", "n_chars", F.md5(F.col("text")).alias("fp")
        ),
    )
    n = d.agg(F.count("*").cast("long").alias("n"))
    b = d.select(
        F.col("doc_id").alias("ib"),
        F.col("lang").alias("lb"),
        F.col("n_chars").alias("cb"),
        F.col("fp").alias("fpb"),
    )
    cand = (
        d.join(
            b,
            (F.col("lang") == F.col("lb"))
            & (F.col("n_chars") == F.col("cb"))
            & (F.col("doc_id") < F.col("ib")),
        )
        .agg(F.count("*").cast("long").alias("n_candidates"))
    )
    tp = (
        d.join(b, (F.col("fp") == F.col("fpb")) & (F.col("doc_id") < F.col("ib")))
        .select(
            F.when(
                (F.col("lang") == F.col("lb")) & (F.col("n_chars") == F.col("cb")), 1
            )
            .otherwise(0)
            .alias("blocked")
        )
        .agg(
            F.count("*").cast("long").alias("n_true"),
            F.coalesce(F.sum("blocked"), F.lit(0)).cast("long").alias(
                "n_true_blocked"
            ),
        )
    )
    return (
        n.crossJoin(F.broadcast(cand))  # 1-row combines
        .crossJoin(F.broadcast(tp))
        .select(
            F.col("n").alias("n_docs"),
            "n_candidates",
            "n_true",
            "n_true_blocked",
            F.expr(
                "CAST(10000 - n_candidates * 10000 * 2 DIV (n * (n - 1)) AS BIGINT)"
            ).alias("reduction_ratio_pp10k"),
            F.expr(
                "CAST(CASE WHEN n_true = 0 THEN 10000"
                " ELSE n_true_blocked * 10000 DIV n_true END AS BIGINT)"
            ).alias("pair_completeness_pp10k"),
        )
    )


@query(
    "profile_fk_fanout",
    oracle="""
    WITH opc AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS fanout FROM orders GROUP BY 1
    ),
    lpo AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS fanout FROM lineitem GROUP BY 1
    )
    SELECT 'orders_per_customer' AS edge, fanout,
           CAST(count(*) AS BIGINT) AS n_parents
    FROM opc GROUP BY fanout
    UNION ALL
    SELECT 'lineitems_per_order', fanout, CAST(count(*) AS BIGINT)
    FROM lpo GROUP BY fanout
    """,
)
def profile_fk_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key fan-out profile: the full histogram of children per
    parent for the two fact edges (orders→customer, lineitem→order) —
    the cardinality distribution a query optimizer's join estimates
    and a skew-mitigation plan (operators/skew.py) both start from;
    profile_table_stats gives per-column stats, this gives the JOIN
    shape. Two aggregations per edge (parent rollup, then fanout
    histogram), stacked long-form like the profiling family. The
    histogram domain is bounded by the max fan-out, not data size."""
    t = load_tables(spark, sf_dir)
    opc = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.count("*").cast("long").alias("fanout"))
        .groupBy("fanout")
        .agg(F.count("*").cast("long").alias("n_parents"))
        .select(F.lit("orders_per_customer").alias("edge"), "fanout", "n_parents")
    )
    lpo = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.count("*").cast("long").alias("fanout"))
        .groupBy("fanout")
        .agg(F.count("*").cast("long").alias("n_parents"))
        .select(F.lit("lineitems_per_order").alias("edge"), "fanout", "n_parents")
    )
    return opc.unionByName(lpo)


@query(
    "orders_ship_latency_profile",
    oracle="""
    WITH lat AS (
      SELECT l.l_orderkey, l.l_linenumber,
             CAST(epoch_us(l.l_shipdate) // 86400000000
                  - epoch_us(o.o_orderdate) // 86400000000 AS BIGINT) AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    ranked AS (
      SELECT days,
             row_number() OVER (ORDER BY days, l_orderkey, l_linenumber) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM lat
    )
    SELECT max(n) AS n_lines,
           CAST((SELECT min(days) FROM lat) AS BIGINT) AS min_days,
           CAST((SELECT max(days) FROM lat) AS BIGINT) AS max_days,
           CAST(max(CASE WHEN rn = (1 * n + 3) // 4 THEN days END) AS BIGINT)
             AS q1_days,
           CAST(max(CASE WHEN rn = (2 * n + 3) // 4 THEN days END) AS BIGINT)
             AS med_days,
           CAST(max(CASE WHEN rn = (3 * n + 3) // 4 THEN days END) AS BIGINT)
             AS q3_days
    FROM ranked
    WHERE rn = (1 * n + 3) // 4 OR rn = (2 * n + 3) // 4 OR rn = (3 * n + 3) // 4
    """,
)
def orders_ship_latency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution: integer day gaps between a
    line's ship date and its order's date — the fulfillment-SLA
    profile (min/max plus type-1 quartiles). The dates join on the
    order key (fact-to-fact equi-join, orders side narrow); quartiles
    rank-select over the LINE-sized latency frame via
    operators/ranking.global_row_number with a (days, orderkey,
    linenumber) total order (the conversion-latency pattern — a global
    window here is the single-task killer). All integers."""
    from postrack_spark.operators.ranking import global_row_number

    t = load_tables(spark, sf_dir)
    lat = (
        t["lineitem"]
        .select(
            "l_orderkey",
            "l_linenumber",
            F.expr("unix_micros(l_shipdate) div 86400000000").alias("sd"),
        )
        .join(
            t["orders"].select(
                F.col("o_orderkey"),
                F.expr("unix_micros(o_orderdate) div 86400000000").alias("od"),
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("sd") - F.col("od")).cast("long").alias("days"),
        )
    )
    ranked = global_row_number(lat, ["days", "l_orderkey", "l_linenumber"])
    stats = lat.agg(
        F.count("*").cast("long").alias("n"),
        F.min("days").cast("long").alias("min_days"),
        F.max("days").cast("long").alias("max_days"),
    )
    picked = ranked.crossJoin(F.broadcast(stats)).filter(
        (F.col("rn") == F.expr("(1 * n + 3) DIV 4"))
        | (F.col("rn") == F.expr("(2 * n + 3) DIV 4"))
        | (F.col("rn") == F.expr("(3 * n + 3) DIV 4"))
    )
    return picked.agg(
        F.max("n").alias("n_lines"),
        F.max("min_days").alias("min_days"),
        F.max("max_days").alias("max_days"),
        F.max(F.when(F.col("rn") == F.expr("(1 * n + 3) DIV 4"), F.col("days")))
        .cast("long")
        .alias("q1_days"),
        F.max(F.when(F.col("rn") == F.expr("(2 * n + 3) DIV 4"), F.col("days")))
        .cast("long")
        .alias("med_days"),
        F.max(F.when(F.col("rn") == F.expr("(3 * n + 3) DIV 4"), F.col("days")))
        .cast("long")
        .alias("q3_days"),
    )


@query(
    "events_attribution_model_compare",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id
      FROM events WHERE event_type IN ('view', 'click')
    ),
    conv AS (
      SELECT user_id, min(epoch_us(ts)) AS p_us
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    touches AS (
      SELECT s.user_id, s.event_type, s.us, s.event_id
      FROM seq s JOIN conv c ON c.user_id = s.user_id AND s.us < c.p_us
    ),
    ranked AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY us, event_id)
               AS rn_first,
             row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC)
               AS rn_last,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_touch
      FROM touches
    )
    SELECT event_type AS channel,
           CAST(sum(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS first_touch_conversions,
           CAST(sum(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS last_touch_conversions,
           CAST(sum(1000 // n_touch) AS BIGINT) AS linear_credit_milli
    FROM ranked
    GROUP BY event_type
    """,
)
def events_attribution_model_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-model comparison: the same converting journeys
    credited three ways — first-touch, last-touch, and linear
    (1000/n_touch milli-credits per touch, floored) — per channel
    (view vs click touches before the user's first purchase). This is
    the side-by-side a marketing analyst uses to argue about model
    choice; events_attribution_position_split then takes the U-shaped
    compromise with exact money conservation. Touch ranking is
    per-user PARTITIONED both directions; the linear credits floor
    per touch (documented — conserving remainders is the
    position-split query's job). Scale: one user-keyed join + one
    channel rollup."""
    from pyspark.sql import Window as W

    ev = load_tables(spark, sf_dir)["events"]
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.expr("unix_micros(ts)")).alias("p_us"))
    )
    touches = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .select(
            "user_id", "event_type", F.expr("unix_micros(ts)").alias("us"), "event_id"
        )
        .join(conv, "user_id")
        .filter(F.col("us") < F.col("p_us"))
    )
    wf = W.partitionBy("user_id").orderBy("us", "event_id")
    wl = W.partitionBy("user_id").orderBy(F.col("us").desc(), F.col("event_id").desc())
    wc = W.partitionBy("user_id")
    ranked = touches.select(
        "event_type",
        F.row_number().over(wf).alias("rn_first"),
        F.row_number().over(wl).alias("rn_last"),
        F.count("*").over(wc).cast("long").alias("n_touch"),
    )
    return ranked.groupBy(F.col("event_type").alias("channel")).agg(
        F.sum(F.when(F.col("rn_first") == 1, 1).otherwise(0))
        .cast("long")
        .alias("first_touch_conversions"),
        F.sum(F.when(F.col("rn_last") == 1, 1).otherwise(0))
        .cast("long")
        .alias("last_touch_conversions"),
        F.sum(F.expr("1000 DIV n_touch")).cast("long").alias("linear_credit_milli"),
    )


@query(
    "text_vocab_coverage_curve",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    freq AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY 1),
    tot AS (SELECT CAST(sum(f) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v
            FROM freq),
    head AS (
      SELECT w, f FROM freq ORDER BY f DESC, w LIMIT 50
    ),
    ranked AS (
      SELECT a.w, a.f,
             CAST((SELECT count(*) FROM head h
                   WHERE h.f > a.f OR (h.f = a.f AND h.w <= a.w)) AS BIGINT) AS rk
      FROM head a
    )
    SELECT k.k AS vocab_size,
           CAST(sum(r.f) AS BIGINT) AS covered_tokens,
           CAST(sum(r.f) * 10000 // max(tot.t) AS BIGINT) AS coverage_pp10k,
           CAST(max(tot.v) AS BIGINT) AS full_vocab
    FROM (SELECT unnest([10, 20, 50]) AS k) k
    JOIN ranked r ON r.rk <= k.k
    CROSS JOIN tot
    GROUP BY k.k
    """,
)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what share of the corpus token mass
    the top-10/20/50 most frequent words cover — the first number a
    tokenizer-budget decision reads (with text_good_turing_smoothing's
    unseen mass as its tail-side complement). The head is a TakeOrdered
    limit-50 (no vocabulary-wide window); ranks WITHIN the 50-row head
    come from a broadcast self-join on that constant frame (frequency
    desc, word asc — total order), and each curve point is a
    broadcast join against the 3-row k list. Shares are integer
    pp10k. One wordcount shuffle is the only data-sized stage."""
    from postrack_spark.functions.text import tokens
    from postrack_spark.session import fan_out

    docs = fan_out(load_tables(spark, sf_dir)["documents"])
    freq = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("f"))
    )
    tot = freq.agg(
        F.sum("f").cast("long").alias("t"), F.count("*").cast("long").alias("v")
    )
    head = freq.orderBy(F.col("f").desc(), "w").limit(50).localCheckpoint()
    h2 = head.select(F.col("w").alias("hw"), F.col("f").alias("hf"))
    ranked = (
        head.join(
            F.broadcast(h2),
            (F.col("hf") > F.col("f"))
            | ((F.col("hf") == F.col("f")) & (F.col("hw") <= F.col("w"))),
        )
        .groupBy("w", "f")
        .agg(F.count("*").cast("long").alias("rk"))
    )
    ks = spark.range(0, 3).select(
        F.element_at(F.array(F.lit(10), F.lit(20), F.lit(50)), (F.col("id") + 1).cast("int")).alias("k")
    )
    return (
        ranked.crossJoin(F.broadcast(ks))
        .filter(F.col("rk") <= F.col("k"))
        .crossJoin(F.broadcast(tot))
        .groupBy(F.col("k").alias("vocab_size"))
        .agg(
            F.sum("f").cast("long").alias("covered_tokens"),
            F.expr("CAST(sum(f) * 10000 DIV max(t) AS BIGINT)").alias(
                "coverage_pp10k"
            ),
            F.max("v").cast("long").alias("full_vocab"),
        )
    )


@query(
    "events_slo_burn_alerts",
    oracle="""
    WITH hourly AS (
      SELECT epoch_us(ts) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
               AS e
      FROM events GROUP BY 1
    ),
    win AS (
      SELECT a.h,
             CAST(sum(CASE WHEN b.h = a.h THEN b.n ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN b.h = a.h THEN b.e ELSE 0 END) AS BIGINT) AS e1,
             CAST(sum(b.n) AS BIGINT) AS n6,
             CAST(sum(b.e) AS BIGINT) AS e6
      FROM hourly a JOIN hourly b ON b.h BETWEEN a.h - 5 AND a.h
      GROUP BY a.h
    )
    SELECT CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(CASE WHEN e1 * 50 > n1 * 7 AND e6 * 100 > n6 * 3
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_page_alerts,
           CAST(max(e1 * 10000 // n1) AS BIGINT) AS worst_fast_rate_pp10k,
           CAST(max(e6 * 10000 // n6) AS BIGINT) AS worst_slow_rate_pp10k
    FROM win
    """,
)
def events_slo_burn_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alerting (the Google SRE workbook
    recipe): page when BOTH the fast window (1 h) and the slow window
    (trailing 6 h) burn error budget too fast — the fast window gives
    detection speed, the slow one suppresses blips. With a 1% error
    SLO, the 14x fast / 3x slow burn thresholds cross-multiply to pure
    integers (e1·50 > n1·7 ⟺ e1/n1 > 14%, e6·100 > n6·3 ⟺ 3%), so the
    alert predicate has no floats at all (the XmR discipline). The
    trailing windows are calendar-bounded broadcast self-joins over
    the hourly frame — the rolling-median pattern. One data-sized
    hourly aggregate."""
    hourly = (
        load_tables(spark, sf_dir)["events"]
        .select(
            F.expr("unix_micros(ts) div 3600000000").alias("h"),
            F.when(F.col("event_type") == "error", 1).otherwise(0).alias("is_err"),
        )
        .groupBy("h")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("is_err").cast("long").alias("e"),
        )
    )
    b = hourly.select(
        F.col("h").alias("hb"), F.col("n").alias("nb"), F.col("e").alias("eb")
    )
    win = (
        hourly.select("h")
        .join(
            F.broadcast(b),
            (F.col("hb") >= F.col("h") - 5) & (F.col("hb") <= F.col("h")),
        )
        .groupBy("h")
        .agg(
            F.sum(F.when(F.col("hb") == F.col("h"), F.col("nb")).otherwise(0))
            .cast("long")
            .alias("n1"),
            F.sum(F.when(F.col("hb") == F.col("h"), F.col("eb")).otherwise(0))
            .cast("long")
            .alias("e1"),
            F.sum("nb").cast("long").alias("n6"),
            F.sum("eb").cast("long").alias("e6"),
        )
    )
    return win.agg(
        F.count("*").cast("long").alias("n_hours"),
        F.sum(
            F.when(
                (F.col("e1") * 50 > F.col("n1") * 7)
                & (F.col("e6") * 100 > F.col("n6") * 3),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_page_alerts"),
        F.max(F.expr("e1 * 10000 DIV n1")).cast("long").alias(
            "worst_fast_rate_pp10k"
        ),
        F.max(F.expr("e6 * 10000 DIV n6")).cast("long").alias(
            "worst_slow_rate_pp10k"
        ),
    )


@query(
    "agg_laspeyres_price_index",
    oracle="""
    WITH mid AS (
      SELECT (min(epoch_us(l_shipdate)) + max(epoch_us(l_shipdate))) // 2 AS m
      FROM lineitem
    ),
    lines AS (
      SELECT l_partkey,
             CAST(epoch_us(l_shipdate) < mid.m AS INT) AS base,
             CAST(floor(CAST(round(l_extendedprice * 100) AS BIGINT)
                        / l_quantity) AS BIGINT) AS unit_cents,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem, mid
    ),
    per_part AS (
      SELECT l_partkey,
             CAST(sum(CASE WHEN base = 1 THEN unit_cents ELSE 0 END) AS BIGINT) AS s0,
             CAST(sum(CASE WHEN base = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN base = 1 THEN qty ELSE 0 END) AS BIGINT) AS q0,
             CAST(sum(CASE WHEN base = 0 THEN unit_cents ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(CASE WHEN base = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      FROM lines GROUP BY 1
    ),
    both_sides AS (SELECT * FROM per_part WHERE n0 > 0 AND n1 > 0),
    terms AS (
      SELECT CAST(sum(CAST(floor(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                                 * CAST(q0 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS num,
             CAST(sum(CAST(floor(CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
                                 * CAST(q0 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS den,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM both_sides
    )
    SELECT n_parts, num AS basket_p1_cents, den AS basket_p0_cents,
           CAST(num * 10000 // den AS BIGINT) AS laspeyres_pp10k
    FROM terms
    """,
)
def agg_laspeyres_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index between the corpus's two ship-date
    halves: the base-period basket (first-half quantities) re-priced
    at second-half average unit prices, over its base-period cost —
    the CPI construction, restricted to parts traded in BOTH periods.
    Per-line unit prices floor to integer cents (identical IEEE
    division first — quantity is a double); each part's
    mean-price × base-quantity term is one IEEE expression floored to
    cents BEFORE the cross-part integer sums (the floored-contribution
    rule), and the index is a single positive DIV in pp10k (10000 =
    flat prices). Plan: one scan, one part rollup, a 1-row combine."""
    mid = load_tables(spark, sf_dir)["lineitem"].agg(
        F.expr(
            "CAST((min(unix_micros(l_shipdate)) + max(unix_micros(l_shipdate)))"
            " DIV 2 AS BIGINT)"
        ).alias("m")
    )
    lines = (
        load_tables(spark, sf_dir)["lineitem"]
        .crossJoin(F.broadcast(mid))
        .select(
            "l_partkey",
            F.expr("CAST(unix_micros(l_shipdate) < m AS INT)").alias("base"),
            F.expr(
                "CAST(floor(CAST(round(l_extendedprice * 100) AS BIGINT)"
                " / l_quantity) AS BIGINT)"
            ).alias("unit_cents"),
            F.col("l_quantity").cast("long").alias("qty"),
        )
    )
    per_part = lines.groupBy("l_partkey").agg(
        F.sum(F.when(F.col("base") == 1, F.col("unit_cents")).otherwise(0))
        .cast("long")
        .alias("s0"),
        F.sum(F.when(F.col("base") == 1, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("base") == 1, F.col("qty")).otherwise(0))
        .cast("long")
        .alias("q0"),
        F.sum(F.when(F.col("base") == 0, F.col("unit_cents")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("base") == 0, 1).otherwise(0)).cast("long").alias("n1"),
    )
    both_sides = per_part.filter((F.col("n0") > 0) & (F.col("n1") > 0))
    terms = both_sides.agg(
        F.sum(
            F.floor(
                F.expr("CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)")
                * F.expr("CAST(q0 AS DOUBLE)")
            ).cast("long")
        )
        .cast("long")
        .alias("num"),
        F.sum(
            F.floor(
                F.expr("CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)")
                * F.expr("CAST(q0 AS DOUBLE)")
            ).cast("long")
        )
        .cast("long")
        .alias("den"),
        F.count("*").cast("long").alias("n_parts"),
    )
    return terms.select(
        "n_parts",
        F.col("num").alias("basket_p1_cents"),
        F.col("den").alias("basket_p0_cents"),
        F.expr("CAST(num * 10000 DIV den AS BIGINT)").alias("laspeyres_pp10k"),
    )


@query(
    "agg_mann_whitney_u",
    oracle="""
    WITH c AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b' END AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    cells AS (
      SELECT g, v, CAST(count(*) AS BIGINT) AS n_gv FROM c GROUP BY 1, 2
    ),
    vals AS (
      SELECT v, CAST(sum(n_gv) AS BIGINT) AS cnt FROM cells GROUP BY 1
    ),
    mid AS (
      SELECT v, cnt,
             2 * CAST(coalesce(sum(cnt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               + cnt + 1 AS mr2
      FROM vals
    ),
    grp AS (
      SELECT g, CAST(sum(n_gv * mr2) AS BIGINT) AS r2,
             CAST(sum(n_gv) AS BIGINT) AS n_g
      FROM cells JOIN mid USING (v) GROUP BY 1
    )
    SELECT (SELECT min(g) FROM grp) AS grp_a,
           (SELECT max(g) FROM grp) AS grp_b,
           CAST((SELECT n_g FROM grp WHERE g = (SELECT min(g) FROM grp)) AS BIGINT) AS n_a,
           CAST((SELECT n_g FROM grp WHERE g = (SELECT max(g) FROM grp)) AS BIGINT) AS n_b,
           CAST((SELECT r2 - n_g * (n_g + 1) FROM grp
                 WHERE g = (SELECT min(g) FROM grp)) AS BIGINT) AS u_a_x2,
           CAST((SELECT r2 - n_g * (n_g + 1) FROM grp
                 WHERE g = (SELECT max(g) FROM grp)) AS BIGINT) AS u_b_x2,
           CAST((SELECT sum(cnt * cnt * cnt - cnt) FROM vals) AS BIGINT) AS tie_sum,
           CAST((SELECT count(*) FROM grp) AS BIGINT) AS n_groups
    """,
)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected Mann-Whitney U: do URGENT orders have a
    different price distribution than LOW-priority ones? Doubled
    midranks keep everything integral (operators/stats.mann_whitney_u;
    hypothesis brute-force model in tests/test_stats_models.py,
    including the U_a + U_b == n_a*n_b identity). Same distributed
    shape as Kruskal-Wallis: one prefix sum over the DISTINCT-value
    frame, partial-agg groupBys, 1-row broadcast combines."""
    from postrack_spark.operators.stats import mann_whitney_u

    t = load_tables(spark, sf_dir)
    obs = (
        t["orders"]
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            F.when(F.col("o_orderpriority") == "1-URGENT", "a")
            .otherwise("b")
            .alias("g"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        )
    )
    return mann_whitney_u(obs, "g", "v")


@query(
    "events_mcnemar_paired_test",
    oracle="""
    WITH bounds AS (
      SELECT (CAST(min(epoch_us(ts)) AS BIGINT) // 1000000
              + CAST(max(epoch_us(ts)) AS BIGINT) // 1000000) // 2 AS mid_s
      FROM events
    ),
    per_user AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase'
                       AND CAST(epoch_us(ts) AS BIGINT) // 1000000 <= mid_s
                      THEN 1 ELSE 0 END) AS h1,
             max(CASE WHEN event_type = 'purchase'
                       AND CAST(epoch_us(ts) AS BIGINT) // 1000000 > mid_s
                      THEN 1 ELSE 0 END) AS h2
      FROM events CROSS JOIN bounds
      GROUP BY user_id
    ),
    cells AS (
      SELECT CAST(sum(CASE WHEN h1 = 1 AND h2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN h1 = 0 AND h2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN h1 = 1 AND h2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS both_halves,
             CAST(count(*) AS BIGINT) AS n_users
      FROM per_user
    )
    SELECT b, c, both_halves, n_users,
           CAST(CASE WHEN b + c = 0 THEN NULL
                     ELSE ((abs(b - c) - 1) * (abs(b - c) - 1) * 1000000) // (b + c)
                END AS BIGINT) AS mcnemar_chi2_ppm
    FROM cells
    """,
)
def events_mcnemar_paired_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test on purchase behavior: each user is their
    own control — did they purchase in the first vs the second half of
    the observation window (epoch midpoint)? The statistic with
    continuity correction, (|b-c|-1)²/(b+c), is a PURE RATIONAL of
    integer counts — emitted as ppm via integer division, zero doubles
    (both engines agree exactly; b+c=0 degenerates to NULL, the
    three-sided-answer rule from the runs test). Timestamp seconds go
    through epoch_us // 1e6 on both sides (the cast-rounding trap)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select(
        "user_id",
        "event_type",
        F.floor(F.unix_micros("ts") / F.lit(1000000)).cast("long").alias("s"),
    )
    bounds = ev.agg(
        ((F.min("s") + F.max("s")) / 2).cast("long").alias("mid_s")
    )
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("s") <= F.col("mid_s")), 1
                ).otherwise(0)
            ).alias("h1"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("s") > F.col("mid_s")), 1
                ).otherwise(0)
            ).alias("h2"),
        )
    )
    cells = per_user.agg(
        F.sum(F.when((F.col("h1") == 1) & (F.col("h2") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("h1") == 0) & (F.col("h2") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when((F.col("h1") == 1) & (F.col("h2") == 1), 1).otherwise(0))
        .cast("long")
        .alias("both_halves"),
        F.count("*").cast("long").alias("n_users"),
    )
    stat = F.when(
        F.col("b") + F.col("c") == 0, F.lit(None).cast("long")
    ).otherwise(
        F.expr(
            "(abs(b - c) - 1) * (abs(b - c) - 1) * 1000000 DIV (b + c)"
        ).cast("long")
    )
    return cells.select(
        "b", "c", "both_halves", "n_users", stat.alias("mcnemar_chi2_ppm")
    )


_JT_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _jt_oracle() -> str:
    conds = ",\n             ".join(
        f"CAST(sum(CASE WHEN g = '{p}' THEN n ELSE 0 END) AS BIGINT) AS n{i}"
        for i, p in enumerate(_JT_PRIOS, start=1)
    )
    cums = ",\n             ".join(
        f"CAST(coalesce(sum(n{i}) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED "
        f"PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c{i}"
        for i in range(1, 6)
    )
    pair_terms = " + ".join(
        f"n{j} * (2 * c{i} + n{i})"
        for i in range(1, 6) for j in range(i + 1, 6)
    )
    exp_terms = " + ".join(
        f"t{i} * t{j}" for i in range(1, 6) for j in range(i + 1, 6)
    )
    tots = ", ".join(f"CAST(sum(n{i}) AS BIGINT) AS t{i}" for i in range(1, 6))
    return f"""
    WITH cells AS (
      SELECT o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ),
    mat AS (
      SELECT v,
             {conds}
      FROM cells GROUP BY v
    ),
    cum AS (
      SELECT v, n1, n2, n3, n4, n5,
             {cums}
      FROM mat
    ),
    jt AS (
      SELECT CAST(sum({pair_terms}) AS BIGINT) AS jt_x2 FROM cum
    ),
    tot AS (SELECT {tots}, CAST(sum(n1+n2+n3+n4+n5) AS BIGINT) AS n_total
            FROM mat)
    SELECT jt.jt_x2,
           CAST(({exp_terms}) AS BIGINT) AS e_jt_x2,
           tot.n_total
    FROM jt CROSS JOIN tot
    """


@query("agg_jonckheere_trend", oracle=_jt_oracle())
def agg_jonckheere_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative trend test: do order
    prices trend monotonically across the five priority classes (in
    their natural order)? JT = sum over ordered group pairs i<j of the
    Mann-Whitney U_ij; carried DOUBLED so ties stay integral —
    2*U_ij = sum over distinct values v of n_j(v)*(2*cumlt_i(v) +
    n_i(v)). Output (jt_x2, e_jt_x2, n_total) where e_jt_x2 is the
    doubled null expectation sum(t_i*t_j): JT above/below E gives the
    trend direction exactly, no doubles anywhere.

    Distributed shape: the five per-group cumulative-below counts come
    from ONE multi-column distributed prefix sum over the distinct-
    value frame (operators/ranking.prefix_sums_by_key — the two-sample
    CDF pattern generalized to 5 lanes, one range shuffle total); the
    pair terms unroll into a single aggregate expression."""
    from postrack_spark.operators.stats import jonckheere_trend

    t = load_tables(spark, sf_dir)
    obs = t["orders"].select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    return jonckheere_trend(obs, "g", _JT_PRIOS, "v")


_EV_TYPES = ["click", "error", "purchase", "signup", "view"]
"""The events table's closed event_type vocabulary (TESTDATA.md), used
as the FIXED treatment list for the blocked-rank family below — the
_JT_PRIOS pattern: hardcoding the treatments avoids a tiny
unpartitioned window (rank over the 5-row type list) and makes the
complete-block grid deterministic even at an SF that lacks a type."""


def _block_rank_cte() -> str:
    """Shared oracle CTE: the day x type complete-block grid with
    within-block doubled midranks (mr2 = 2*rank + ties - 1). Missing
    cells are 0-filled so every block has all k treatments (the
    complete-design requirement of Friedman/Page)."""
    type_rows = " UNION ALL ".join(f"SELECT '{t}' AS g" for t in _EV_TYPES)
    return f"""
    daily AS (
      SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
             event_type AS g, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    days AS (SELECT DISTINCT day FROM daily),
    types AS ({type_rows}),
    grid AS (
      SELECT d.day, t.g, coalesce(x.c, 0) AS c
      FROM days d CROSS JOIN types t
      LEFT JOIN daily x ON x.day = d.day AND x.g = t.g
    ),
    rk AS (
      SELECT day, g, c,
             CAST(2 * rank() OVER (PARTITION BY day ORDER BY c)
                  + count(*) OVER (PARTITION BY day, c) - 1 AS BIGINT) AS mr2
      FROM grid
    )"""


def _daily_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, g, c): per-day per-type event counts — the sufficient
    statistics of the whole blocked-rank family (counts are ADDITIVE,
    which is what lets streaming_friedman_state maintain them through
    the fold sink)."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .select(
            F.floor(F.unix_micros("ts") / F.lit(86400000000)).cast("long").alias("day"),
            F.col("event_type").alias("g"),
        )
        .groupBy("day", "g")
        .agg(F.count("*").cast("long").alias("c"))
    )


def block_ranks_from_daily(spark: SparkSession, daily: DataFrame) -> DataFrame:
    """(day, g, mr2) doubled within-block midranks from a (day, g, c)
    count frame. Windows are PARTITIONED BY day (block size = k = 5),
    never global; the grid is a broadcast combine of the day list with
    the 5-row literal type frame."""
    from pyspark.sql import Window

    from postrack_spark.session import pin_small

    # `daily` feeds the day list AND the grid join; the returned rank
    # frame feeds 2-4 downstream aggregates per statistic (Friedman /
    # Page / Kendall-W / Quade all share this helper). Both are
    # calendar x 5-type bounded — pinned so the events pass runs once.
    daily = pin_small("br_daily", daily)
    days = daily.select("day").distinct()
    types = spark.createDataFrame([(g,) for g in _EV_TYPES], ["g"])
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(daily, ["day", "g"], "left")
        .select("day", "g", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"))
    )
    w_rank = Window.partitionBy("day").orderBy("c")
    w_tie = Window.partitionBy("day", "c")
    return pin_small(
        "br_rk",
        grid.select(
            "day",
            "g",
            (F.lit(2) * F.rank().over(w_rank) + F.count("*").over(w_tie) - F.lit(1))
            .cast("long")
            .alias("mr2"),
        ),
    )


def _block_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _block_rank_cte: (day, g, mr2) over the events
    table (see block_ranks_from_daily for the rank mechanics)."""
    return block_ranks_from_daily(spark, _daily_type_counts(spark, sf_dir))


def friedman_from_rk(rk: DataFrame) -> DataFrame:
    """Assemble the tie-corrected Friedman statistic from a block-rank
    frame — shared by the batch query and streaming_friedman_state
    (the fisher_from_cells factoring: the STATISTIC is nonlinear, its
    inputs are not)."""
    k = len(_EV_TYPES)
    per_type = rk.groupBy("g").agg(F.sum("mr2").cast("long").alias("r2"))
    s1 = per_type.agg(
        F.sum(F.col("r2") * F.col("r2")).cast("long").alias("s_r2sq")
    )
    s2 = rk.agg(
        F.countDistinct("day").cast("long").alias("n"),
        F.sum(F.col("mr2") * F.col("mr2")).cast("long").alias("a2"),
    )
    m = s2.crossJoin(F.broadcast(s1)).select(
        "n", F.lit(k).cast("long").alias("k"), "s_r2sq", "a2"
    )
    den = F.col("a2") - F.col("n") * F.col("k") * (F.col("k") + 1) * (F.col("k") + 1)
    num = (
        F.col("s_r2sq")
        - F.col("n") * F.col("n") * F.col("k") * (F.col("k") + 1) * (F.col("k") + 1)
    )
    return m.select(
        F.col("n").alias("n_days"),
        "k",
        F.col("s_r2sq").alias("sum_r2_sq"),
        F.col("a2").alias("sum_mr2_sq"),
        F.when(den == 0, F.lit(None).cast("long"))
        .otherwise(
            F.floor(
                F.lit(1000000.0)
                * (F.col("k") - 1).cast("double")
                * num.cast("double")
                / den.cast("double")
            ).cast("long")
        )
        .alias("friedman_ppm"),
    )


FRIEDMAN_ORACLE = f"""
    WITH {_block_rank_cte()},
    per_type AS (
      SELECT g, CAST(sum(mr2) AS BIGINT) AS r2 FROM rk GROUP BY g
    ),
    m AS (
      SELECT CAST((SELECT count(*) FROM days) AS BIGINT) AS n,
             CAST({len(_EV_TYPES)} AS BIGINT) AS k,
             CAST((SELECT sum(r2 * r2) FROM per_type) AS BIGINT) AS s_r2sq,
             CAST((SELECT sum(mr2 * mr2) FROM rk) AS BIGINT) AS a2
    )
    SELECT n AS n_days, k, s_r2sq AS sum_r2_sq, a2 AS sum_mr2_sq,
           CAST(CASE WHEN a2 - n * k * (k + 1) * (k + 1) = 0 THEN NULL
                ELSE floor(1000000.0 * (k - 1)
                           * (s_r2sq - n * n * k * (k + 1) * (k + 1))
                           / (a2 - n * k * (k + 1) * (k + 1)))
                END AS BIGINT) AS friedman_ppm
    FROM m
    """


@query("agg_friedman_test", oracle=FRIEDMAN_ORACLE)
def agg_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman's test (blocked-rank k-sample): does daily event volume
    differ systematically across the 5 event types, with each DAY as
    its own block? Completes the nonparametric ladder next to
    Kruskal-Wallis (independent groups) and McNemar (paired binary).

    Exactness: within-block doubled midranks (mr2) keep ties integral;
    Conover's tie-corrected statistic cross-multiplied by 4 is a ratio
    of two pure-integer terms, (k-1)(SumR2_j^2 - n^2 k (k+1)^2) over
    (A2 - n k (k+1)^2), emitted as floor-ppm from ONE double division —
    identical on both engines. An all-tied-ranks day grid degenerates
    the denominator to 0 -> NULL (the runs-test three-sided rule).

    Scale: blocks are independent — the rank windows are PARTITIONED BY
    day (k = 5 rows per partition, never a global window) and everything
    after is two partial-agg groupBys; the day x type grid is a
    broadcast combine with a 5-row literal frame."""
    return friedman_from_rk(_block_ranks(spark, sf_dir))


def _page_j_case() -> str:
    return "CASE g " + " ".join(
        f"WHEN '{t}' THEN {j}" for j, t in enumerate(_EV_TYPES, start=1)
    ) + " END"


@query(
    "agg_page_trend_test",
    oracle=f"""
    WITH {_block_rank_cte()},
    per_type AS (
      SELECT g, CAST(sum(mr2) AS BIGINT) AS r2 FROM rk GROUP BY g
    ),
    m AS (
      SELECT CAST((SELECT count(*) FROM days) AS BIGINT) AS n,
             CAST({len(_EV_TYPES)} AS BIGINT) AS k,
             CAST((SELECT sum(({_page_j_case()}) * r2) FROM per_type)
                  AS BIGINT) AS l2
    )
    SELECT n AS n_days, k, l2,
           CAST(n * k * (k + 1) * (k + 1) / 2 AS BIGINT) AS e_l2,
           CAST(floor(1000000.0 * (l2 - n * k * (k + 1) * (k + 1) / 2)
                      / (2.0 * sqrt(n * k * k * (k + 1) * (k * k - 1) / 144.0)))
                AS BIGINT) AS page_z_ppm
    FROM m
    """,
)
def agg_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L trend test — the ORDERED-alternative companion to
    Friedman (Jonckheere is to Kruskal-Wallis what Page is to
    Friedman): is daily volume monotonically ordered across the event
    types in their fixed alphabetical order? L = sum_j j * R_j over the
    within-day midranks; carried doubled (l2 = 2L) so ties stay
    integral. e_l2 = n k (k+1)^2 / 2 is the exact integer null
    expectation (k+1 even here, so /2 is exact); the z-score uses the
    standard tie-UNCORRECTED null variance n k^2 (k+1)(k^2-1)/144
    (documented approximation — ties only shrink the variance, so |z|
    is conservative) with one sqrt + one division in double, floored to
    ppm, operand-order identical on both engines. Same partitioned-
    window block-rank frame as Friedman (scale notes there)."""
    rk = _block_ranks(spark, sf_dir)
    k = len(_EV_TYPES)
    j_case = F.expr(_page_j_case())
    per_type = rk.groupBy("g").agg(F.sum("mr2").cast("long").alias("r2"))
    l2 = per_type.agg(
        F.sum(j_case * F.col("r2")).cast("long").alias("l2")
    )
    n = rk.agg(F.countDistinct("day").cast("long").alias("n"))
    m = n.crossJoin(F.broadcast(l2)).select(
        "n", F.lit(k).cast("long").alias("k"), "l2"
    )
    e_l2 = (
        F.col("n") * F.col("k") * (F.col("k") + 1) * (F.col("k") + 1) / F.lit(2)
    ).cast("long")
    var_expr = (
        F.col("n")
        * F.col("k")
        * F.col("k")
        * (F.col("k") + 1)
        * (F.col("k") * F.col("k") - 1)
    ).cast("double") / F.lit(144.0)
    return m.select(
        F.col("n").alias("n_days"),
        "k",
        "l2",
        e_l2.alias("e_l2"),
        F.floor(
            F.lit(1000000.0)
            * (F.col("l2") - e_l2).cast("double")
            / (F.lit(2.0) * F.sqrt(var_expr))
        )
        .cast("long")
        .alias("page_z_ppm"),
    )


COCHRAN_ORACLE = f"""
    WITH pu AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    rows_tot AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS r FROM pu GROUP BY user_id
    ),
    cols_tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM pu GROUP BY event_type
    ),
    m AS (
      SELECT CAST((SELECT count(*) FROM rows_tot) AS BIGINT) AS n_users,
             CAST({len(_EV_TYPES)} AS BIGINT) AS k,
             CAST((SELECT count(*) FROM pu) AS BIGINT) AS n_succ,
             CAST((SELECT sum(r * r) FROM rows_tot) AS BIGINT) AS s_rowsq
    ),
    numer AS (
      SELECT CAST(sum((m.k * c.c - m.n_succ) * (m.k * c.c - m.n_succ))
                  AS BIGINT) AS s_dev
      FROM cols_tot c CROSS JOIN m
    )
    SELECT m.n_users, m.k, m.n_succ, m.s_rowsq,
           CAST(CASE WHEN m.k * m.n_succ - m.s_rowsq = 0 THEN NULL
                ELSE floor(1000000.0 * (m.k - 1) * numer.s_dev
                           / (m.k * (m.k * m.n_succ - m.s_rowsq)))
                END AS BIGINT) AS cochran_q_ppm
    FROM m CROSS JOIN numer
    """


@query("events_cochran_q", oracle=COCHRAN_ORACLE)
def events_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q — the k-treatment generalization of McNemar: across
    the 5 event types, do different proportions of users ever perform
    each action, treating each USER as their own block of 5 binary
    outcomes? Q = (k-1) sum_j (k C_j - N)^2 / (k (k N - sum_i R_i^2)),
    the textbook formula cross-multiplied by k^2 so every term is a
    pure integer (C_j column successes, R_i row successes, N total);
    one double division floored to ppm. A design where every user did
    every type (or none) has zero within-block variance -> denominator
    0 -> NULL. Only SUCCESSES are materialized (the distinct
    (user, type) pairs); absent cells are zeros by construction, so the
    blocks x treatments matrix never exists — two partial-agg groupBys
    over the pair relation and two 1-row broadcast combines, which is
    what survives a 100 TB event log."""
    t = load_tables(spark, sf_dir)
    pu = t["events"].select("user_id", "event_type").distinct()
    return cochran_q_from_pairs(pu)


def cochran_q_from_pairs(pu: DataFrame) -> DataFrame:
    """Assemble Cochran's Q from the distinct (user_id, event_type)
    success-pair relation — shared by the batch query and
    streaming_cochran_state (whose multiplicity view makes DISTINCT
    streamable: fold counts, read rows with c > 0)."""
    from postrack_spark.session import pin_small

    k = len(_EV_TYPES)
    # pu feeds both margin aggregates and the 1-row m frame feeds the
    # numerator AND the final combine — pinned so the pair relation
    # computes once per action (3 scans before, 1 after).
    pu = pin_small("cochran_pu", pu)
    rows_tot = pu.groupBy("user_id").agg(F.count("*").cast("long").alias("r"))
    cols_tot = pu.groupBy("event_type").agg(F.count("*").cast("long").alias("c"))
    m = pin_small("cochran_m", rows_tot.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("s_rowsq"),
        F.sum("r").cast("long").alias("n_succ"),
    ).select("n_users", F.lit(k).cast("long").alias("k"), "n_succ", "s_rowsq"))
    numer = (
        cols_tot.crossJoin(F.broadcast(m))
        .select(
            (
                (F.col("k") * F.col("c") - F.col("n_succ"))
                * (F.col("k") * F.col("c") - F.col("n_succ"))
            ).alias("dev")
        )
        .agg(F.sum("dev").cast("long").alias("s_dev"))
    )
    den = F.col("k") * F.col("n_succ") - F.col("s_rowsq")
    return m.crossJoin(F.broadcast(numer)).select(
        "n_users",
        "k",
        "n_succ",
        "s_rowsq",
        F.when(den == 0, F.lit(None).cast("long"))
        .otherwise(
            F.floor(
                F.lit(1000000.0)
                * (F.col("k") - 1).cast("double")
                * F.col("s_dev").cast("double")
                / (F.col("k") * den).cast("double")
            ).cast("long")
        )
        .alias("cochran_q_ppm"),
    )


@query(
    "events_poisson_dispersion",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
             event_type AS g, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    days AS (SELECT DISTINCT day FROM daily),
    types AS ({" UNION ALL ".join(f"SELECT '{t}' AS g" for t in _EV_TYPES)}),
    grid AS (
      SELECT t.g, coalesce(x.c, 0) AS c
      FROM days d CROSS JOIN types t
      LEFT JOIN daily x ON x.day = d.day AND x.g = t.g
    ),
    m AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(c) AS BIGINT) AS total,
             CAST(sum(c * c) AS BIGINT) AS sum_sq
      FROM grid GROUP BY g
    )
    SELECT g AS event_type, n_days, total, sum_sq,
           CAST(CASE WHEN total = 0 THEN NULL
                ELSE floor(1000000.0 * (n_days * sum_sq - total * total)
                           / (total * (n_days - 1)))
                END AS BIGINT) AS vmr_ppm
    FROM m ORDER BY event_type
    """,
)
def events_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-of-dispersion screen per event type: is daily volume
    Poisson-like (VMR ~ 1e6 ppm), underdispersed (regular, bot-like —
    the events_bot_regularity signal generalized) or overdispersed
    (bursty — the Fano family's chi-square-form cousin)? VMR =
    s^2/mean = (n*Sum(c^2) - S^2) / (S*(n-1)) — pure integer terms over
    the 0-filled day x type grid (zeros are real observations for
    dispersion; the Friedman grid discipline), one double division
    floored to ppm, NULL for an all-zero type (three-sided rule).
    Scale: two hash aggs over a day-level frame."""
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .select(
            F.floor(F.unix_micros("ts") / F.lit(86400000000)).cast("long").alias("day"),
            F.col("event_type").alias("g"),
        )
        .groupBy("day", "g")
        .agg(F.count("*").cast("long").alias("c"))
    )
    days = daily.select("day").distinct()
    types = spark.createDataFrame([(g,) for g in _EV_TYPES], ["g"])
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(daily, ["day", "g"], "left")
        .select("g", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"))
    )
    m = grid.groupBy("g").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_sq"),
    )
    vmr = F.when(F.col("total") == 0, F.lit(None).cast("long")).otherwise(
        F.floor(
            F.lit(1000000.0)
            * (F.col("n_days") * F.col("sum_sq") - F.col("total") * F.col("total")).cast(
                "double"
            )
            / (F.col("total") * (F.col("n_days") - 1)).cast("double")
        ).cast("long")
    )
    return m.select(
        F.col("g").alias("event_type"), "n_days", "total", "sum_sq",
        vmr.alias("vmr_ppm"),
    ).orderBy("event_type")


@query(
    "agg_cramers_v",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority AS p, o_orderstatus AS s,
             CAST(count(*) AS BIGINT) AS o
      FROM orders GROUP BY 1, 2
    ),
    rt AS (SELECT p, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY p),
    ct AS (SELECT s, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY s),
    n AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                 CAST(count(DISTINCT p) AS BIGINT) AS n_rows,
                 CAST(count(DISTINCT s) AS BIGINT) AS n_cols
          FROM cells),
    terms AS (
      SELECT CAST(floor(1000000.0
                        * (CAST(n.n * cells.o - rt.r * ct.c AS DOUBLE)
                           * CAST(n.n * cells.o - rt.r * ct.c AS DOUBLE))
                        / CAST(n.n * rt.r * ct.c AS DOUBLE)) AS BIGINT) AS t
      FROM cells JOIN rt USING (p) JOIN ct USING (s) CROSS JOIN n
    )
    SELECT n.n, n.n_rows, n.n_cols,
           CAST((SELECT sum(t) FROM terms) AS BIGINT) AS chi2_ppm,
           CAST(floor(CAST((SELECT sum(t) FROM terms) AS DOUBLE)
                      / (n.n * (least(n.n_rows, n.n_cols) - 1)))
                AS BIGINT) AS v_squared_ppm
    FROM n
    """,
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V — the [0,1]-normalized effect size the raw chi-square
    (events_chi2_type_by_segment) lacks: how associated are order
    priority and order status? chi2 = sum over cells of
    (n*O - R*C)^2 / (n*R*C), each term floor-ppm'd BEFORE the sum (the
    floor-before-sum rule: per-cell doubles are identical IEEE ops on
    identical integers, the integer sum is then exact); V^2 =
    chi2 / (n * (min(r,c)-1)) with one more floored division. The
    deviation n*O - R*C fits int64 at every SF (|dev| <= n^2 ~ 2.2e10
    at sf0.1) and is squared in DOUBLE — deterministic both engines.
    One contingency aggregate + two broadcast margins; O(cells) work."""
    from postrack_spark.session import pin_small

    t = load_tables(spark, sf_dir)
    # 15-cell contingency table with four consumers (two margins, the
    # totals, the term scan) — pinned: one orders pass (was 5).
    cells = pin_small(
        "cramers_cells",
        t["orders"]
        .groupBy(
            F.col("o_orderpriority").alias("p"), F.col("o_orderstatus").alias("s")
        )
        .agg(F.count("*").cast("long").alias("o")),
    )
    rt = cells.groupBy("p").agg(F.sum("o").cast("long").alias("r"))
    ct = cells.groupBy("s").agg(F.sum("o").cast("long").alias("c"))
    n = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("p").cast("long").alias("n_rows"),
        F.countDistinct("s").cast("long").alias("n_cols"),
    )
    dev = (F.col("n") * F.col("o") - F.col("r") * F.col("c")).cast("double")
    terms = (
        cells.join(F.broadcast(rt), "p")
        .join(F.broadcast(ct), "s")
        .crossJoin(F.broadcast(n))
        .select(
            F.floor(
                F.lit(1000000.0)
                * dev
                * dev
                / (F.col("n") * F.col("r") * F.col("c")).cast("double")
            )
            .cast("long")
            .alias("t")
        )
        .agg(F.sum("t").cast("long").alias("chi2_ppm"))
    )
    return n.crossJoin(F.broadcast(terms)).select(
        "n",
        "n_rows",
        "n_cols",
        "chi2_ppm",
        F.floor(
            F.col("chi2_ppm").cast("double")
            / (F.col("n") * (F.least("n_rows", "n_cols") - 1)).cast("double")
        )
        .cast("long")
        .alias("v_squared_ppm"),
    )


@query(
    "sample_systematic_every_k",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             row_number() OVER (ORDER BY md5(CAST(o_orderkey AS VARCHAR)),
                                o_orderkey) AS rn
      FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(cents) AS BIGINT) AS cents,
           CAST(min(rn) AS BIGINT) AS first_rn,
           CAST(max(rn) AS BIGINT) AS last_rn
    FROM ranked WHERE rn % 50 = 0
    """,
)
def sample_systematic_every_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every k-th) sampling over a hash-shuffled total
    order: rank rows by md5 of the key (engine-portable hashing rule)
    and keep every 50th — the classic frame-free survey design, which
    on a hashed order is an exact-size uniform sample with zero RNG
    state (the sample_hash_deterministic family's rank-based sibling;
    hash ordering makes 'systematic' immune to periodicity in the
    physical layout). The global rank comes from
    operators/ranking.global_row_number — one range exchange, no
    WindowExec, no collect (the oracle's unpartitioned window is
    DuckDB-side only). Output pins count, money mass, and the first/
    last selected ranks so an off-by-one in either engine's ranking
    fails the gate."""
    from postrack_spark.operators.ranking import global_row_number

    t = load_tables(spark, sf_dir)
    base = t["orders"].select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.md5(F.col("o_orderkey").cast("string")).alias("h"),
    )
    ranked = global_row_number(base, ["h", "o_orderkey"], "rn")
    return ranked.filter(F.col("rn") % 50 == 0).agg(
        F.count("*").cast("long").alias("n_sampled"),
        F.sum("cents").cast("long").alias("cents"),
        F.min("rn").cast("long").alias("first_rn"),
        F.max("rn").cast("long").alias("last_rn"),
    )


@query(
    "agg_kendalls_w",
    oracle=f"""
    WITH {_block_rank_cte()},
    per_type AS (
      SELECT g, CAST(sum(mr2) AS BIGINT) AS r2 FROM rk GROUP BY g
    ),
    ties AS (
      SELECT CAST(sum(tc * tc * tc - tc) AS BIGINT) AS tie_sum
      FROM (SELECT day, c, CAST(count(*) AS BIGINT) AS tc
            FROM grid GROUP BY day, c)
    ),
    m AS (
      SELECT CAST((SELECT count(*) FROM days) AS BIGINT) AS b,
             CAST({len(_EV_TYPES)} AS BIGINT) AS k,
             CAST((SELECT sum((r2 - (SELECT count(*) FROM days) * ({len(_EV_TYPES)} + 1))
                              * (r2 - (SELECT count(*) FROM days) * ({len(_EV_TYPES)} + 1)))
                   FROM per_type) AS BIGINT) AS s4,
             (SELECT tie_sum FROM ties) AS tie_sum
    )
    SELECT b AS n_days, k, s4, tie_sum,
           CAST(CASE WHEN b * b * k * (k * k - 1) - b * tie_sum = 0 THEN NULL
                ELSE floor(1000000.0 * 3 * s4
                           / (b * b * k * (k * k - 1) - b * tie_sum))
                END AS BIGINT) AS w_ppm
    FROM m
    """,
)
def agg_kendalls_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W — how consistently do the
    b day-blocks rank the k event types (W=1: every day agrees, W=0:
    random)? The normalization Friedman's chi-square leaves out
    (chi2 = b(k-1)W). Tie-corrected: W = 12S / (b^2 k(k^2-1) - b*SumT)
    with S from rank sums and T = Sum(t^3-t) per block; with doubled
    midranks S4 = 4S, so W = 3*S4 / (same denominator) — every term a
    pure integer off the shared _block_ranks frame (Friedman's scale
    notes apply), one ppm-floored division, NULL when all blocks tie
    everything (zero denominator)."""
    rk = _block_ranks(spark, sf_dir)
    k = len(_EV_TYPES)
    # tie sum needs the grid's per-(day, value) multiplicities — rebuild
    # the counts from mr2's tie width is possible but opaque; recompute
    # the tiny grouped frame instead (same two hash aggs as Friedman).
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .select(
            F.floor(F.unix_micros("ts") / F.lit(86400000000)).cast("long").alias("day"),
            F.col("event_type").alias("g"),
        )
        .groupBy("day", "g")
        .agg(F.count("*").cast("long").alias("c"))
    )
    days = daily.select("day").distinct()
    types = spark.createDataFrame([(g,) for g in _EV_TYPES], ["g"])
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(daily, ["day", "g"], "left")
        .select("day", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"))
    )
    ties = (
        grid.groupBy("day", "c")
        .agg(F.count("*").cast("long").alias("tc"))
        .agg(
            F.sum(F.col("tc") * F.col("tc") * F.col("tc") - F.col("tc"))
            .cast("long")
            .alias("tie_sum")
        )
    )
    per_type = rk.groupBy("g").agg(F.sum("mr2").cast("long").alias("r2"))
    b_frame = rk.agg(F.countDistinct("day").cast("long").alias("b"))
    s4 = (
        per_type.crossJoin(F.broadcast(b_frame))
        .select(
            (
                (F.col("r2") - F.col("b") * (k + 1))
                * (F.col("r2") - F.col("b") * (k + 1))
            ).alias("d2")
        )
        .agg(F.sum("d2").cast("long").alias("s4"))
    )
    m = (
        b_frame.crossJoin(F.broadcast(s4))
        .crossJoin(F.broadcast(ties))
        .select("b", F.lit(k).cast("long").alias("k"), "s4", "tie_sum")
    )
    den = (
        F.col("b") * F.col("b") * F.col("k") * (F.col("k") * F.col("k") - 1)
        - F.col("b") * F.col("tie_sum")
    )
    return m.select(
        F.col("b").alias("n_days"),
        "k",
        "s4",
        "tie_sum",
        F.when(den == 0, F.lit(None).cast("long"))
        .otherwise(
            F.floor(F.lit(1000000.0) * 3 * F.col("s4").cast("double") / den.cast("double"))
            .cast("long")
        )
        .alias("w_ppm"),
    )


@query(
    "agg_quade_test",
    oracle=f"""
    WITH {_block_rank_cte()},
    ranges AS (
      SELECT day, CAST(max(c) - min(c) AS BIGINT) AS rng
      FROM grid GROUP BY day
    ),
    rvals AS (
      SELECT rng, CAST(count(*) AS BIGINT) AS cnt FROM ranges GROUP BY rng
    ),
    rmid AS (
      SELECT rng,
             CAST(2 * coalesce(sum(cnt) OVER (ORDER BY rng
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + cnt + 1 AS BIGINT) AS q2
      FROM rvals
    ),
    qd AS (
      SELECT rk.g,
             CAST(m.q2 * (rk.mr2 - {len(_EV_TYPES) + 1}) AS BIGINT) AS term
      FROM rk
      JOIN ranges r ON r.day = rk.day
      JOIN rmid m ON m.rng = r.rng
    ),
    per_type AS (
      SELECT g, CAST(sum(term) AS BIGINT) AS s4 FROM qd GROUP BY g
    ),
    m AS (
      SELECT CAST((SELECT count(*) FROM days) AS BIGINT) AS b,
             CAST({len(_EV_TYPES)} AS BIGINT) AS k,
             CAST((SELECT sum(s4 * s4) FROM per_type) AS BIGINT) AS sum_s4_sq,
             CAST((SELECT sum(term * term) FROM qd) AS BIGINT) AS a16
    )
    SELECT b AS n_days, k, sum_s4_sq, a16,
           CAST(CASE WHEN b * a16 - sum_s4_sq = 0 THEN NULL
                ELSE floor(1000000.0 * (b - 1) * sum_s4_sq
                           / (b * a16 - sum_s4_sq))
                END AS BIGINT) AS quade_f_ppm
    FROM m
    """,
)
def agg_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade's test — the range-WEIGHTED Friedman that completes the
    blocked-rank ladder (Friedman/Page/Kendall-W/Quade): days with a
    wide spread between event types carry more evidence than
    near-tied days, so each block's signed rank deviations are
    weighted by the rank of the block's RANGE across blocks. Both
    rank layers are exact doubled midranks: within-block d2 = mr2 -
    (k+1) (integer, sums to 0 per block) and across-block weights q2
    from the SAME distributed prefix-sum machinery as Kruskal-Wallis
    (operators/ranking.prefix_sum_by_key over the distinct-range
    frame — one range exchange, never a global window on Spark; the
    oracle's unpartitioned window is DuckDB-side only). Quade's F =
    (b-1)*SumS_j^2/b / (A - SumS_j^2/b) cross-multiplies to pure
    integers with the doubled scales cancelling: (b-1)*SumS4^2 /
    (b*A16 - SumS4^2); one ppm-floored division, NULL at zero
    denominator (every block fully tied)."""
    from postrack_spark.operators.ranking import prefix_sum_by_key

    from postrack_spark.session import pin_small

    rk = _block_ranks(spark, sf_dir)
    k = len(_EV_TYPES)
    t = load_tables(spark, sf_dir)
    # second events pass for the range layer (the rank layer is pinned
    # inside block_ranks_from_daily); its day/range/term frames each
    # feed two branches — pinned (measured 9 scans before, 2 after).
    daily = pin_small(
        "quade_daily",
        t["events"]
        .select(
            F.floor(F.unix_micros("ts") / F.lit(86400000000)).cast("long").alias("day"),
            F.col("event_type").alias("g"),
        )
        .groupBy("day", "g")
        .agg(F.count("*").cast("long").alias("c")),
    )
    days = daily.select("day").distinct()
    types = spark.createDataFrame([(g,) for g in _EV_TYPES], ["g"])
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(daily, ["day", "g"], "left")
        .select("day", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"))
    )
    ranges = pin_small(
        "quade_ranges",
        grid.groupBy("day").agg(
            (F.max("c") - F.min("c")).cast("long").alias("rng")
        ),
    )
    rvals = ranges.groupBy("rng").agg(F.count("*").cast("long").alias("cnt"))
    rmid = prefix_sum_by_key(rvals, ["rng"], "cnt", "cumb", inclusive=False).select(
        "rng",
        (F.lit(2) * F.col("cumb") + F.col("cnt") + F.lit(1)).cast("long").alias("q2"),
    )
    qd = pin_small(
        "quade_qd",
        rk.join(ranges, "day")
        .join(F.broadcast(rmid), "rng")
        .select(
            "g",
            (F.col("q2") * (F.col("mr2") - F.lit(k + 1))).cast("long").alias("term"),
        ),
    )
    per_type = qd.groupBy("g").agg(F.sum("term").cast("long").alias("s4"))
    sum_s4 = per_type.agg(
        F.sum(F.col("s4") * F.col("s4")).cast("long").alias("sum_s4_sq")
    )
    a16 = qd.agg(F.sum(F.col("term") * F.col("term")).cast("long").alias("a16"))
    b_frame = days.agg(F.count("*").cast("long").alias("b"))
    m = (
        b_frame.crossJoin(F.broadcast(sum_s4))
        .crossJoin(F.broadcast(a16))
        .select("b", F.lit(k).cast("long").alias("k"), "sum_s4_sq", "a16")
    )
    den = F.col("b") * F.col("a16") - F.col("sum_s4_sq")
    return m.select(
        F.col("b").alias("n_days"),
        "k",
        "sum_s4_sq",
        "a16",
        F.when(den == 0, F.lit(None).cast("long"))
        .otherwise(
            F.floor(
                F.lit(1000000.0)
                * (F.col("b") - 1).cast("double")
                * F.col("sum_s4_sq").cast("double")
                / den.cast("double")
            ).cast("long")
        )
        .alias("quade_f_ppm"),
    )


@query(
    "agg_goodman_kruskal_gamma",
    oracle="""
    WITH base AS (
      SELECT CAST(CASE o_orderpriority
               WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
               WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4
               ELSE 5 END AS BIGINT) AS p,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey
      FROM orders
    ),
    q AS (
      SELECT p, CAST(ntile(4) OVER (ORDER BY cents, o_orderkey) AS BIGINT) AS qt
      FROM base
    ),
    cells AS (
      SELECT p, qt, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY p, qt
    ),
    cd AS (
      SELECT CAST(sum(CASE WHEN b.p > a.p AND b.qt > a.qt
                           THEN a.n * b.n ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN b.p > a.p AND b.qt < a.qt
                           THEN a.n * b.n ELSE 0 END) AS BIGINT) AS d
      FROM cells a JOIN cells b ON true
    )
    SELECT c AS concordant, d AS discordant,
           CAST(CASE WHEN c + d = 0 THEN NULL
                ELSE floor(1000000.0 * (c - d) / (c + d)) END AS BIGINT)
             AS gamma_ppm
    FROM cd
    """,
)
def agg_goodman_kruskal_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal gamma — ordinal association with ties EXCLUDED,
    the statistic Kendall's tau-a (agg_kendall_tau_exact, which
    tie-breaks ranks) cannot express: across order pairs, when
    priority rises does the price quartile rise (concordant) or fall
    (discordant)? gamma = (C - D)/(C + D). Because both variables are
    LOW-CARDINALITY ordinals, C and D come from the 20-cell
    contingency table squared — a broadcast self-join of a 20-row
    frame, never an O(n^2) pair join — with cell-product sums as pure
    int64 (<= n^2/2 ~ 1.1e10 at sf0.1). The price quartile is SQL
    ntile(4) on both sides: operators/ranking.exact_ntile on Spark
    (distributed, zero WindowExec), the window function in the DuckDB
    oracle. One ppm-floored division; C+D=0 degenerates to NULL."""
    from postrack_spark.operators.ranking import exact_ntile

    base = load_tables(spark, sf_dir)["orders"].select(
        F.expr(
            "CAST(CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2"
            " WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4 ELSE 5 END"
            " AS BIGINT)"
        ).alias("p"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    q = exact_ntile(base, 4, [F.asc("cents"), F.asc("o_orderkey")], "qt")
    cells = q.groupBy("p", F.col("qt").cast("long").alias("qt")).agg(
        F.count("*").cast("long").alias("n")
    )
    a = cells.select(
        F.col("p").alias("p1"), F.col("qt").alias("q1"), F.col("n").alias("n1")
    )
    b = cells.select(
        F.col("p").alias("p2"), F.col("qt").alias("q2"), F.col("n").alias("n2")
    )
    cd = (
        a.crossJoin(F.broadcast(b))  # 20 x 20 bounded-frame combine
        .agg(
            F.sum(
                F.when(
                    (F.col("p2") > F.col("p1")) & (F.col("q2") > F.col("q1")),
                    F.col("n1") * F.col("n2"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("concordant"),
            F.sum(
                F.when(
                    (F.col("p2") > F.col("p1")) & (F.col("q2") < F.col("q1")),
                    F.col("n1") * F.col("n2"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("discordant"),
        )
    )
    den = F.col("concordant") + F.col("discordant")
    return cd.select(
        "concordant",
        "discordant",
        F.when(den == 0, F.lit(None).cast("long"))
        .otherwise(
            F.floor(
                F.lit(1000000.0)
                * (F.col("concordant") - F.col("discordant")).cast("double")
                / den.cast("double")
            ).cast("long")
        )
        .alias("gamma_ppm"),
    )


@query(
    "agg_misra_gries_heavy_hitters",
    oracle="""
    WITH base AS (
      SELECT CAST(floor(sqrt(CAST(o_orderkey % 10000 AS DOUBLE))) AS BIGINT) AS key
      FROM orders
    ),
    exact AS (
      SELECT key, CAST(count(*) AS BIGINT) AS true_n FROM base GROUP BY key
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base)
    SELECT e.key, e.true_n,
           CAST(1 AS INT) AS in_sketch,
           CAST(1 AS INT) AS bound_ok
    FROM exact e CROSS JOIN n
    WHERE e.true_n > n.n // 65
    ORDER BY e.key
    """,
)
def agg_misra_gries_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters with their guarantees CERTIFIED — the
    deterministic frequent-items sketch next to the count-min family
    (agg_count_min_sketch), over a deliberately skewed derived key
    (floor(sqrt(orderkey % 10000)): linear-ramp frequencies, so the
    heavy set is a strict, non-empty subset). The sketch itself is
    partitioning-dependent and could never hash-gate; the THEOREMS are
    what gate (the HLL/GK certificate discipline): every key with
    true_n > N/(k+1) must appear among the k=64 merged candidates
    (in_sketch), with est <= true_n and true_n - est <= N DIV (k+1)
    (bound_ok) — the oracle demands both flags identically 1 on the
    exact heavy set it computes itself. Sketch: O(k) state per
    partition in one Arrow pass + a single tiny merge
    (operators/stats.misra_gries_candidates); the exact side exists
    only to certify at test scale."""
    from postrack_spark.operators.stats import misra_gries_candidates

    k = 64
    base = load_tables(spark, sf_dir)["orders"].select(
        F.expr(
            "CAST(floor(sqrt(CAST(o_orderkey % 10000 AS DOUBLE))) AS BIGINT)"
        ).alias("key")
    )
    from postrack_spark.session import pin_small

    cand = misra_gries_candidates(base, "key", k)
    # exact key counts feed the heavy-set filter AND the total (n =
    # Σ true_n, exact by construction) — pinned so only the sketch pass
    # and one exact pass scan orders (3 scans before, 2 after; the
    # sketch MUST see the raw row stream, so its scan stays).
    exact = pin_small(
        "mg_exact",
        base.groupBy("key").agg(F.count("*").cast("long").alias("true_n")),
    )
    n = exact.agg(F.sum("true_n").cast("long").alias("n"))
    heavy = (
        exact.crossJoin(F.broadcast(n))
        .filter(F.col("true_n") > F.expr("n DIV 65"))
    )
    joined = heavy.join(F.broadcast(cand), "key", "left")
    return joined.select(
        "key",
        "true_n",
        F.col("est").isNotNull().cast("int").alias("in_sketch"),
        (
            F.col("est").isNotNull()
            & (F.col("est") <= F.col("true_n"))
            & (F.col("true_n") - F.col("est") <= F.expr("n DIV 65"))
        )
        .cast("int")
        .alias("bound_ok"),
    ).orderBy("key")


@query(
    "quality_wilson_lower_bound",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM events),
    s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS s FROM u GROUP BY event_type)
    SELECT s.event_type, s.s AS n_users_with, n.n AS n_users,
           CAST(floor(1000000.0
                      * (s.s + 2 - 2.0 * sqrt(CAST(s.s * (n.n - s.s) AS DOUBLE)
                                              / n.n + 1.0))
                      / (n.n + 4)) AS BIGINT) AS wilson_lb_ppm
    FROM s CROSS JOIN n
    ORDER BY wilson_lb_ppm DESC, event_type
    """,
)
def quality_wilson_lower_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score lower confidence bound (z=2) on each event type's
    user-adoption share — the 'sort by lower bound, not by raw rate'
    statistic that keeps small-sample rates from outranking
    well-attested ones (the Reddit/Evan Miller ranking rule; here it
    is the principled version of quality dashboards' adoption
    ranking). With z=2 the formula is lb = (S + 2 - 2*sqrt(S(n-S)/n +
    1)) / (n + 4): one division, one sqrt, one final division —
    identical operand order both engines over identical integers,
    floored to ppm (the assortativity/ACF rule for irreducible
    irrationals). Adoption counts are distinct-pair aggregates — two
    partial-agg shuffles, a 1-row broadcast."""
    t = load_tables(spark, sf_dir)
    u = t["events"].select("user_id", "event_type").distinct()
    n = t["events"].agg(F.countDistinct("user_id").cast("long").alias("n"))
    s = u.groupBy("event_type").agg(F.count("*").cast("long").alias("s"))
    lb = F.floor(
        F.lit(1000000.0)
        * (
            F.col("s")
            + 2
            - F.lit(2.0)
            * F.sqrt(
                (F.col("s") * (F.col("n") - F.col("s"))).cast("double")
                / F.col("n")
                + F.lit(1.0)
            )
        )
        / (F.col("n") + 4)
    ).cast("long")
    return (
        s.crossJoin(F.broadcast(n))
        .select(
            "event_type",
            F.col("s").alias("n_users_with"),
            F.col("n").alias("n_users"),
            lb.alias("wilson_lb_ppm"),
        )
        .orderBy(F.col("wilson_lb_ppm").desc(), "event_type")
    )


@query(
    "agg_wilcoxon_signed_rank",
    oracle="""
    WITH bounds AS (
      SELECT (CAST(min(epoch_us(ts)) AS BIGINT) // 1000000
              + CAST(max(epoch_us(ts)) AS BIGINT) // 1000000) // 2 AS mid_s
      FROM events
    ),
    per_user AS (
      SELECT user_id,
             CAST(sum(CASE WHEN CAST(epoch_us(ts) AS BIGINT) // 1000000 <= mid_s
                           THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(sum(CASE WHEN CAST(epoch_us(ts) AS BIGINT) // 1000000 > mid_s
                           THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS c2
      FROM events CROSS JOIN bounds
      GROUP BY user_id
    ),
    diffs AS (
      SELECT c2 - c1 AS d, abs(c2 - c1) AS ad
      FROM per_user WHERE c2 - c1 <> 0
    ),
    vals AS (SELECT ad, CAST(count(*) AS BIGINT) AS cnt FROM diffs GROUP BY ad),
    mid AS (
      SELECT ad,
             CAST(2 * coalesce(sum(cnt) OVER (ORDER BY ad
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + cnt + 1 AS BIGINT) AS mr2
      FROM vals
    ),
    stat AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nonzero,
             CAST(sum(CASE WHEN d.d > 0 THEN m.mr2 ELSE 0 END) AS BIGINT)
               AS w_plus_x2,
             CAST(sum(CASE WHEN d.d < 0 THEN m.mr2 ELSE 0 END) AS BIGINT)
               AS w_minus_x2
      FROM diffs d JOIN mid m ON m.ad = d.ad
    )
    SELECT n_nonzero, w_plus_x2, w_minus_x2,
           CAST(n_nonzero * (n_nonzero + 1) AS BIGINT) AS w_total_x2
    FROM stat
    """,
)
def agg_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank — the PAIRED continuous companion to
    McNemar (paired binary) and Mann-Whitney (independent): did each
    user's spend shift between the first and second half of the
    observation window, using each user as their own control? Zero
    differences drop (the standard treatment), |d| gets doubled
    midranks from ONE distributed prefix sum over the distinct-|d|
    frame (operators/ranking — the MWU machinery verbatim), and W+ is
    the doubled rank sum of the positive side. Invariant pinned in the
    output: w_plus_x2 + w_minus_x2 == n(n+1) (= 2 * total rank sum) —
    an engine disagreement anywhere breaks it. Pure integers, no
    doubles at all; the oracle's unpartitioned window is DuckDB-side
    only."""
    from postrack_spark.operators.ranking import prefix_sum_by_key

    t = load_tables(spark, sf_dir)
    ev = t["events"].select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(1000000)).cast("long").alias("s"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    bounds = ev.agg(((F.min("s") + F.max("s")) / 2).cast("long").alias("mid_s"))
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("s") <= F.col("mid_s"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("c1"),
            F.sum(F.when(F.col("s") > F.col("mid_s"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("c2"),
        )
    )
    diffs = (
        per_user.select((F.col("c2") - F.col("c1")).alias("d"))
        .filter(F.col("d") != 0)
        .select("d", F.abs("d").alias("ad"))
    )
    vals = diffs.groupBy("ad").agg(F.count("*").cast("long").alias("cnt"))
    mid = prefix_sum_by_key(vals, ["ad"], "cnt", "cumb", inclusive=False).select(
        "ad",
        (F.lit(2) * F.col("cumb") + F.col("cnt") + F.lit(1)).cast("long").alias("mr2"),
    )
    stat = (
        diffs.join(mid, "ad")
        .agg(
            F.count("*").cast("long").alias("n_nonzero"),
            F.sum(F.when(F.col("d") > 0, F.col("mr2")).otherwise(0))
            .cast("long")
            .alias("w_plus_x2"),
            F.sum(F.when(F.col("d") < 0, F.col("mr2")).otherwise(0))
            .cast("long")
            .alias("w_minus_x2"),
        )
    )
    return stat.select(
        "n_nonzero",
        "w_plus_x2",
        "w_minus_x2",
        (F.col("n_nonzero") * (F.col("n_nonzero") + 1)).cast("long").alias("w_total_x2"),
    )


_ST_RANK_SQL = """CAST(CASE
    WHEN rn - 1 = n - rn THEN n
    WHEN rn - 1 < n - rn THEN
      CASE WHEN (rn - 1) % 2 = 0 THEN 2 * (rn - 1) + 1 ELSE 2 * (rn - 1) + 2 END
    ELSE
      CASE WHEN (n - rn) % 2 = 0 THEN 2 * (n - rn) + 2 ELSE 2 * (n - rn) + 1 END
    END AS BIGINT)"""
"""Closed-form Siegel-Tukey outside-in rank from a 1-based total-order
position rn of n: alternately 1 from the low end, 2,3 from the high
end, 4,5 from the low end, ... (f(d)=2d+1 for even distance-from-front
d else 2d+2; b(d)=2d+2 for even distance-from-back else 2d+1; the
middle element of an odd n — where the two alternating walks collide
— takes rank n, the always-valid leftover, keeping the ranks a
permutation of 1..n). One string, used verbatim by both engines."""


@query(
    "agg_siegel_tukey_dispersion",
    oracle=f"""
    WITH base AS (
      SELECT o_orderstatus AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    ranked AS (
      SELECT g,
             row_number() OVER (ORDER BY cents, o_orderkey) AS rn,
             count(*) OVER () AS n
      FROM base
    ),
    st AS (
      SELECT g, {_ST_RANK_SQL} AS st_rank FROM ranked
    )
    SELECT CAST(sum(CASE WHEN g = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(sum(CASE WHEN g = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(sum(CASE WHEN g = 'F' THEN st_rank ELSE 0 END) AS BIGINT) AS w_f,
           CAST(sum(CASE WHEN g = 'O' THEN st_rank ELSE 0 END) AS BIGINT) AS w_o
    FROM st
    """,
)
def agg_siegel_tukey_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel-Tukey test — nonparametric DISPERSION comparison, the
    member of the rank family Mann-Whitney can't substitute for: do
    finished ('F') and open ('O') orders differ in price SPREAD rather
    than location? Values rank from the OUTSIDE IN (extremes get small
    ranks), so a low rank sum flags the wider-spread group; then the
    machinery is Mann-Whitney on those ranks. The outside-in rank has
    a closed form in the total-order position (shared _ST_RANK_SQL
    string, used verbatim by both engines); the position comes from
    operators/ranking.global_row_number — one range exchange, no
    global WindowExec on Spark (the oracle's window is DuckDB-side).
    Ties in cents break by order key (the deterministic tie-broken ST
    variant — classic midrank-ST averages across the alternation,
    which is not order-free; documented, identical both sides). The
    rank-sum identity w_f + w_o = n(n+1)/2 pins cross-engine
    agreement structurally."""
    from postrack_spark.operators.ranking import global_row_number

    base = (
        load_tables(spark, sf_dir)["orders"]
        .filter(F.col("o_orderstatus").isin("F", "O"))
        .select(
            F.col("o_orderstatus").alias("g"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            "o_orderkey",
        )
    )
    ranked = global_row_number(base, [F.asc("cents"), F.asc("o_orderkey")], "rn")
    n_frame = ranked.agg(F.count("*").cast("long").alias("n"))
    st = ranked.crossJoin(F.broadcast(n_frame)).select(
        "g", F.expr(_ST_RANK_SQL.replace("\n", " ")).alias("st_rank")
    )
    return st.agg(
        F.sum(F.when(F.col("g") == "F", 1).otherwise(0)).cast("long").alias("n_f"),
        F.sum(F.when(F.col("g") == "O", 1).otherwise(0)).cast("long").alias("n_o"),
        F.sum(F.when(F.col("g") == "F", F.col("st_rank")).otherwise(0))
        .cast("long")
        .alias("w_f"),
        F.sum(F.when(F.col("g") == "O", F.col("st_rank")).otherwise(0))
        .cast("long")
        .alias("w_o"),
    )


@query(
    "agg_mood_median_test",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS p,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey
      FROM orders
    ),
    ranked AS (
      SELECT cents, row_number() OVER (ORDER BY cents, o_orderkey) AS rn
      FROM base
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
    med AS (
      SELECT r.cents AS med FROM ranked r CROSS JOIN tot
      WHERE r.rn = (tot.n + 1) // 2
    ),
    cells AS (
      SELECT p,
             CAST(sum(CASE WHEN cents > med THEN 1 ELSE 0 END) AS BIGINT)
               AS n_above,
             CAST(sum(CASE WHEN cents > med THEN 0 ELSE 1 END) AS BIGINT)
               AS n_not_above
      FROM base CROSS JOIN med GROUP BY p
    ),
    r AS (
      SELECT CAST(sum(n_above) AS BIGINT) AS r_above,
             CAST(sum(n_not_above) AS BIGINT) AS r_not,
             CAST(sum(n_above + n_not_above) AS BIGINT) AS n
      FROM cells
    )
    SELECT p, n_above, n_not_above,
           CASE WHEN r_above = 0 THEN NULL ELSE
             CAST(floor(1000000.0
               * (CAST(n_above AS DOUBLE)
                  - CAST((n_above + n_not_above) * r_above AS DOUBLE)
                    / CAST(n AS DOUBLE))
               * (CAST(n_above AS DOUBLE)
                  - CAST((n_above + n_not_above) * r_above AS DOUBLE)
                    / CAST(n AS DOUBLE))
               / (CAST((n_above + n_not_above) * r_above AS DOUBLE)
                  / CAST(n AS DOUBLE))) AS BIGINT) END AS above_term_ppm,
           CASE WHEN r_not = 0 THEN NULL ELSE
             CAST(floor(1000000.0
               * (CAST(n_not_above AS DOUBLE)
                  - CAST((n_above + n_not_above) * r_not AS DOUBLE)
                    / CAST(n AS DOUBLE))
               * (CAST(n_not_above AS DOUBLE)
                  - CAST((n_above + n_not_above) * r_not AS DOUBLE)
                    / CAST(n AS DOUBLE))
               / (CAST((n_above + n_not_above) * r_not AS DOUBLE)
                  / CAST(n AS DOUBLE))) AS BIGINT) END AS not_above_term_ppm
    FROM cells CROSS JOIN r
    ORDER BY p
    """,
)
def agg_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test — the k-sample location test that, unlike
    Kruskal-Wallis (agg_kruskal_wallis, full midranks), needs only ONE
    order statistic: does each order-priority group put more mass
    above the GRAND median price than chance? The grand (lower)
    median is selected by rank — operators/ranking.global_row_number
    + a broadcast total, rn == (n+1) DIV 2, zero WindowExec — then a
    single broadcast of the 1-row median classifies every order
    map-side into the 2xk contingency table. Per-cell chi-square
    contributions (O-E)^2/E assemble from pure int64 counts in one
    identically-shaped IEEE expression ppm-floored per cell (the CMH
    discipline), with empty-margin cells degenerating to NULL. Scale:
    one range exchange for the rank, one hash agg for the cells; the
    medians/margins travel as 1-row broadcasts."""
    from postrack_spark.operators.ranking import global_row_number

    base = load_tables(spark, sf_dir)["orders"].select(
        F.col("o_orderpriority").alias("p"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    ranked = global_row_number(base, [F.asc("cents"), F.asc("o_orderkey")], "rn")
    # ranked is materialized by the ranking operator's determinism pin
    # and carries every base column, so the count (n = max rn, exact by
    # construction of row_number over a total order) and the
    # classification pass both read it instead of re-running the orders
    # scan (4 scans before, 1 after).
    tot = ranked.agg(F.max("rn").cast("long").alias("n"))
    med = (
        ranked.crossJoin(F.broadcast(tot))
        .filter(F.expr("rn = (n + 1) DIV 2"))
        .select(F.col("cents").alias("med"))
    )
    cells = (
        ranked.crossJoin(F.broadcast(med))
        .groupBy("p")
        .agg(
            F.sum(F.when(F.col("cents") > F.col("med"), 1).otherwise(0))
            .cast("long")
            .alias("n_above"),
            F.sum(F.when(F.col("cents") > F.col("med"), 0).otherwise(1))
            .cast("long")
            .alias("n_not_above"),
        )
    )
    margins = cells.agg(
        F.sum("n_above").cast("long").alias("r_above"),
        F.sum("n_not_above").cast("long").alias("r_not"),
        F.sum(F.col("n_above") + F.col("n_not_above")).cast("long").alias("n"),
    )

    def term(o: str, r: str) -> str:
        e = f"CAST((n_above + n_not_above) * {r} AS DOUBLE) / CAST(n AS DOUBLE)"
        return (
            f"CASE WHEN {r} = 0 THEN NULL ELSE "
            f"CAST(floor(1000000.0 * (CAST({o} AS DOUBLE) - {e})"
            f" * (CAST({o} AS DOUBLE) - {e}) / ({e})) AS BIGINT) END"
        )

    return (
        cells.crossJoin(F.broadcast(margins))
        .select(
            "p",
            "n_above",
            "n_not_above",
            F.expr(term("n_above", "r_above")).alias("above_term_ppm"),
            F.expr(term("n_not_above", "r_not")).alias("not_above_term_ppm"),
        )
        .orderBy("p")
    )


@query(
    "agg_durbin_watson",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s
      FROM daily GROUP BY 1
    ),
    num AS (
      SELECT a.event_type,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum((b.c - a.c) * (b.c - a.c)) AS BIGINT) AS dw_num
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.d = a.d + 1
      GROUP BY a.event_type
    ),
    den AS (
      SELECT daily.event_type, CAST(max(m.n) AS BIGINT) AS n_days,
             CAST(sum(CAST(floor(
               (CAST(m.n * daily.c - m.s AS DOUBLE) / CAST(m.n AS DOUBLE))
               * (CAST(m.n * daily.c - m.s AS DOUBLE) / CAST(m.n AS DOUBLE)))
               AS BIGINT)) AS BIGINT) AS dw_den
      FROM daily JOIN m ON m.event_type = daily.event_type
      GROUP BY daily.event_type
    )
    SELECT den.event_type, n_days, n_pairs, dw_num, dw_den,
           CASE WHEN dw_den = 0 THEN NULL ELSE
             CAST(floor(1000000.0 * CAST(dw_num AS DOUBLE)
                        / CAST(dw_den AS DOUBLE)) AS BIGINT) END AS dw_ppm
    FROM den JOIN num ON num.event_type = den.event_type
    ORDER BY den.event_type
    """,
)
def agg_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson serial-correlation statistic of each event type's
    daily-count series — the residual-autocorrelation diagnostic next
    to events_acf_lags (DW ~ 2(1-rho1); <2 flags positive, >2 negative
    serial correlation). The numerator is MEAN-FREE — consecutive-day
    differences (c_t - c_{t-1})^2 cancel the mean exactly — so it sums
    as pure int64 over a lag-1 self-join of the tiny daily aggregate
    (the ACF shape: consecutive OBSERVED days pair; calendar gaps
    contribute no pair). The denominator's centered squares use the
    floored-contribution rule from agg_skew_kurtosis_exact: each day's
    deviation (n*c - s)/n is an exact-integer ratio evaluated in
    double, squared and FLOORED per day before the integer sum. One
    ppm-floored IEEE division assembles DW; an all-constant series
    (den 0) degenerates to NULL. Scale: the raw scan folds map-side to
    O(types x days); everything after runs on that tiny frame."""
    daily = (
        load_tables(spark, sf_dir)["events"]
        .select("event_type", F.expr("unix_micros(ts) div 86400000000").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count("*").cast("long").alias("c"))
    )
    from postrack_spark.session import pin_small

    # O(types x days) frame with four consumers (moments, both lag-join
    # sides, the denominator) — pinned: one events scan, not 4.
    daily = pin_small("dw_daily", daily)
    m = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"), F.sum("c").cast("long").alias("s")
    )
    a = daily.select(
        F.col("event_type").alias("et"), F.col("d").alias("da"), F.col("c").alias("ca")
    )
    b = daily.select(
        F.col("event_type").alias("et2"), F.col("d").alias("db"),
        F.col("c").alias("cb"),
    )
    num = (
        a.join(b, (F.col("et2") == F.col("et")) & (F.col("db") == F.col("da") + 1))
        .groupBy(F.col("et").alias("event_type"))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum((F.col("cb") - F.col("ca")) * (F.col("cb") - F.col("ca")))
            .cast("long")
            .alias("dw_num"),
        )
    )
    dev = F.expr("CAST(n * c - s AS DOUBLE) / CAST(n AS DOUBLE)")
    den = (
        daily.join(F.broadcast(m), "event_type")
        .select("event_type", "n", F.floor(dev * dev).cast("long").alias("t2"))
        .groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_days"),
            F.sum("t2").cast("long").alias("dw_den"),
        )
    )
    return (
        den.join(num, "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            "dw_num",
            "dw_den",
            F.when(F.col("dw_den") == 0, F.lit(None).cast("long"))
            .otherwise(
                F.floor(
                    F.lit(1000000.0)
                    * F.col("dw_num").cast("double")
                    / F.col("dw_den").cast("double")
                ).cast("long")
            )
            .alias("dw_ppm"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_brown_forsythe",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey
      FROM orders
    ),
    ranked AS (
      SELECT g, cents,
             row_number() OVER (PARTITION BY g ORDER BY cents, o_orderkey)
               AS rn,
             count(*) OVER (PARTITION BY g) AS n
      FROM base
    ),
    med AS (
      SELECT g, cents AS m FROM ranked WHERE rn = (n + 1) // 2
    ),
    dev AS (
      SELECT base.g, abs(base.cents - med.m) // 100 AS z
      FROM base JOIN med ON med.g = base.g
    ),
    grp AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(sum(z) AS BIGINT) AS s,
             CAST(sum(z * z) AS BIGINT) AS ss
      FROM dev GROUP BY g
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nn, CAST(sum(s) AS BIGINT) AS st,
             CAST(sum(ss) AS BIGINT) AS sst,
             CAST(sum(CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                 / CAST(n AS DOUBLE)) AS BIGINT)) AS BIGINT)
               AS wsum_q
      FROM grp
    )
    SELECT g, n, s, ss,
           CAST(floor(1000000.0
             * ((CAST(wsum_q AS DOUBLE)
                 - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                   / CAST(nn AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
             / ((CAST(sst AS DOUBLE) - CAST(wsum_q AS DOUBLE))
                / CAST(nn - k AS DOUBLE)))
             AS BIGINT) AS f_ppm
    FROM grp CROSS JOIN tot
    ORDER BY g
    """,
)
def agg_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test (Levene with the
    MEDIAN center — robust to the heavy tails that break plain
    Levene): per order-priority group, absolute deviations from the
    GROUP median feed a one-way ANOVA; this query reports the exact
    integer sufficient statistics (n, Σz, Σz²) per group plus the FULL
    F statistic ppm-floored in one identically-shaped IEEE expression
    over those exact sums; the between-group term s²/n is FLOORED per
    group before the integer sum (the skew/kurtosis rule — a raw
    double sum over the 5-group frame would be association-ordered).
    Group medians come from
    PARTITIONED rank windows (one per group — never a global window),
    lower-median rule (n+1) DIV 2 with the orderkey tie-break. Scale:
    one partitioned rank pass + two hash aggs; deviations COARSEN to
    whole dollars before squaring — cents-unit z² sums overflowed
    int64 at sf0.1 (Σss ≈ 3.1e19; the MANDATORY sf0.1 sweep caught it,
    exactly the agg_corr_exact headroom rule), and F is unit-free so
    the statistic only shifts by sub-dollar truncation noise."""
    base = load_tables(spark, sf_dir)["orders"].select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("g").orderBy("cents", "o_orderkey")
    ranked = base.select(
        "g", "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("g")).alias("n"),
    )
    med = ranked.filter(F.expr("rn = (n + 1) DIV 2")).select(
        "g", F.col("cents").alias("m"))
    dev = base.join(F.broadcast(med), "g").select(
        "g", F.expr("abs(cents - m) DIV 100").alias("z"))
    from postrack_spark.session import pin_small

    # the 5-row per-group sufficient-statistic frame feeds the grand
    # total AND the final select — pinned so the rank+deviation chain
    # (two orders scans) runs once per action (4 scans before, 2 after).
    grp = pin_small(
        "bf_grp",
        dev.groupBy("g").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("z").cast("long").alias("s"),
            F.sum(F.col("z") * F.col("z")).cast("long").alias("ss"),
        ),
    )
    tot = grp.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("st"),
        F.sum("ss").cast("long").alias("sst"),
        F.sum(
            F.floor(
                F.col("s").cast("double") * F.col("s").cast("double")
                / F.col("n").cast("double")
            ).cast("long")
        ).cast("long").alias("wsum_q"),
    )
    f_ppm = F.floor(
        F.lit(1000000.0)
        * ((F.col("wsum_q").cast("double")
            - F.expr("CAST(st AS DOUBLE) * CAST(st AS DOUBLE)"
                     " / CAST(nn AS DOUBLE)"))
           / F.expr("CAST(k - 1 AS DOUBLE)"))
        / ((F.expr("CAST(sst AS DOUBLE)") - F.col("wsum_q").cast("double"))
           / F.expr("CAST(nn - k AS DOUBLE)"))
    ).cast("long")
    return (
        grp.crossJoin(F.broadcast(tot))
        .select("g", "n", "s", "ss", f_ppm.alias("f_ppm"))
        .orderBy("g")
    )


@query(
    "events_sequence_trigrams",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type, 1) OVER w AS p1,
             lag(event_type, 2) OVER w AS p2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    tri AS (
      SELECT p2 AS t1, p1 AS t2, event_type AS t3, user_id
      FROM seq WHERE p2 IS NOT NULL
    ),
    t AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_total
      FROM events
    )
    SELECT t1, t2, t3,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT user_id) * 10000 // t.n_users_total AS BIGINT)
             AS support_pp10k
    FROM tri, t
    GROUP BY t1, t2, t3, t.n_users_total
    ORDER BY n_occurrences DESC, t1, t2, t3
    LIMIT 40
    """,
)
def events_sequence_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining at depth 3 — the next PrefixSpan level
    above events_sequence_bigrams: consecutive event-type TRIPLES per
    user (two lag() offsets over the same PER-USER window — one
    shuffle, both lags share the frame), with occurrence counts and
    distinct-user support in integer pp10k; top-40 under a total
    tie-break. Depth-3 is where funnel intent (view → click →
    purchase vs view → view → bounce) separates from pair statistics.
    Scale: one per-user ordering shuffle + one aggregation over an
    O(types³)-bounded result frame."""
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy(
        F.expr("unix_micros(ts)"), F.col("event_id")
    )
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    ).filter(F.col("p2").isNotNull())
    tot = ev.agg(F.count_distinct("user_id").cast("long").alias("n_users_total"))
    return (
        seq.crossJoin(F.broadcast(tot))
        .groupBy(
            F.col("p2").alias("t1"),
            F.col("p1").alias("t2"),
            F.col("event_type").alias("t3"),
            "n_users_total",
        )
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
        .select(
            "t1", "t2", "t3", "n_occurrences", "n_users",
            F.expr("CAST(n_users * 10000 DIV n_users_total AS BIGINT)").alias(
                "support_pp10k"),
        )
        .orderBy(F.desc("n_occurrences"), "t1", "t2", "t3")
        .limit(40)
    )


@query(
    "agg_cliffs_delta",
    oracle="""
    WITH c AS (
      SELECT CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END AS g,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
      WHERE event_type IN ('click', 'purchase')
    ),
    cells AS (
      SELECT g, v, CAST(count(*) AS BIGINT) AS n_gv FROM c GROUP BY 1, 2
    ),
    vals AS (
      SELECT v, CAST(sum(n_gv) AS BIGINT) AS cnt FROM cells GROUP BY 1
    ),
    mid AS (
      SELECT v, cnt,
             2 * CAST(coalesce(sum(cnt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               + cnt + 1 AS mr2
      FROM vals
    ),
    grp AS (
      SELECT g, CAST(sum(n_gv * mr2) AS BIGINT) AS r2,
             CAST(sum(n_gv) AS BIGINT) AS n_g
      FROM cells JOIN mid USING (v) GROUP BY 1
    )
    SELECT (SELECT min(g) FROM grp) AS grp_a,
           (SELECT max(g) FROM grp) AS grp_b,
           CAST((SELECT n_g FROM grp WHERE g = 'a') AS BIGINT) AS n_a,
           CAST((SELECT n_g FROM grp WHERE g = 'b') AS BIGINT) AS n_b,
           CAST((SELECT r2 - n_g * (n_g + 1) FROM grp WHERE g = 'b')
              - (SELECT r2 - n_g * (n_g + 1) FROM grp WHERE g = 'a')
              AS BIGINT) AS delta_num_x2,
           CAST(2 * (SELECT n_g FROM grp WHERE g = 'a')
                  * (SELECT n_g FROM grp WHERE g = 'b')
              AS BIGINT) AS denom_x2
    """,
)
def agg_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta ordinal EFFECT SIZE — the companion every
    Mann-Whitney p-value needs (significance without magnitude is
    pipeline noise at 100k events): are purchase amounts
    stochastically larger than click amounts, and by how much on the
    [-1, 1] dominance scale? Reported as the exact doubled integer
    ratio delta_num_x2/denom_x2 (Vargha-Delaney A = (delta+1)/2 reads
    off the same row). The rank-sum shortcut delta_num_x2 =
    u_b_x2 - u_a_x2 is pinned to literal O(n^2) pair counting by the
    hypothesis model test (which caught a sign inversion in the first
    draft — rank-sum U counts pairs where the group EXCEEDS, not
    trails). Distributed shape inherits mann_whitney_u's: one
    distinct-value prefix sum, no windows, no collect."""
    from postrack_spark.operators.stats import cliffs_delta

    t = load_tables(spark, sf_dir)
    obs = (
        t["events"]
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.when(F.col("event_type") == "click", "a").otherwise("b")
            .alias("g"),
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
    )
    return cliffs_delta(obs, "g", "v")


@query(
    "agg_ansari_bradley_scale",
    oracle="""
    WITH c AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b' END AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    cells AS (
      SELECT g, v, CAST(count(*) AS BIGINT) AS n_gv FROM c GROUP BY 1, 2
    ),
    vals AS (
      SELECT v, CAST(sum(n_gv) AS BIGINT) AS cnt FROM cells GROUP BY 1
    ),
    mid AS (
      SELECT v, cnt,
             2 * CAST(coalesce(sum(cnt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               + cnt + 1 AS mr2
      FROM vals
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM vals),
    scored AS (
      SELECT v, cnt, least(mr2, 2 * (n_total + 1) - mr2) AS s2
      FROM mid CROSS JOIN tot
    ),
    grp AS (
      SELECT g, CAST(sum(n_gv * s2) AS BIGINT) AS gs2,
             CAST(sum(n_gv) AS BIGINT) AS n_g
      FROM cells JOIN scored USING (v) GROUP BY 1
    )
    SELECT 'a' AS grp_a, 'b' AS grp_b,
           CAST((SELECT n_g FROM grp WHERE g = 'a') AS BIGINT) AS n_a,
           CAST((SELECT n_g FROM grp WHERE g = 'b') AS BIGINT) AS n_b,
           CAST((SELECT gs2 FROM grp WHERE g = 'a') AS BIGINT) AS ab_x2,
           CAST((SELECT sum(cnt * s2) FROM scored) AS BIGINT) AS s2_total,
           CAST((SELECT sum(cnt * s2 * s2) FROM scored) AS BIGINT) AS s4_total,
           CAST((SELECT n_total FROM tot) AS BIGINT) AS n_total
    """,
)
def agg_ansari_bradley_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley two-sample SCALE test — the dispersion sibling
    of agg_mann_whitney_u's location test on the same URGENT-vs-LOW
    price slice: scores rank inward from both ends (doubled midranks
    keep ties integral), so a group whose prices are more SPREAD OUT
    collects systematically lower scores even when the medians agree —
    exactly the question a location test cannot answer. s2_total /
    s4_total carry the tie-exact null moments as integers (E[AB] and
    Var[AB] are pure rationals of them). Brute-force hypothesis model
    in tests/test_stats_models.py. Distributed shape: one
    distinct-value prefix sum (operators/ranking), partial-agg
    groupBys, 1-row broadcast combines — no windows, no collect."""
    from postrack_spark.operators.stats import ansari_bradley

    t = load_tables(spark, sf_dir)
    obs = (
        t["orders"]
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            F.when(F.col("o_orderpriority") == "1-URGENT", "a")
            .otherwise("b").alias("g"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        )
    )
    return ansari_bradley(obs, "g", "v")


@query(
    "agg_somers_d_ordinal",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS x,
             CAST(round(o_totalprice * 100) AS BIGINT) // 1000000 AS y
      FROM orders
    ),
    cells AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1, 2
    ),
    conc AS (
      SELECT CAST(coalesce(sum(a.n * b.n), 0) AS BIGINT) AS concordant
      FROM cells a JOIN cells b ON a.x < b.x AND a.y < b.y
    ),
    disc AS (
      SELECT CAST(coalesce(sum(a.n * b.n), 0) AS BIGINT) AS discordant
      FROM cells a JOIN cells b ON a.x < b.x AND a.y > b.y
    ),
    m AS (SELECT x, CAST(sum(n) AS BIGINT) AS nx FROM cells GROUP BY 1),
    den AS (
      SELECT CAST(CAST(sum(nx) AS BIGINT) * CAST(sum(nx) AS BIGINT)
                  - CAST(sum(nx * nx) AS BIGINT) AS BIGINT) AS d_den_x2,
             CAST(sum(nx) AS BIGINT) AS n_total
      FROM m
    )
    SELECT concordant, discordant,
           CAST(concordant - discordant AS BIGINT) AS d_num,
           d_den_x2, n_total
    FROM conc, disc, den
    """,
)
def agg_somers_d_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Somers' D_yx — asymmetric ordinal association: does order
    priority (a genuinely ORDERED factor, '1-URGENT' < ... < '5-LOW'
    lexicographically by design) predict the price tier ($10k buckets
    via integer floor division — positive operands, so Spark DIV and
    DuckDB // agree)? Concordance is counted on the k*m CONTINGENCY
    TABLE, never row pairs: one groupBy shrinks 150k orders to ~dozens
    of cells, then a broadcast self-join does the strictly-ordered
    pair sums — the O(cells^2) vs O(n^2) distinction that makes
    ordinal association computable at 100 TB. Literal O(n^2)
    hypothesis model in tests/test_stats_models.py; gamma =
    (C-D)/(C+D) reads off the same row."""
    from postrack_spark.operators.stats import somers_d

    t = load_tables(spark, sf_dir)
    obs = t["orders"].select(
        F.col("o_orderpriority").alias("x"),
        F.expr(
            "CAST(CAST(round(o_totalprice * 100) AS BIGINT) DIV 1000000"
            " AS BIGINT)").alias("y"),
    )
    return somers_d(obs, "x", "y")


@query(
    "agg_cochran_armitage_trend",
    oracle="""
    WITH g AS (
      SELECT l_linenumber AS d, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM lineitem GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_total,
             CAST(sum(r) AS BIGINT) AS r_total,
             CAST(sum(d * n) AS BIGINT) AS s1,
             CAST(sum(d * d * n) AS BIGINT) AS s2,
             CAST(sum(d * r) AS BIGINT) AS wr
      FROM g
    )
    SELECT CAST(n_total * wr - r_total * s1 AS BIGINT) AS t_num,
           r_total, n_total, s1, s2
    FROM tot
    """,
)
def agg_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test — does the probability that a line
    item is RETURNED trend with its position in the order
    (l_linenumber 1..7, a genuinely ordered integer dose)? The 2 x k
    chi-square would only say 'differs somewhere'; CA asks the sharper
    monotone question with one degree of freedom. All five statistic
    pieces are exact integers (operators/stats.cochran_armitage, dose
    value as score; brute-force hypothesis model in
    tests/test_stats_models.py); the normal deviate Z^2 =
    (N-1)*t_num^2 / (R*(N-R)*(N*s2 - s1^2)) is a pure rational of the
    output. One partial-agg groupBy over 600k rows at sf0.1, then a
    1-row combine — no windows, no collect."""
    from postrack_spark.operators.stats import cochran_armitage

    t = load_tables(spark, sf_dir)
    obs = t["lineitem"].select(
        F.col("l_linenumber").alias("d"),
        (F.col("l_returnflag") == "R").alias("s"),
    )
    return cochran_armitage(obs, "d", "s")


@query(
    "agg_ks_kuiper_two_sample",
    oracle="""
    WITH c AS (
      SELECT l_returnflag AS g,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS v
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
    ),
    cells AS (
      SELECT v,
             CAST(count(*) FILTER (g = 'A') AS BIGINT) AS na_v,
             CAST(count(*) FILTER (g = 'R') AS BIGINT) AS nb_v
      FROM c GROUP BY 1
    ),
    cum AS (
      SELECT v,
             CAST(sum(na_v) OVER (ORDER BY v) AS BIGINT) AS cum_a,
             CAST(sum(nb_v) OVER (ORDER BY v) AS BIGINT) AS cum_b
      FROM cells
    ),
    tot AS (
      SELECT CAST(sum(na_v) AS BIGINT) AS n_a,
             CAST(sum(nb_v) AS BIGINT) AS n_b
      FROM cells
    ),
    sups AS (
      SELECT CAST(max(cum_a * n_b - cum_b * n_a) AS BIGINT) AS d_plus_num,
             CAST(max(cum_b * n_a - cum_a * n_b) AS BIGINT) AS d_minus_num
      FROM cum CROSS JOIN tot
    )
    SELECT 'A' AS grp_a, 'R' AS grp_b, n_a, n_b, d_plus_num, d_minus_num,
           CAST(greatest(d_plus_num, d_minus_num) AS BIGINT) AS d_num,
           CAST(d_plus_num + d_minus_num AS BIGINT) AS v_num,
           CAST(greatest(d_plus_num, d_minus_num) * 1000000
                // (n_a * n_b) AS BIGINT) AS ks_d_ppm,
           CAST((d_plus_num + d_minus_num) * 1000000
                // (n_a * n_b) AS BIGINT) AS kuiper_v_ppm
    FROM sups CROSS JOIN tot
    """,
)
def agg_ks_kuiper_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov D and Kuiper V: do returned
    line items ('A') price-distribute differently from return-refused
    ones ('R')? The sup-of-ECDF-gap statistics come out as pure integer
    numerators over the common denominator n_a*n_b
    (operators/stats.ks_two_sample — hypothesis brute-force model in
    tests/test_stats_models.py), emitted alongside truncated-ppm
    renderings (positive quotients, so Spark DIV == DuckDB //). Unlike
    quality_distribution_drift's 10-bucket L1 profile, this is the
    EXACT sup over the full distinct-value ladder. Distributed shape:
    both cumulative lanes ride ONE range shuffle of the distinct-value
    frame (prefix_sums_by_key, the two-sample-CDF pattern), then 1-row
    broadcast combines — no windows, no collect, KS at any scale is
    one shuffle of the distinct grid."""
    from postrack_spark.operators.stats import ks_two_sample

    t = load_tables(spark, sf_dir)
    obs = (
        t["lineitem"]
        .filter(F.col("l_returnflag").isin("A", "R"))
        .select(
            F.col("l_returnflag").alias("g"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
        )
    )
    r = ks_two_sample(obs, "g", "v")
    return r.select(
        "grp_a",
        "grp_b",
        "n_a",
        "n_b",
        "d_plus_num",
        "d_minus_num",
        "d_num",
        "v_num",
        F.expr("CAST(d_num * 1000000 DIV (n_a * n_b) AS BIGINT)").alias("ks_d_ppm"),
        F.expr("CAST(v_num * 1000000 DIV (n_a * n_b) AS BIGINT)").alias(
            "kuiper_v_ppm"
        ),
    )


@query(
    "events_daily_type_drift_tv",
    oracle="""
    WITH ev AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d, event_type FROM events
    ),
    counts AS (
      SELECT d, event_type, CAST(count(*) AS BIGINT) AS n
      FROM ev GROUP BY 1, 2
    ),
    days AS (SELECT d, CAST(sum(n) AS BIGINT) AS dt FROM counts GROUP BY 1),
    types AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS gcnt FROM ev GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(gcnt) AS BIGINT) AS gt FROM types),
    terms AS (
      SELECT g.d, g.dt,
             abs(coalesce(c.n, 0) * t.gt - g.gcnt * g.dt) AS term
      FROM (SELECT d, dt, event_type, gcnt FROM days CROSS JOIN types) g
      CROSS JOIN tot t
      LEFT JOIN counts c ON c.d = g.d AND c.event_type = g.event_type
    )
    SELECT d AS day, CAST(dt AS BIGINT) AS n_day,
           CAST(sum(term) AS BIGINT) AS tv_num,
           CAST(sum(term) * 1000000
                // (2 * dt * (SELECT gt FROM tot)) AS BIGINT) AS tv_ppm
    FROM terms GROUP BY d, dt ORDER BY day
    """,
)
def events_daily_type_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day total-variation distance between each day's event-type
    mix and the global mix — the exact-rational drift monitor for a
    categorical stream (which days saw an anomalous type blend?).
    TV = (1/2)*sum_type |p_day - p_global| cross-multiplies to
    sum|n*gt - gcnt*dt| over 2*dt*gt — pure int64 (types ~5, counts
    bounded by row totals), so no logarithm, no float, and the gate
    hash-matches. The day x type grid is 0-FILLED (a type absent on a
    day still contributes its global mass) by crossJoining the
    broadcast type frame — same grid discipline as the blocked-rank
    ladder. Plan: two partial-agg groupBys over one scan, a broadcast
    grid join, one per-day combine; grid size is days*types, never
    data-sized."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select(
        F.date_format("ts", "yyyy-MM-dd").alias("d"), "event_type"
    )
    from postrack_spark.session import pin_small

    # the day x type count grid is the sufficient statistic: the day
    # totals, the global type mix (its day margin) and the term join
    # all derive from this one pinned frame — one events scan, not 4.
    counts = pin_small(
        "tv_counts",
        ev.groupBy("d", "event_type").agg(
            F.count("*").cast("long").alias("n")
        ),
    )
    days = counts.groupBy("d").agg(F.sum("n").cast("long").alias("dt"))
    types = counts.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("gcnt")
    )
    tot = types.agg(F.sum("gcnt").cast("long").alias("gt"))
    grid = days.crossJoin(F.broadcast(types))
    terms = (
        grid.crossJoin(F.broadcast(tot))
        .join(counts, ["d", "event_type"], "left")
        .select(
            "d",
            "dt",
            "gt",
            F.abs(
                F.coalesce(F.col("n"), F.lit(0)) * F.col("gt")
                - F.col("gcnt") * F.col("dt")
            ).alias("term"),
        )
    )
    return (
        terms.groupBy("d", "dt", "gt")
        .agg(F.sum("term").cast("long").alias("tv_num"))
        .select(
            F.col("d").alias("day"),
            F.col("dt").alias("n_day"),
            "tv_num",
            F.expr("CAST(tv_num * 1000000 DIV (2 * dt * gt) AS BIGINT)").alias(
                "tv_ppm"
            ),
        )
        .orderBy("day")
    )


@query(
    "agg_qq_shift_deciles",
    oracle="""
    WITH c AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b' END AS g,
             o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    b AS (
      SELECT g, v,
             ntile(10) OVER (PARTITION BY g ORDER BY v, o_orderkey) AS decile
      FROM c
    ),
    m AS (
      SELECT g, CAST(decile AS INT) AS decile, CAST(max(v) AS BIGINT) AS mx
      FROM b GROUP BY 1, 2
    )
    SELECT a.decile,
           a.mx AS a_max_cents,
           bb.mx AS b_max_cents,
           CAST(bb.mx - a.mx AS BIGINT) AS shift_cents
    FROM m a JOIN m bb ON a.decile = bb.decile
    WHERE a.g = 'a' AND bb.g = 'b'
    ORDER BY a.decile
    """,
)
def agg_qq_shift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile-resolution Q-Q shift profile — the location-scale
    companion to agg_ks_kuiper_two_sample's single sup statistic:
    WHERE in the distribution do URGENT and LOW order values diverge?
    Each cohort's decile boundaries come from operators/ranking
    .exact_ntile over a TOTAL order (cents, o_orderkey tie-break —
    the prefix_sums rule), the per-decile max is an ordinary groupBy,
    and the shift is pure integer cents. A constant shift across
    deciles reads as a location difference; a growing one as a scale
    difference — no distributional assumption anywhere. Plan: one
    range shuffle per cohort (the ntile machinery), 10-row broadcast
    join to pair deciles; nothing data-sized crosses the driver."""
    from postrack_spark.operators.ranking import exact_ntile

    t = load_tables(spark, sf_dir)
    c = (
        t["orders"]
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            F.when(F.col("o_orderpriority") == "1-URGENT", "a")
            .otherwise("b")
            .alias("g"),
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        )
    )
    parts = []
    for g in ("a", "b"):
        cohort = c.filter(F.col("g") == g)
        with_bucket = exact_ntile(cohort, 10, ["v", "o_orderkey"], "decile")
        parts.append(
            with_bucket.groupBy("decile").agg(
                F.max("v").cast("long").alias(f"{g}_max_cents")
            )
        )
    return (
        parts[0]
        .join(F.broadcast(parts[1]), "decile")
        .select(
            F.col("decile").cast("int").alias("decile"),
            "a_max_cents",
            "b_max_cents",
            (F.col("b_max_cents") - F.col("a_max_cents"))
            .cast("long")
            .alias("shift_cents"),
        )
        .orderBy("decile")
    )


@query(
    "events_daily_type_simpson",
    oracle="""
    WITH counts AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d, event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    per_day AS (
      SELECT d,
             CAST(sum(n) AS BIGINT) AS n_day,
             CAST(sum(n * (n - 1)) AS BIGINT) AS pair_num
      FROM counts GROUP BY 1
    )
    SELECT d AS day, n_day,
           CAST(CASE WHEN n_day < 2 THEN NULL
                     ELSE pair_num * 1000000 // (n_day * (n_day - 1))
                END AS BIGINT) AS simpson_ppm
    FROM per_day ORDER BY day
    """,
)
def events_daily_type_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Simpson concentration index of the event-type mix —
    the probability two events drawn from the same day (without
    replacement) share a type: sum n_i(n_i-1) / (N(N-1)), an exact
    integer rational (1 - Simpson is the Gini-Simpson DIVERSITY; high
    ppm days are type-monocultures worth alerting on, the categorical
    twin of events_daily_type_drift_tv's distance-to-global monitor).
    Degenerate days (N < 2) answer NULL, the three-sided rule. Plan:
    one partial-agg groupBy per (day, type), one per-day combine —
    two map-side-combined shuffles over one scan, nothing else."""
    t = load_tables(spark, sf_dir)
    counts = (
        t["events"]
        .select(F.date_format("ts", "yyyy-MM-dd").alias("d"), "event_type")
        .groupBy("d", "event_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    per_day = counts.groupBy("d").agg(
        F.sum("n").cast("long").alias("n_day"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast("long").alias("pair_num"),
    )
    return per_day.select(
        F.col("d").alias("day"),
        "n_day",
        F.when(
            F.col("n_day") >= 2,
            F.expr(
                "CAST(pair_num * 1000000 DIV (n_day * (n_day - 1)) AS BIGINT)"
            ),
        )
        .cast("long")
        .alias("simpson_ppm"),
    ).orderBy("day")


@query(
    "events_capture_recapture_users",
    oracle="""
    WITH bounds AS (
      SELECT (CAST(min(epoch_us(ts)) AS BIGINT) // 1000000
              + CAST(max(epoch_us(ts)) AS BIGINT) // 1000000) // 2 AS mid_s
      FROM events
    ),
    marked AS (
      SELECT user_id,
             max(CASE WHEN CAST(epoch_us(ts) AS BIGINT) // 1000000 <= mid_s
                      THEN 1 ELSE 0 END) AS h1,
             max(CASE WHEN CAST(epoch_us(ts) AS BIGINT) // 1000000 > mid_s
                      THEN 1 ELSE 0 END) AS h2
      FROM events CROSS JOIN bounds GROUP BY user_id
    ),
    cells AS (
      SELECT CAST(sum(h1) AS BIGINT) AS n1,
             CAST(sum(h2) AS BIGINT) AS n2,
             CAST(sum(h1 * h2) AS BIGINT) AS m,
             CAST(count(*) AS BIGINT) AS observed
      FROM marked
    )
    SELECT n1, n2, m, observed,
           CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT)
             AS chapman_estimate
    FROM cells
    """,
)
def events_capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln-Petersen capture-recapture with the Chapman correction
    — how many users exist in TOTAL, including the ones we never saw?
    The first half of the observation window "marks" users, the second
    "recaptures": estimate = (n1+1)(n2+1)/(m+1) - 1, a pure integer
    rational (the +1s also kill the m=0 degeneracy — no three-sided
    answer needed). The classic ecology estimator, here sizing a
    user population from two sampling occasions; compare observed to
    the estimate for coverage. Timestamp seconds go through
    epoch_us // 1e6 on both engines (the cast-rounding trap). Plan:
    one per-user groupBy then a 1-row combine — two map-side-combined
    shuffles over one scan."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(1000000)).cast("long").alias("s"),
    )
    bounds = ev.agg(((F.min("s") + F.max("s")) / 2).cast("long").alias("mid_s"))
    marked = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("s") <= F.col("mid_s"), 1).otherwise(0))
            .alias("h1"),
            F.max(F.when(F.col("s") > F.col("mid_s"), 1).otherwise(0))
            .alias("h2"),
        )
    )
    cells = marked.agg(
        F.sum("h1").cast("long").alias("n1"),
        F.sum("h2").cast("long").alias("n2"),
        F.sum(F.col("h1") * F.col("h2")).cast("long").alias("m"),
        F.count("*").cast("long").alias("observed"),
    )
    return cells.select(
        "n1",
        "n2",
        "m",
        "observed",
        F.expr(
            "CAST((n1 + 1) * (n2 + 1) DIV (m + 1) - 1 AS BIGINT)"
        ).alias("chapman_estimate"),
    )


@query(
    "events_chao1_user_richness",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ),
    fof AS (
      SELECT CAST(count(*) AS BIGINT) AS s_obs,
             CAST(count(*) FILTER (n = 1) AS BIGINT) AS f1,
             CAST(count(*) FILTER (n = 2) AS BIGINT) AS f2
      FROM per_user
    )
    SELECT s_obs, f1, f2,
           CAST((s_obs * 2 * (f2 + 1) + f1 * (f1 - 1)) * 1000
                // (2 * (f2 + 1)) AS BIGINT) AS chao1_milli
    FROM fof
    """,
)
def events_chao1_user_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 species-richness estimate (bias-corrected form) over the
    user population: S_chao1 = S_obs + f1(f1-1) / (2(f2+1)), where f1
    and f2 are the singleton and doubleton counts of the per-user
    event frequency distribution — the unseen-species estimator
    behind "how many users have we NOT seen yet", the abundance twin
    of the two-occasion capture-recapture query. The corrected form's
    (f2+1) kills the f2=0 degeneracy, and everything cross-multiplies
    to exact int64 (emitted in thousandths). Plan: per-user count,
    frequency-of-frequencies combine — two tiny shuffles, no windows."""
    t = load_tables(spark, sf_dir)
    per_user = t["events"].groupBy("user_id").agg(
        F.count("*").cast("long").alias("n")
    )
    fof = per_user.agg(
        F.count("*").cast("long").alias("s_obs"),
        F.count_if(F.col("n") == 1).cast("long").alias("f1"),
        F.count_if(F.col("n") == 2).cast("long").alias("f2"),
    )
    return fof.select(
        "s_obs",
        "f1",
        "f2",
        F.expr(
            "CAST((s_obs * 2 * (f2 + 1) + f1 * (f1 - 1)) * 1000"
            " DIV (2 * (f2 + 1)) AS BIGINT)"
        ).alias("chao1_milli"),
    )


@query(
    "events_mad_robust_zscores",
    oracle="""
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    p AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    r1 AS (
      SELECT c, row_number() OVER (ORDER BY c, d) AS r FROM daily
    ),
    med AS (
      SELECT CAST(sum(c * CASE WHEN (n + 1) // 2 = (n + 2) // 2
                               THEN 2 ELSE 1 END) AS BIGINT) AS med_x2
      FROM r1, p WHERE r IN ((n + 1) // 2, (n + 2) // 2)
    ),
    dev AS (
      SELECT d, c, abs(2 * c - med_x2) AS dv FROM daily, med
    ),
    r2 AS (
      SELECT dv, row_number() OVER (ORDER BY dv, d) AS r FROM dev
    ),
    mad AS (
      SELECT CAST(sum(dv * CASE WHEN (n + 1) // 2 = (n + 2) // 2
                                THEN 2 ELSE 1 END) AS BIGINT) AS mad_x4
      FROM r2, p WHERE r IN ((n + 1) // 2, (n + 2) // 2)
    )
    SELECT d AS day, c AS n_events,
           CAST(dv AS BIGINT) AS dev_x2,
           CAST(CASE WHEN mad_x4 = 0 THEN NULL
                     ELSE dv * 200 // mad_x4 END AS BIGINT)
             AS robust_z_pp100,
           (mad_x4 > 0 AND dv * 2 > 3 * mad_x4) AS is_anomaly
    FROM dev, mad ORDER BY day
    """,
)
def events_mad_robust_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-day anomaly scores: each day's event count scored by
    its deviation from the MEDIAN of daily counts in units of the MAD
    — the outlier detector that, unlike mean/stddev z-scores, is not
    itself corrupted by the outliers it hunts. Exact end to end: the
    median and MAD come from the agg_exact_mad double-rank-selection
    pattern (2x and 4x integer carriers), the score is the
    cross-multiplied pp100 quotient, and the 3-MAD flag compares
    dv*2 > 3*mad_x4 with zero floats. All days are emitted (scores,
    not just alarms — a vacuously-empty anomaly list would be a weak
    gate); a zero MAD (over half the days identical) answers NULL
    scores, the three-sided rule. Plan: daily groupBy, two distributed
    rank selections over the O(days) frame, broadcast scalar joins."""
    from postrack_spark.operators.ranking import global_row_number

    from postrack_spark.session import pin_small

    t = load_tables(spark, sf_dir)
    # days-sized frames, each with 2-3 consumers (count, rank chain,
    # deviation/final) — pinned: one events scan, not 3.
    daily = pin_small(
        "madz_daily",
        t["events"]
        .select(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("c")),
    )
    nf = daily.agg(F.count("*").cast("long").alias("n"))

    def middle_sum(df, value_col, tie_col, out_name):
        ranked = global_row_number(
            df, [F.asc(value_col), F.asc(tie_col)], rank_col="__r"
        )
        k1 = F.floor((F.col("n") + 1) / 2).cast("long")
        k2 = F.floor((F.col("n") + 2) / 2).cast("long")
        return (
            ranked.crossJoin(F.broadcast(nf))
            .filter((F.col("__r") == k1) | (F.col("__r") == k2))
            .agg(
                F.sum(F.col(value_col) * F.when(k1 == k2, 2).otherwise(1))
                .cast("long")
                .alias(out_name)
            )
        )

    med = middle_sum(daily, "c", "d", "med_x2")
    dev = pin_small(
        "madz_dev",
        daily.crossJoin(F.broadcast(med)).select(
            "d", "c", F.abs(2 * F.col("c") - F.col("med_x2")).alias("dv")
        ),
    )
    mad = middle_sum(dev, "dv", "d", "mad_x4")
    return (
        dev.crossJoin(F.broadcast(mad))
        .select(
            F.col("d").alias("day"),
            F.col("c").alias("n_events"),
            F.col("dv").cast("long").alias("dev_x2"),
            F.when(
                F.col("mad_x4") > 0,
                F.expr("CAST(dv * 200 DIV mad_x4 AS BIGINT)"),
            )
            .cast("long")
            .alias("robust_z_pp100"),
            ((F.col("mad_x4") > 0) & (F.col("dv") * 2 > 3 * F.col("mad_x4")))
            .alias("is_anomaly"),
        )
        .orderBy("day")
    )


@query(
    "events_two_proportion_ztest",
    oracle="""
    WITH marked AS (
      SELECT user_id,
             CAST(('0x' || substring(md5(user_id::VARCHAR), 1, 8))::BIGINT % 2
                  AS BIGINT) AS grp,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    cells AS (
      SELECT CAST(count(*) FILTER (grp = 0) AS BIGINT) AS n1,
             CAST(sum(conv) FILTER (grp = 0) AS BIGINT) AS x1,
             CAST(count(*) FILTER (grp = 1) AS BIGINT) AS n2,
             CAST(sum(conv) FILTER (grp = 1) AS BIGINT) AS x2
      FROM marked
    )
    SELECT n1, x1, n2, x2,
           CAST(x1 * n2 - x2 * n1 AS BIGINT) AS diff,
           CAST(CASE WHEN (x1 + x2) = 0 OR (x1 + x2) = (n1 + n2)
                          OR n1 = 0 OR n2 = 0 THEN NULL
                     ELSE floor(1000000.0
                          * CAST(x1 * n2 - x2 * n1 AS DOUBLE)
                          * CAST(x1 * n2 - x2 * n1 AS DOUBLE)
                          * CAST(n1 + n2 AS DOUBLE)
                          / (CAST(x1 + x2 AS DOUBLE)
                             * CAST(n1 + n2 - x1 - x2 AS DOUBLE)
                             * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
                END AS BIGINT) AS z2_ppm
    FROM cells
    """,
)
def events_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on per-user conversion (did the user ever
    purchase?) between a deterministic md5 half-split of users — the
    A/B primitive under every experimentation platform. The pooled
    statistic z² = (p1-p2)² / (p̂(1-p̂)(1/n1+1/n2)) cross-multiplies
    to the PURE INTEGER rational (x1·n2 - x2·n1)²(n1+n2) /
    ((x1+x2)(N-x1-x2)·n1·n2) — the signed diff carrier stays int64
    (|diff| <= n1*n2) and the ppm statistic assembles in ONE
    identically-shaped IEEE double expression floored (the Welch
    rule — the all-integer form overflows past ~1e5 users); degenerate margins (all-convert / none-convert /
    empty arm) answer NULL, the three-sided rule. Engine-portable
    hashing is md5 (never murmur3). One per-user groupBy, one 1-row
    combine."""
    t = load_tables(spark, sf_dir)
    marked = (
        t["events"]
        .select(
            "user_id",
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                    16, 10,
                ).cast("long") % 2
            ).alias("grp"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            .alias("p"),
        )
        .groupBy("user_id", "grp")
        .agg(F.max("p").alias("conv"))
    )
    cells = marked.agg(
        F.count_if(F.col("grp") == 0).cast("long").alias("n1"),
        F.sum(F.when(F.col("grp") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("x1"),
        F.count_if(F.col("grp") == 1).cast("long").alias("n2"),
        F.sum(F.when(F.col("grp") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("x2"),
    )
    return cells.select(
        "n1",
        "x1",
        "n2",
        "x2",
        F.expr("CAST(x1 * n2 - x2 * n1 AS BIGINT)").alias("diff"),
        F.when(
            (F.col("x1") + F.col("x2") > 0)
            & (F.col("x1") + F.col("x2") < F.col("n1") + F.col("n2"))
            & (F.col("n1") > 0)
            & (F.col("n2") > 0),
            # ONE identically-shaped IEEE double expression floored —
            # the events_ab_welch_ttest rule; the all-int64 form of
            # diff²*(n1+n2)*1e6 runs out of headroom past ~1e5 users
            F.expr(
                "CAST(floor(1000000.0"
                " * CAST(x1 * n2 - x2 * n1 AS DOUBLE)"
                " * CAST(x1 * n2 - x2 * n1 AS DOUBLE)"
                " * CAST(n1 + n2 AS DOUBLE)"
                " / (CAST(x1 + x2 AS DOUBLE)"
                "    * CAST(n1 + n2 - x1 - x2 AS DOUBLE)"
                "    * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))"
                " AS BIGINT)"
            ),
        )
        .cast("long")
        .alias("z2_ppm"),
    )

"""Sessionization, funnels, cohorts, attribution, product analytics.

Moved verbatim from the single-file catalog in the round-8 package
split; see _shared for the helpers and _registry for the decorator.
"""

from noaa_ais_glue_lakehouse_spark.plans.catalog._registry import (  # noqa: F401
    get_query,
    register,
)
from noaa_ais_glue_lakehouse_spark.plans.catalog._shared import *  # noqa: F401,F403


@register(
    "q02_rows_per_day",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events GROUP BY 1
    """,
)
def q02_rows_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 corpus shape — rows per day (partition-grain count)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )



@register(
    "q03_distinct_users_per_day",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    """,
)
def q03_distinct_users_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 corpus shape — COUNT(DISTINCT entity) per day."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )



@register(
    "q04_entity_timeline",
    oracle="""
    SELECT event_id, ts, event_type, value
    FROM events WHERE user_id = 7 AND CAST(ts AS DATE) = DATE '2024-01-05'
    """,
)
def q04_entity_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 corpus shape — point timeline for one entity/day."""
    ev = load(spark, sf_dir, "events")
    return ev.filter(
        (F.col("user_id") == 7) & (F.to_date("ts") == F.lit("2024-01-05").cast("date"))
    ).select("event_id", "ts", "event_type", "value")



@register(
    "q05_type_distribution",
    oracle="""
    SELECT user_id, CAST(ts AS DATE) AS day, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2, 3
    """,
)
def q05_type_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 corpus shape — categorical distribution per entity/day."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))



@register(
    "q07_conditional_sums",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
    FROM events GROUP BY event_type
    """,
)
def q07_conditional_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7/Q8 corpus shape — CASE WHEN conditional aggregation (A5)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("value") > 50, 1).otherwise(0)).cast("long").alias("n_high"),
        (F.sum(cents(F.col("value"))).cast("double") / 100.0).alias("sum_value"),
    )



@register(
    "q08_topk_entities",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY user_id
    ORDER BY n DESC, user_id ASC LIMIT 10
    """,
)
def q08_topk_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9/O4 — top-k by count (TakeOrderedAndProject, no full sort)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("user_id").asc())
        .limit(10)
    )



@register(
    "q09_pct_active",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           ROUND(100.0 * SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 / COUNT(*), 4) AS pct_purchase
    FROM events GROUP BY 1
    """,
)
def q09_pct_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 corpus shape — ROUND + conditional agg ratio."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            / F.count(F.lit(1)),
            4,
        ).alias("pct_purchase")
    )



@register(
    "q11_sessionize",
    oracle=_SESSIONIZED_CTE
    + """
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sess GROUP BY 1, 2
    """,
)
def q11_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 — the voyage-segmentation conditional prefix sum (the reference's
    computational heart) on (user_id, ts) with a 30-minute gap rule.
    """
    ev = load(spark, sf_dir, "events")
    s = sessionize(
        ev, "user_id", "ts", SESSION_GAP_SECONDS, tiebreak_cols=["event_id"]
    )
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )



@register(
    "q12_session_rollup",
    oracle=_SESSIONIZED_CTE
    + """
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           ((epoch_us(MAX(ts)) - epoch_us(MIN(ts)) + 1800) // 3600) / 1000000.0 AS duration_hours,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value,
           ROUND(CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/COUNT(*)/100.0, 6) AS avg_value
    FROM sess GROUP BY 1, 2
    """,
)
def q12_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 — daily partials (A1) re-aggregated to per-session finals (A2) with
    derived metrics (A4): the reference's voyage_summary two-level rollup.
    The two-level decomposition must equal the single-level oracle.
    ``duration_hours`` rounds half up to 1e-6 h in exact integer math, so
    engines cannot disagree on a tie.
    """
    ev = load(spark, sf_dir, "events")
    s = sessionize(
        ev, "user_id", "ts", SESSION_GAP_SECONDS, tiebreak_cols=["event_id"]
    ).withColumn("day", F.to_date("ts"))
    partials = s.groupBy("user_id", "session_id", "day").agg(
        F.count(F.lit(1)).cast("long").alias("day_n"),
        F.sum(cents(F.col("value"))).alias("day_cents"),
        F.min("ts").alias("day_first"),
        F.max("ts").alias("day_last"),
    )
    final = partials.groupBy("user_id", "session_id").agg(
        F.sum("day_n").cast("long").alias("n_events"),
        F.sum("day_cents").alias("sum_cents"),
        F.min("day_first").alias("session_start"),
        F.max("day_last").alias("session_end"),
    )
    return final.select(
        "user_id",
        "session_id",
        "session_start",
        "session_end",
        (
            F.expr("(unix_micros(session_end) - unix_micros(session_start) + 1800) div 3600")
            / 1e6
        ).alias("duration_hours"),
        "n_events",
        (F.col("sum_cents").cast("double") / 100.0).alias("sum_value"),
        F.round(F.col("sum_cents").cast("double") / F.col("n_events") / 100.0, 6).alias(
            "avg_value"
        ),
    )



@register(
    "q13_latest_per_entity",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def q13_latest_per_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 — top-1 most-recent row per entity (the state-snapshot seed)."""
    ev = load(spark, sf_dir, "events")
    return latest_per_entity(ev, "user_id", "ts", tiebreak_cols=["event_id"]).select(
        "user_id", "event_id", "ts", "event_type", "value"
    )



@register(
    "q34_union_by_name",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal, CAST(NULL AS VARCHAR) AS c_mktsegment
    FROM customer WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name, CAST(NULL AS DOUBLE) AS c_acctbal,
           c_mktsegment
    FROM customer WHERE c_custkey % 2 = 1
    """,
)
def q34_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — unionByName with missing columns (the seeded-union idiom)."""
    cust = load(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    b = cust.filter(F.col("c_custkey") % 2 == 1).select("c_custkey", "c_mktsegment")
    return a.unionByName(b, allowMissingColumns=True)



@register(
    "q35_running_total",
    oracle="""
    SELECT user_id, event_id,
           CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE)/100.0 AS running_value
    FROM events
    """,
)
def q35_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3-general — running prefix sum per entity (exact integer cents)."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        (F.sum(cents(F.col("value"))).over(w).cast("double") / 100.0).alias(
            "running_value"
        ),
    )



@register(
    "q36_distinct_days",
    oracle="""
    SELECT DISTINCT strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
                    strftime(ts, '%d') AS day
    FROM events
    """,
)
def q36_distinct_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — distinct partition-tuple enumeration (zero-padded strings, the
    reference's partition-listing idiom)."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        F.date_format("ts", "yyyy").alias("year"),
        F.date_format("ts", "MM").alias("month"),
        F.date_format("ts", "dd").alias("day"),
    ).distinct()



@register(
    "q40_sql_rows_per_day",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
)
def q40_sql_rows_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 + Q1 corpus — the rows-per-day shape through ``spark.sql`` over
    a registered view (the Athena external-table analog)."""
    _register_views(spark, sf_dir, ["events"])
    return spark.sql(
        """
        SELECT date_format(ts, 'yyyy-MM-dd') AS day,
               CAST(COUNT(*) AS LONG) AS n
        FROM events GROUP BY 1
        """
    )



@register(
    "q41_sql_topk_users",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY user_id
    ORDER BY n DESC, user_id ASC LIMIT 10
    """,
)
def q41_sql_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 + O4/Q9 corpus — top-k via SQL text (TakeOrderedAndProject)."""
    _register_views(spark, sf_dir, ["events"])
    return spark.sql(
        """
        SELECT user_id, CAST(COUNT(*) AS LONG) AS n
        FROM events GROUP BY user_id
        ORDER BY n DESC, user_id ASC LIMIT 10
        """
    )



@register(
    "q50_day_boundary_span",
    oracle="""
    WITH bounds AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             MIN(ts) AS first_ts, MAX(ts) AS last_ts
      FROM events GROUP BY 1, 2
    ), spans AS (
      SELECT user_id, d, last_ts,
             LEAD(first_ts) OVER (PARTITION BY user_id ORDER BY d) AS next_first,
             LEAD(d) OVER (PARTITION BY user_id ORDER BY d) AS next_d
      FROM bounds
    )
    SELECT user_id, CAST(d AS VARCHAR) AS day,
           CAST((epoch_us(next_first) - epoch_us(last_ts)) // 60000000 AS BIGINT)
             AS boundary_gap_min
    FROM spans
    WHERE next_d = d + INTERVAL 1 DAY
      AND epoch_us(next_first) - epoch_us(last_ts) < CAST(7200 AS BIGINT) * 1000000
    """,
)
def q50_day_boundary_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 + Q15 corpus — day-boundary span check: entities whose last
    event of day D and first event of day D+1 are within 2h (the
    continuity QA the reference runs on voyage day boundaries,
    ``docs/09-qa-curated-data.md:703-723``)."""
    _register_views(spark, sf_dir, ["events"])
    return spark.sql(
        """
        WITH bounds AS (
          SELECT user_id, CAST(ts AS DATE) AS d,
                 MIN(ts) AS first_ts, MAX(ts) AS last_ts
          FROM events GROUP BY 1, 2
        ), spans AS (
          SELECT user_id, d, last_ts,
                 LEAD(first_ts) OVER (PARTITION BY user_id ORDER BY d) AS next_first,
                 LEAD(d) OVER (PARTITION BY user_id ORDER BY d) AS next_d
          FROM bounds
        )
        SELECT user_id, CAST(d AS STRING) AS day,
               CAST((unix_micros(next_first) - unix_micros(last_ts)) DIV 60000000 AS LONG)
                 AS boundary_gap_min
        FROM spans
        WHERE next_d = d + INTERVAL 1 DAY
          AND unix_micros(next_first) - unix_micros(last_ts) < CAST(7200 AS BIGINT) * 1000000
        """
    )



@register(
    "q51_movement_distribution",
    oracle="""
    SELECT CASE WHEN value < 250.0 THEN 'anchored' ELSE 'moving' END AS movement_state,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    """,
)
def q51_movement_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 + Q4 corpus — movement_state distribution (threshold applied to
    the synthetic value column standing in for SOG)."""
    ev = load(spark, sf_dir, "events")
    out = cleaning.add_movement_state(ev, sog_col="value", threshold=250.0)
    return out.groupBy("movement_state").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )



@register(
    "q54_seeded_sessionize",
    oracle="""
    WITH sess AS (
      SELECT user_id, event_id, ts,
             SUM(CASE WHEN gap_us IS NULL OR gap_us <= 1800000000 THEN 0 ELSE 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS sid
      FROM (
        SELECT user_id, ts, event_id,
               epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                                     ORDER BY ts, event_id)) AS gap_us
        FROM events
      )
    )
    SELECT user_id, event_id, CAST(sid AS BIGINT) AS session_id
    FROM sess WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
    """,
)
def q54_seeded_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/T1 — the reference's hardest semantic, oracle-checked: the
    incremental path (sessionize the first half-month, snapshot the last
    row per entity, run the second half seeded from the snapshot) must
    equal a full-recompute — and the oracle IS that full recompute,
    restricted to second-half rows. Day-boundary voyages keep their ids.
    """
    import datetime as dt

    from noaa_ais_glue_lakehouse_spark.operators.sessionize import (
        latest_per_entity,
    )
    from noaa_ais_glue_lakehouse_spark.operators.state import prepare_seeded_union

    split = dt.datetime(2024, 1, 16)
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    d1 = ev.filter(F.col("ts") < F.lit(split))
    d2 = ev.filter(F.col("ts") >= F.lit(split))

    s1 = sessionize(
        d1, "user_id", "ts", gap_seconds=SESSION_GAP_SECONDS,
        tiebreak_cols=["event_id"],
    )
    state = latest_per_entity(s1, "user_id", "ts", tiebreak_cols=["event_id"])

    seeded = prepare_seeded_union(
        state, d2, session_col="session_id", seed_col="seed_session_id"
    )
    out = sessionize(
        seeded, "user_id", "ts", gap_seconds=SESSION_GAP_SECONDS,
        session_col="session_id", seed_col="seed_session_id",
        tiebreak_cols=["event_id"],
    )
    return (
        out.filter(~F.col("is_seed"))
        .select("user_id", "event_id", F.col("session_id").cast("long"))
    )



@register(
    "q57_asof_join",
    oracle="""
    WITH ref AS (
      SELECT user_id, ts, MAX(value) AS ref_value
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ), probe AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type <> 'view'
    )
    SELECT p.event_id,
           CAST(ROUND(r.ref_value * 100) AS BIGINT) AS asof_value_cents
    FROM probe p ASOF LEFT JOIN ref r
      ON p.user_id = r.user_id AND p.ts >= r.ts
    """,
)
def q57_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator Spark lacks): each non-view event gets
    the latest at-or-before 'view' value for its user — one shuffle via
    the union + last-known-value window, hash-checked against DuckDB's
    native ASOF JOIN."""
    from noaa_ais_glue_lakehouse_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    ref = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("ref_value"))
    )
    probe = ev.filter(F.col("event_type") != "view").select(
        "user_id", "event_id", "ts"
    )
    out = asof_join(probe, ref, "user_id", "ts", ["ref_value"])
    return out.select(
        "event_id",
        F.round(F.col("asof_ref_value") * 100).cast("long").alias("asof_value_cents"),
    )



@register(
    "q66_stratified_sample",
    oracle="""
    SELECT event_id, event_type
    FROM events
    WHERE CAST(((event_id % 2147483648) * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0
          < CASE event_type WHEN 'view' THEN 0.1 WHEN 'click' THEN 0.5 ELSE 1.0 END
    """,
)
def q66_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-class subsampling (corpus rebalancing): keep 10%
    of views, 50% of clicks, everything else — id-hash order, not RNG, so
    the sample is reproducible across runs AND engines (the oracle runs
    the identical arithmetic). Row-local filter, no shuffle."""
    from noaa_ais_glue_lakehouse_spark.operators.training import (
        deterministic_stratified_sample,
    )

    ev = load(spark, sf_dir, "events")
    return deterministic_stratified_sample(
        ev, "event_id", "event_type", {"view": 0.1, "click": 0.5}
    ).select("event_id", "event_type")



@register(
    "q74_pivot_event_types",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error,
           CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup
    FROM events GROUP BY 1
    """,
)
def q74_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot to wide per-day type counts with an EXPLICIT value list —
    without it Spark runs a driver-side distinct scan to discover pivot
    columns (a hidden extra job at 100 TB) and the output schema becomes
    data-dependent."""
    ev = load(spark, sf_dir, "events")
    types = ["view", "click", "purchase", "error", "signup"]
    wide = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "day",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types],
    )



@register(
    "q75_exists_subquery",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    """,
)
def q75_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS through the spark.sql surface (S10): Catalyst
    decorrelates to a left-semi hash join — the rewrite the reference
    relied on Athena for. Registered views keep the query text engine-
    portable."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name
        FROM customer c
        WHERE EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
        )
        """
    )



@register(
    "q79_cube_event_counts",
    oracle="""
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(CAST(CAST(ts AS DATE) AS VARCHAR), 'ALL') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(GROUPING(event_type) * 2 + GROUPING(CAST(ts AS DATE)) AS BIGINT) AS gid
    FROM events
    GROUP BY CUBE(event_type, CAST(ts AS DATE))
    """,
)
def q79_cube_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (type, day) with `grouping_id` disambiguation — the
    all-subtotal companion of q73's ROLLUP. Spark expands the cube
    map-side (one shuffle carries all 4 grouping sets with partial
    aggregation), so the cost is ~the grouping-set count, not 4 scans."""
    ev = load(spark, sf_dir, "events")
    cubed = ev.cube("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.grouping_id().cast("long").alias("gid"),
    )
    return cubed.select(
        F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
        F.coalesce(F.col("day").cast("string"), F.lit("ALL")).alias("day"),
        "n_events",
        "gid",
    )



@register(
    "q80_unpivot_daily_counts",
    oracle="""
    WITH wide AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view,
             CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
             CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
             CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error,
             CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup
      FROM events GROUP BY 1
    )
    SELECT day, 'n_view' AS metric, n_view AS cnt FROM wide
    UNION ALL SELECT day, 'n_click', n_click FROM wide
    UNION ALL SELECT day, 'n_purchase', n_purchase FROM wide
    UNION ALL SELECT day, 'n_error', n_error FROM wide
    UNION ALL SELECT day, 'n_signup', n_signup FROM wide
    """,
)
def q80_unpivot_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long melt), the inverse of q74's pivot. Spark's
    `unpivot` compiles to a generate/expand projection — no shuffle beyond
    the one that built the wide table, and no driver-side column
    discovery."""
    ev = load(spark, sf_dir, "events")
    types = ["view", "click", "purchase", "error", "signup"]
    wide = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "day",
            *[
                F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
                for t in types
            ],
        )
    )
    return wide.unpivot(["day"], [f"n_{t}" for t in types], "metric", "cnt")



@register(
    "q84_native_session_window",
    oracle="""
    WITH d AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM d
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 1800 SECOND, '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def q84_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in `session_window` aggregation, pinned against the
    gap-break prefix-sum oracle (the same semantics q11 implements
    manually): window start = first event, end = last event + gap, a new
    session opens when the inter-event gap EXCEEDS 30 min — an event at
    exactly prev_ts+gap still merges (verified empirically in
    tests/test_timeseries.py; break condition is strictly `gap > threshold`,
    identical to our prefix-sum sessionize).
    Having both forms oracle-checked proves our sessionize and Spark's
    native operator agree — and the native form is the one Structured
    Streaming can run incrementally."""
    ev = load(spark, sf_dir, "events")
    sw = ev.groupBy("user_id", F.session_window("ts", "1800 seconds")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    return sw.select(
        "user_id",
        F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format(F.col("session_window.end"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n_events",
    )



@register(
    "q86_set_ops_users",
    oracle="""
    SELECT 'both' AS tag, user_id FROM (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
      INTERSECT
      SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
    )
    UNION ALL
    SELECT 'purchase_only' AS tag, user_id FROM (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
      EXCEPT
      SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
    )
    """,
)
def q86_set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operators (U-family completion beyond
    union): purchasers who also errored vs purchasers who never did.
    Catalyst plans both as left-semi / left-anti hash joins over the
    distinct sets — same scale shape as q16/q17."""
    ev = load(spark, sf_dir, "events")
    purchasers = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    errorers = ev.where(F.col("event_type") == "error").select("user_id").distinct()
    both = purchasers.intersect(errorers).select(
        F.lit("both").alias("tag"), "user_id"
    )
    only = purchasers.exceptAll(errorers).select(
        F.lit("purchase_only").alias("tag"), "user_id"
    )
    return both.unionByName(only)



@register(
    "q93_share_of_daily_value",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS type_cents
      FROM events GROUP BY 1, 2
    )
    SELECT day, event_type, CAST(type_cents AS BIGINT) AS type_cents,
           ROUND(CAST(type_cents AS DOUBLE)
                 / SUM(type_cents) OVER (PARTITION BY day), 6) AS share
    FROM d
    """,
)
def q93_share_of_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio_to_report): each type's share of the day's
    value. The window sum rides the same day partitioning the aggregation
    produced — agg + window is one shuffle total; integer-cents numerators
    keep the ratio exact-input deterministic."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.sum(cents(F.col("value"))).alias("type_cents")
    )
    w = Window.partitionBy("day")
    return d.select(
        "day",
        "event_type",
        "type_cents",
        F.round(
            F.col("type_cents").cast("double") / F.sum("type_cents").over(w), 6
        ).alias("share"),
    )



@register(
    "q95_asof_join_forward",
    oracle="""
    WITH ref AS (
      SELECT user_id, ts, MAX(value) AS ref_value
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ), probe AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type <> 'view'
    )
    SELECT p.event_id,
           CAST(ROUND(r.ref_value * 100) AS BIGINT) AS next_value_cents
    FROM probe p ASOF LEFT JOIN ref r
      ON p.user_id = r.user_id AND p.ts <= r.ts
    """,
)
def q95_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (q57's mirror): each non-view event gets the
    EARLIEST at-or-after 'view' value for its user — the "next reading
    after the event" lookup of alert-enrichment pipelines. Same single
    key shuffle, window order reversed; DuckDB's native ASOF with
    ``p.ts <= r.ts`` is the oracle."""
    from noaa_ais_glue_lakehouse_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    ref = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("ref_value"))
    )
    probe = ev.filter(F.col("event_type") != "view").select(
        "user_id", "event_id", "ts"
    )
    out = asof_join(probe, ref, "user_id", "ts", ["ref_value"], direction="forward")
    return out.select(
        "event_id",
        F.round(F.col("asof_ref_value") * 100).cast("long").alias("next_value_cents"),
    )



@register(
    "q97_type_transition_counts",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
)
def q97_type_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition (bigram) counts — the Markov-chain feature
    table of behavioral modeling / next-event prediction pipelines. One
    lag window on the entity shuffle, then a tiny |types|² aggregation;
    the transition matrix never materializes per-user state."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    return seq.groupBy(
        F.col("prev_type"), F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))



@register(
    "q98_signup_purchase_funnel",
    oracle="""
    WITH f AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS first_signup_us,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase_us
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           first_signup_us IS NOT NULL AND first_purchase_us IS NOT NULL
             AND first_purchase_us >= first_signup_us AS converted,
           CASE WHEN first_signup_us IS NOT NULL AND first_purchase_us >= first_signup_us
                THEN (first_purchase_us - first_signup_us) // 1000000 END
             AS latency_seconds
    FROM f WHERE first_signup_us IS NOT NULL
    """,
)
def q98_signup_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion: per signed-up user, whether (and how fast) the
    first purchase followed the first signup. Conditional-min aggregation
    collapses each user to one row in a single map-side-combinable pass —
    no self-join of the two event subsets, no window. Microsecond
    integer arithmetic end-to-end (the cross-engine time convention)."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", us)).alias("su"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("pu"),
    )
    converted = F.col("su").isNotNull() & F.col("pu").isNotNull() & (
        F.col("pu") >= F.col("su")
    )
    latency = F.when(
        F.col("su").isNotNull() & (F.col("pu") >= F.col("su")),
        F.floor((F.col("pu") - F.col("su")) / 1_000_000).cast("long"),
    )
    return f.where(F.col("su").isNotNull()).select(
        "user_id", converted.alias("converted"), latency.alias("latency_seconds")
    )



@register(
    "q100_curation_funnel",
    oracle=_cc_oracle(
        """, losers AS (
      SELECT node FROM comp WHERE component <> node
    ), q2 AS (
      SELECT doc_id, text FROM documents WHERE length(text) >= 200
    ), ex2 AS (
      SELECT MIN(doc_id) AS doc_id FROM q2 GROUP BY text
    ), surv AS (
      SELECT e.doc_id FROM ex2 e ANTI JOIN losers l ON e.doc_id = l.node
    )
    SELECT 1 AS stage_id, 'input' AS stage,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs
    UNION ALL SELECT 2, 'quality_filter', (SELECT COUNT(*) FROM q2)
    UNION ALL SELECT 3, 'exact_dedup', (SELECT COUNT(*) FROM ex2)
    UNION ALL SELECT 4, 'near_dedup', (SELECT COUNT(*) FROM surv)""",
        pairs_sql="""
      WITH q AS (
        SELECT doc_id, text FROM documents WHERE length(text) >= 200
      ), ex AS (
        SELECT MIN(doc_id) AS doc_id, text FROM q GROUP BY text
      ), grams AS (
        SELECT doc_id,
               list_transform(range(1, length(lower(text)) - 6),
                              i -> md5(substr(lower(text), i, 8))) AS hashes
        FROM ex WHERE length(text) >= 8
      ), wins AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(hashes) - 2),
                             j -> list_min(hashes[j : j + 3]))) AS fps
        FROM grams WHERE len(hashes) >= 4
      ), idx0 AS (
        SELECT doc_id, unnest(fps) AS fp FROM wins
      ), hot AS (
        SELECT fp FROM idx0 GROUP BY fp HAVING COUNT(*) > 64
      ), idx AS (
        SELECT i.doc_id, i.fp FROM idx0 i ANTI JOIN hot h ON i.fp = h.fp
      )
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 10
    """,
    ),
)
def q100_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP curation pipeline report: the end-to-end LLM-corpus prep
    chain — quality filter → exact dedup (min-id survivor) → winnowing
    near-dup survivors — reported as a funnel of per-stage document
    counts, the top-level artifact a curation run publishes. Every stage
    is the REAL operator (dedup_exact, winnow_near_duplicates,
    dedup_by_components), and the whole funnel is hash-checked against a
    recursive-CTE oracle because the winnowing family is deterministic.
    At production scale each stage's output would persist to a table and
    the counts would ride observe() metrics; here the four counts are one
    unioned plan so the driver's single action sees a consistent
    snapshot."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        dedup_by_components,
        dedup_exact,
        winnow_near_duplicates,
    )

    docs = load(spark, sf_dir, "documents")
    quality = docs.where(F.length("text") >= 200)
    # the exact-dedup survivors feed THREE references (stage-3 count,
    # the winnow graph, the component dedup) — uncached, the text-keyed
    # min_by shuffle re-ran per reference (round 11, bounded registry:
    # one dedup pass + an evictable survivor cache beats three passes)
    exact = query_scoped_cache(dedup_exact(quality, ["text"], "doc_id"))
    pairs = winnow_near_duplicates(
        exact, "doc_id", "text", 8, 4, min_shared=10, max_df=64
    )
    surv = dedup_by_components(exact, pairs.select("id_a", "id_b"), "doc_id")

    def stage(i: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(i).alias("stage_id"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )

    return (
        stage(1, "input", docs)
        .unionByName(stage(2, "quality_filter", quality))
        .unionByName(stage(3, "exact_dedup", exact))
        .unionByName(stage(4, "near_dedup", surv))
    )



@register(
    "q102_mergeable_hll_rollup",
    allow_non_equi=(
        "deliberate SINGLE-ROW broadcast cross join pairing the merged "
        "sketch-estimate scalar with the day/row-count scalar - "
        "group-cardinality, never row-level"
    ),
    oracle="""
    WITH h AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 2))
                  AS BIGINT) AS reg,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 3, 13))
                  AS BIGINT) AS v52
      FROM events
    ), daily_regs AS (
      SELECT day, reg,
             MAX(CASE WHEN v52 = 0 THEN 53
                      ELSE 53 - length(bin(v52)) END) AS m_j
      FROM h GROUP BY day, reg
    ), merged AS (
      SELECT reg, MAX(m_j) AS m_j FROM daily_regs GROUP BY reg
    ), agg AS (
      SELECT COUNT(*) AS n_present,
             SUM(9007199254740992 >> m_j) AS sum_u
      FROM merged
    ), meta AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
               AS n_days_merged
      FROM events
    )
    SELECT ROUND(
             CASE
               WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
                    * 9007199254740992.0
                    / (sum_u + (256 - n_present) * 9007199254740992.0)
                    <= 640.0
                AND n_present < 256
               THEN 256.0 * ln(256.0 / GREATEST(256 - n_present, 1))
               ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
                    * 9007199254740992.0
                    / (sum_u + (256 - n_present) * 9007199254740992.0)
             END, 2) AS est_monthly_distinct_users,
           meta.n_rows, meta.n_days_merged
    FROM agg CROSS JOIN meta
    """,
)
def q102_mergeable_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches — the incremental-rollup pattern
    q63's one-shot estimate can't express: build one register relation
    per day (the persistable sketch state the reference's
    daily-partials → monthly-rebuild chain T5 would store), then UNION
    the daily sketches into the monthly estimate by register-wise MAX —
    without ever recounting the raw rows. At 100 TB this is a daily
    O(day) sketch job + O(days × 256 registers) merge instead of a
    monthly O(month) recount.

    Since round 7 the rollup runs on the PORTABLE md5 family
    (operators/sketches.py portable_hll_registers/estimate), so the
    merged monthly estimate itself is hash-checked against the oracle —
    the register relation, the MAX-merge, and the harmonic sum (exact
    integer units of 2⁻⁵³) are engine-identical. The Spark-native
    Datasketches form (`hll_sketch_agg`/`hll_union_agg`) remains the
    fast binary-payload twin, tolerance-pinned in
    tests/test_sketches.py."""
    from noaa_ais_glue_lakehouse_spark.operators.sketches import (
        portable_hll_estimate,
        portable_hll_registers,
    )

    ev = load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily_regs = portable_hll_registers(ev, ["day"], "user_id")
    est = portable_hll_estimate(daily_regs, []).select(
        F.col("hll_estimate").alias("est_monthly_distinct_users")
    )
    meta = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("day").cast("long").alias("n_days_merged"),
    )
    return est.crossJoin(F.broadcast(meta))


# ---------------------------------------------------------------------------
# Curation surface round 3: PII scrubbing, embedding quantization, mixture
# sampling, Gopher quality rules, skew audit, SCD2, compaction planning
# ---------------------------------------------------------------------------



@register(
    "q114_grouping_sets",
    oracle="""
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(CAST(CAST(ts AS DATE) AS VARCHAR), 'ALL') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
           CAST(GROUPING(event_type) * 2 + GROUPING(CAST(ts AS DATE)) AS BIGINT)
             AS gid
    FROM events
    GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())
    """,
)
def q114_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — the explicit-subtotal form between q73's
    ROLLUP and q79's CUBE: per-type totals, per-day totals, and the grand
    total in ONE pass (Spark expands the sets map-side and aggregates
    once; three separate GROUP BYs would scan the fact three times).
    grouping_id disambiguates the NULL-vs-'ALL' encoding exactly as the
    oracle does."""
    ev = load(spark, sf_dir, "events")
    ev.select(
        "event_type", F.to_date("ts").alias("day"), cents(F.col("value")).alias("_c")
    ).createOrReplaceTempView("q114_ev")
    return spark.sql(
        """
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(CAST(day AS STRING), 'ALL') AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(_c) AS BIGINT) AS value_cents,
               CAST(GROUPING(event_type) * 2 + GROUPING(day) AS BIGINT) AS gid
        FROM q114_ev
        GROUP BY GROUPING SETS ((event_type), (day), ())
        """
    )



@register(
    "q115_nullsafe_join",
    oracle="""
    WITH a AS (
      SELECT NULLIF(user_id % 10, 7) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    b AS (
      SELECT NULLIF(user_id % 10, 7) AS bucket,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events GROUP BY 1
    )
    SELECT a.bucket, a.n_events, b.value_cents
    FROM a JOIN b ON a.bucket IS NOT DISTINCT FROM b.bucket
    """,
)
def q115_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL join keys
    match each other instead of silently dropping — the semantics data
    reconciliation needs when NULL is a real category (here a NULLIF'd
    bucket). eqNullSafe keys still hash-partition (NULLs co-locate in one
    partition), so the plan stays a hash join, never a cross product;
    both sides are pre-aggregated to |buckets| rows so the NULL bucket
    cannot hot-spot the join itself."""
    ev = load(spark, sf_dir, "events")
    bucket = F.nullif(F.col("user_id") % 10, F.lit(7))
    a = ev.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    b = ev.groupBy(bucket.alias("bucket")).agg(
        F.sum(cents(F.col("value"))).cast("long").alias("value_cents")
    )
    return (
        a.alias("a")
        .join(b.alias("b"), F.col("a.bucket").eqNullSafe(F.col("b.bucket")))
        .select("a.bucket", "a.n_events", "b.value_cents")
    )



@register(
    "q118_collated_group",
    oracle="""
    WITH mixed AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                  ELSE event_type END AS label,
             value
      FROM events
    )
    SELECT lower(label) AS label,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM mixed GROUP BY lower(label)
    """,
)
def q118_collated_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 collations): a mixed-case label
    column grouped under UTF8_LCASE collation folds 'VIEW' and 'view'
    into one group WITHOUT rewriting the data — the engine-level answer
    to case-divergent sources that the reference handled by hand-
    lowercasing every column. The output key is canonicalized with
    lower() only for cross-engine comparison; the grouping itself is
    collation-native."""
    ev = load(spark, sf_dir, "events")
    label = F.when(
        F.col("event_id") % 2 == 0, F.upper("event_type")
    ).otherwise(F.col("event_type"))
    mixed = ev.select(
        F.collate(label, "UTF8_LCASE").alias("label"),
        cents(F.col("value")).alias("_c"),
    )
    return mixed.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_c").cast("long").alias("value_cents"),
    ).select(
        # strip the collation for a plain-string schema the oracle matches
        F.lower(F.col("label").cast("string")).alias("label"),
        "n",
        "value_cents",
    )



@register(
    "q120_lateral_topk",
    oracle="""
    SELECT t.event_type, l.user_id, l.n
    FROM (SELECT DISTINCT event_type FROM events) t,
    LATERAL (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM events e WHERE e.event_type = t.event_type
      GROUP BY user_id ORDER BY n DESC, user_id LIMIT 3
    ) l
    """,
)
def q120_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-group LIMIT — top-3 users per
    event type in the SQL form analysts write. Catalyst decorrelates the
    lateral into a window/aggregate plan (no per-outer-row re-execution),
    so the declarative form costs the same as q08's hand-written
    row_number top-k; id tiebreak keeps the cut total across engines."""
    ev = load(spark, sf_dir, "events")
    ev.createOrReplaceTempView("q120_events")
    return spark.sql(
        """
        SELECT t.event_type, l.user_id, l.n
        FROM (SELECT DISTINCT event_type FROM q120_events) t,
        LATERAL (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
          FROM q120_events e WHERE e.event_type = t.event_type
          GROUP BY user_id ORDER BY n DESC, user_id LIMIT 3
        ) l
        """
    )



@register(
    "q132_cohort_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             MIN(CAST(ts AS DATE) - CAST(EXTRACT(dow FROM ts) AS INTEGER))
               AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             (CAST(ts AS DATE) - CAST(EXTRACT(dow FROM ts) AS INTEGER)
              - cohort_week) // 7 AS week_offset
      FROM events e JOIN first_seen f USING (user_id)
    ),
    sizes AS (
      SELECT cohort_week, COUNT(*) AS cohort_size
      FROM first_seen GROUP BY cohort_week
    )
    SELECT CAST(a.cohort_week AS DATE) AS cohort_week,
           CAST(a.week_offset AS BIGINT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           ROUND(CAST(COUNT(*) AS DOUBLE) / s.cohort_size, 4) AS retention
    FROM activity a JOIN sizes s USING (cohort_week)
    GROUP BY a.cohort_week, a.week_offset, s.cohort_size
    """,
)
def q132_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — THE product-analytics table: users bucketed by
    first-seen week (weeks start Sunday, matching the oracle's dow
    arithmetic), then for each (cohort, week-offset) the fraction of the
    cohort still active. Two aggregations over the events scan plus a
    BROADCAST join of the |cohorts|-sized size table; the per-user
    first-seen reduce is map-side combinable, so the whole report is two
    shuffles end-to-end regardless of history depth."""
    ev = load(spark, sf_dir, "events")
    week = F.date_sub(F.to_date("ts"), F.dayofweek("ts") - 1)
    first_seen = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    activity = (
        ev.select("user_id", week.alias("_w"))
        .join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff("_w", F.col("cohort_week")) / 7).cast("long").alias(
                "week_offset"
            ),
        )
        .distinct()
    )
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            F.col("cohort_size").cast("long").alias("cohort_size"),
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_size"), 4
            ).alias("retention"),
        )
    )



@register(
    "q135_week_type_drift",
    oracle="""
    WITH w AS (
      SELECT user_id,
             CASE WHEN CAST(ts AS DATE) < DATE '2024-01-15' THEN 0 ELSE 1 END
               AS half,
             event_type
      FROM events
    ),
    s AS (
      SELECT user_id,
             COALESCE(list_sort(list_distinct(list(event_type)
               FILTER (WHERE half = 0))), []) AS t1,
             COALESCE(list_sort(list_distinct(list(event_type)
               FILTER (WHERE half = 1))), []) AS t2
      FROM w GROUP BY user_id
    )
    SELECT user_id,
           COALESCE(array_to_string(t1, ','), '') AS first_half_types,
           COALESCE(array_to_string(
             list_sort(list_filter(t2, x -> NOT list_contains(t1, x))), ','), '')
             AS gained,
           COALESCE(array_to_string(
             list_sort(list_filter(t1, x -> NOT list_contains(t2, x))), ','), '')
             AS lost,
           CAST(len(list_filter(t2, x -> list_contains(t1, x))) AS BIGINT)
             AS n_retained
    FROM s
    """,
)
def q135_week_type_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral drift via ARRAY SET ALGEBRA: each user's distinct
    event-type set in the first vs second half of the month, with
    array_except/array_intersect computing gained, lost, and retained
    behaviors — the array-typed churn signal. collect_set aggregates are
    map-side combinable over tiny sets; everything else is row-local
    array math. Arrays ride as sorted CSV so the oracle pins every
    element."""
    ev = load(spark, sf_dir, "events")
    half = F.when(
        F.to_date("ts") < F.lit("2024-01-15").cast("date"), F.lit(0)
    ).otherwise(F.lit(1))
    s = ev.withColumn("_h", half).groupBy("user_id").agg(
        F.array_sort(
            F.collect_set(F.when(F.col("_h") == 0, F.col("event_type")))
        ).alias("t1"),
        F.array_sort(
            F.collect_set(F.when(F.col("_h") == 1, F.col("event_type")))
        ).alias("t2"),
    )
    return s.select(
        "user_id",
        F.array_join("t1", ",").alias("first_half_types"),
        F.array_join(F.array_sort(F.array_except("t2", "t1")), ",").alias("gained"),
        F.array_join(F.array_sort(F.array_except("t1", "t2")), ",").alias("lost"),
        F.size(F.array_intersect("t2", "t1")).cast("long").alias("n_retained"),
    )



@register(
    "q141_session_entry_exit",
    oracle="""
    WITH lagged AS (
      SELECT user_id, event_id, ts, event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    sess AS (
      SELECT user_id, event_id, ts, event_type,
             SUM(CASE WHEN gap_us > 1800000000 THEN 1 ELSE 0 END) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS session_id
      FROM lagged
    ),
    flows AS (
      SELECT user_id, session_id,
             FIRST_VALUE(event_type) OVER w AS entry_type,
             LAST_VALUE(event_type) OVER
               (PARTITION BY user_id, session_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS exit_type,
             ROW_NUMBER() OVER w AS rn
      FROM sess
      WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
    )
    SELECT entry_type, exit_type, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM flows WHERE rn = 1
    GROUP BY entry_type, exit_type
    """,
)
def q141_session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session entry→exit flow matrix: how sessions start vs how they end
    (landing/exit analysis) — first_value/last_value over the session
    frame, one row per session via rn=1, counted into the |types|² flow
    matrix. The sessionize → entry/exit windows all share the entity
    shuffle; the matrix reduce is map-side combinable."""
    ev = load(spark, sf_dir, "events")
    from noaa_ais_glue_lakehouse_spark.operators.sessionize import sessionize

    sess = sessionize(
        ev.select("user_id", "ts", "event_id", "event_type"),
        "user_id",
        "ts",
        gap_seconds=SESSION_GAP_SECONDS,
        tiebreak_cols=["event_id"],
    )
    w = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    flows = sess.select(
        "user_id",
        "session_id",
        F.first("event_type").over(w).alias("entry_type"),
        F.last("event_type").over(w_full).alias("exit_type"),
        F.row_number().over(w).alias("_rn"),
    ).filter(F.col("_rn") == 1)
    return flows.groupBy("entry_type", "exit_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )



@register(
    "q144_type_affinity",
    allow_non_equi="deliberate SINGLE-ROW broadcast cross join: the distinct-user-count scalar attached to the |type-pairs|-sized affinity table",
    oracle="""
    WITH u AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    n_users AS (
      SELECT COUNT(DISTINCT user_id) AS n FROM events
    ),
    singles AS (
      SELECT event_type, COUNT(*) AS c FROM u GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS c_ab
      FROM u a JOIN u b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           CAST(p.c_ab AS BIGINT) AS n_both,
           ROUND(CAST(p.c_ab AS DOUBLE) / nu.n, 6) AS support,
           ROUND(CAST(p.c_ab AS DOUBLE) * nu.n
                 / (CAST(sa.c AS DOUBLE) * sb.c), 6) AS lift
    FROM pairs p
    JOIN singles sa ON p.type_a = sa.event_type
    JOIN singles sb ON p.type_b = sb.event_type
    CROSS JOIN n_users nu
    """,
)
def q144_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity (support & lift) over per-user behavior
    sets: which event types co-occur in the same users beyond chance —
    the association-rule primitive. The fact collapses to DISTINCT
    (user, type) first (|users|·|types| max), the pair join is per-user
    with a bounded item vocabulary (k types → ≤ k² pair rows per user),
    and lift derives from exact integer counts. At a real catalog scale
    the same plan runs on the top-N items (q91's vocabulary) to bound
    the pair fan-out."""
    ev = load(spark, sf_dir, "events")
    u = ev.select("user_id", "event_type").distinct()
    n_users = ev.agg(F.countDistinct("user_id").alias("n"))
    singles = u.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a = u.alias("a")
    b = u.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    sa = singles.select(F.col("event_type").alias("type_a"), F.col("c").alias("_ca"))
    sb = singles.select(F.col("event_type").alias("type_b"), F.col("c").alias("_cb"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            F.col("c_ab").cast("long").alias("n_both"),
            F.round(F.col("c_ab").cast("double") / F.col("n"), 6).alias("support"),
            F.round(
                F.col("c_ab").cast("double")
                * F.col("n")
                / (F.col("_ca").cast("double") * F.col("_cb")),
                6,
            ).alias("lift"),
        )
    )



@register(
    "q147_longest_streak",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    grp AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                        AS INTEGER) AS anchor
      FROM d
    ),
    runs AS (
      SELECT user_id, COUNT(*) AS run_len
      FROM grp GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(MAX(run_len) AS BIGINT) AS longest_streak_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM runs GROUP BY user_id
    """,
)
def q147_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest consecutive-active-day streak per user
    via the classic date-minus-row_number anchor (consecutive days share
    an anchor; a gap starts a new island) — the engagement metric and
    THE canonical islands pattern, with zero joins: distinct day grain,
    one window, two aggregations, all sharing the user key."""
    ev = load(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = d.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    runs = grp.groupBy("user_id", "anchor").agg(F.count(F.lit(1)).alias("run_len"))
    return runs.groupBy("user_id").agg(
        F.max("run_len").cast("long").alias("longest_streak_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
    )



@register(
    "q153_decimal_revenue",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE)
                AS DOUBLE) AS revenue
    FROM orders GROUP BY o_orderpriority
    """,
)
def q153_decimal_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL-typed money arithmetic: totals accumulated as
    DECIMAL(18,2) — Spark's exact base-10 path (Tungsten's long-backed
    Decimal with overflow widening), the type a finance-grade pipeline
    declares instead of the double+integer-cents idiom the rest of the
    catalog uses. Both engines sum exactly in decimal, so the final
    double render is identical without any rounding step — the same
    order-independence the cents idiom buys, provided natively by the
    type system."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )



@register(
    "q154_first_touch",
    oracle="""
    SELECT user_id, first_ts, first_type, first_cents FROM (
      SELECT user_id, ts AS first_ts, event_type AS first_type,
             CAST(ROUND(value * 100) AS BIGINT) AS first_cents,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q154_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution row per user via MIN over an ordered
    STRUCT — the aggregation-based argmin. Unlike the window row_number
    form (q13's latest_per_entity), a struct-min is a plain aggregate:
    map-side combinable, no per-partition sort, no row_number
    materialization — at 100 TB the partial aggregates reduce each
    partition to |keys| rows BEFORE the shuffle, which the window form
    cannot. Struct comparison is lexicographic (ts, then event_id), so
    the winner matches the window oracle exactly."""
    ev = load(spark, sf_dir, "events")
    s = F.struct(
        F.col("ts"),
        F.col("event_id"),
        F.col("event_type"),
        cents(F.col("value")).alias("_c"),
    )
    first = ev.groupBy("user_id").agg(F.min(s).alias("_f"))
    return first.select(
        "user_id",
        F.col("_f.ts").alias("first_ts"),
        F.col("_f.event_type").alias("first_type"),
        F.col("_f._c").cast("long").alias("first_cents"),
    )



@register(
    "q172_max_concurrent_sessions",
    oracle=_SESSIONIZED_CTE
    + """,
    sessions AS (
      SELECT user_id, session_id, MIN(ts) AS st, MAX(ts) AS en
      FROM sess GROUP BY user_id, session_id
    ),
    b AS (
      SELECT st AS ts, 1 AS delta FROM sessions
      UNION ALL
      SELECT en AS ts, -1 AS delta FROM sessions
    ),
    r AS (
      SELECT ts, SUM(delta) OVER (ORDER BY ts, delta DESC
                                  ROWS UNBOUNDED PRECEDING) AS c
      FROM b
    )
    SELECT CAST(MAX(c) AS BIGINT) AS max_concurrent,
           strftime(MIN(ts) FILTER (WHERE c = (SELECT MAX(c) FROM r)),
                    '%Y-%m-%d %H:%M:%S') AS at_ts
    FROM r
    """,
)
def q172_max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X99 — peak concurrency via sweep line: +1 at each session start,
    -1 at each end (starts before ends on ties, so instantaneous sessions
    count), running-sum over the global time order, max + first time it
    is reached.

    The global running sum is the interesting part at scale: a bare
    ``SUM() OVER (ORDER BY ts)`` is a one-task window, so this uses
    ``global_running_sum`` — a two-phase parallel prefix scan
    (range-repartition → per-partition local scan → broadcast exclusive
    offsets). The final aggregate is one ``max(struct(c, -micros))``:
    max concurrency and the earliest timestamp achieving it in a single
    combinable pass.
    """
    from noaa_ais_glue_lakehouse_spark.operators.ordering import (
        global_running_sum,
    )

    ev = load(spark, sf_dir, "events")
    s = sessionize(
        ev, "user_id", "ts", SESSION_GAP_SECONDS, tiebreak_cols=["event_id"]
    )
    sessions = s.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("st"), F.max("ts").alias("en")
    )
    # +1/-1 boundary rows via ONE explode rather than a unionAll of two
    # selects over `sessions` (round 10, guide §2.4): the union form made
    # Catalyst run the whole scan→sessionize→min/max pipeline once per
    # branch (the before-plan holds FOUR copies of it — 2 union branches
    # × 2 global_running_sum references; exchange reuse cannot merge the
    # branches because one aggregates min(ts) and the other max(ts)).
    b = sessions.select(
        F.explode(
            F.array(
                F.struct(F.col("st").alias("ts"), F.lit(1).alias("delta")),
                F.struct(F.col("en").alias("ts"), F.lit(-1).alias("delta")),
            )
        ).alias("_b")
    ).select("_b.ts", "_b.delta")
    # order by (ts, -delta): +1 boundaries sort before -1 at equal ts,
    # matching the oracle's ORDER BY ts, delta DESC
    r = global_running_sum(
        b.withColumn("_negdelta", -F.col("delta")),
        ["ts", "_negdelta"],
        "delta",
        out_col="c",
    )
    top = r.agg(
        F.max(F.struct(F.col("c"), (-F.unix_micros("ts")).alias("_negus"))).alias(
            "_m"
        )
    )
    return top.select(
        F.col("_m.c").cast("long").alias("max_concurrent"),
        F.date_format(
            F.timestamp_micros(-F.col("_m._negus")), "yyyy-MM-dd HH:mm:ss"
        ).alias("at_ts"),
    )



@register(
    "q186_ordered_funnel",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    s1 AS (SELECT user_id, MIN(rn) AS r1 FROM o
           WHERE event_type = 'view' GROUP BY 1),
    s2 AS (SELECT o.user_id, MIN(rn) AS r2 FROM o JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND rn > r1 GROUP BY 1),
    s3 AS (SELECT o.user_id, MIN(rn) AS r3 FROM o JOIN s2 USING (user_id)
           WHERE event_type = 'signup' AND rn > r2 GROUP BY 1),
    s4 AS (SELECT o.user_id, MIN(rn) AS r4 FROM o JOIN s3 USING (user_id)
           WHERE event_type = 'purchase' AND rn > r3 GROUP BY 1)
    SELECT u.user_id,
           CAST(CASE WHEN r4 IS NOT NULL THEN 4
                     WHEN r3 IS NOT NULL THEN 3
                     WHEN r2 IS NOT NULL THEN 2
                     WHEN r1 IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS steps_completed,
           r4 IS NOT NULL AS converted
    FROM (SELECT DISTINCT user_id FROM o) u
    LEFT JOIN s1 ON s1.user_id = u.user_id
    LEFT JOIN s2 ON s2.user_id = u.user_id
    LEFT JOIN s3 ON s3.user_id = u.user_id
    LEFT JOIN s4 ON s4.user_id = u.user_id
    """,
)
def q186_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X113 — K-step STRICTLY-ORDERED funnel (view → click → signup →
    purchase, each step after the previous one) — the general form of
    q98's 2-step funnel. A greedy scan of each user's time-ordered
    events is equivalent to the nested first-match-after-previous-step
    definition, so the whole state machine is ONE ``aggregate`` fold
    over a per-user sorted event array: one shuffle, no K-way self-join
    (the oracle does the 4-chained-subquery form). Array size is one
    user's history — bounded per the same per-entity-cardinality
    argument as sessionization; for unbounded entities the K-pass
    conditional-min window form trades K plan passes for O(1) memory.
    """
    ev = load(spark, sf_dir, "events")
    arr = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("t"),
                        F.col("event_id").alias("e"),
                        F.col("event_type").alias("y"),
                    )
                )
            ).alias("evs")
        )
    )
    steps = F.aggregate(
        F.col("evs"),
        F.lit(0),
        lambda acc, x: F.when((acc == 0) & (x["y"] == "view"), 1)
        .when((acc == 1) & (x["y"] == "click"), 2)
        .when((acc == 2) & (x["y"] == "signup"), 3)
        .when((acc == 3) & (x["y"] == "purchase"), 4)
        .otherwise(acc),
    )
    return arr.select(
        "user_id",
        steps.cast("long").alias("steps_completed"),
        (steps == 4).alias("converted"),
    )


# ---------------------------------------------------------------------------
# Distribution profiling, mode, ties, Benford audit, weighted sampling
# (X114-X118)
# ---------------------------------------------------------------------------



@register(
    "q188_mode_per_group",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT user_id, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type) AS rk
      FROM c
    )
    SELECT user_id, event_type AS mode_type, CAST(n AS BIGINT) AS n_events
    FROM r WHERE rk = 1
    """,
)
def q188_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X115 — mode (most frequent value) per group with a deterministic
    tiebreak (higher count wins, then lexicographically smaller value).

    Two-level combinable aggregation: (user, type) counts, then ONE
    ``min_by`` over the ordering struct (-n, type) — negating the count
    turns "highest count, then smallest string" into a single ascending
    struct comparison, so the whole tiebreak is one map-side-combinable
    aggregate instead of the row_number window the oracle uses.
    """
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    # min_by over (-n, event_type): highest count first, then smallest
    # type string — single combinable aggregate, no window
    key = F.struct((-F.col("n")).alias("negn"), F.col("event_type"))
    return c.groupBy("user_id").agg(
        F.min_by("event_type", key).alias("mode_type"),
        F.min_by("n", key).cast("long").alias("n_events"),
    )



@register(
    "q189_topk_with_ties",
    oracle="""
    WITH s AS (
      SELECT c.c_nationkey AS nationkey, o.o_custkey,
             SUM(CAST(ROUND(o.o_totalprice*100) AS BIGINT)) AS spend_cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    r AS (
      SELECT nationkey, o_custkey, spend_cents,
             RANK() OVER (PARTITION BY nationkey
                          ORDER BY spend_cents DESC) AS rk
      FROM s
    )
    SELECT nationkey, o_custkey AS custkey,
           CAST(spend_cents AS DOUBLE)/100.0 AS spend,
           CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 3
    """,
)
def q189_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X116 — top-k WITH TIES per group (``RANK() <= k``, the FETCH
    FIRST k ROWS WITH TIES semantics): every customer tied at the k-th
    spend boundary is kept, unlike row_number top-k (q08/q120) which
    cuts ties arbitrarily — the difference matters whenever the ranking
    key is coarse (integer cents here can tie).

    The rank window rides the same nationkey shuffle as the rollup
    — and the rollup itself pre-shrinks the window input to
    |customers| rows.
    """
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    s = (
        orders.join(
            F.broadcast(
                cust.select("c_custkey", "c_nationkey")
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("nationkey"), F.col("o_custkey")
        )
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("spend_cents"))
    )
    w = Window.partitionBy("nationkey").orderBy(F.col("spend_cents").desc())
    return (
        s.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "nationkey",
            F.col("o_custkey").alias("custkey"),
            (F.col("spend_cents").cast("double") / 100.0).alias("spend"),
            F.col("rk").cast("long").alias("rk"),
        )
    )



@register(
    "q192_affected_partition_recompute",
    oracle="""
    WITH late AS (
      SELECT * FROM events WHERE event_id % 17 = 3
    ),
    affected AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day FROM late
    )
    SELECT CAST(e.ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(e.value*100) AS BIGINT)) AS DOUBLE)/100.0
             AS total_value
    FROM events e JOIN affected a ON CAST(e.ts AS DATE) = a.day
    GROUP BY 1
    """,
)
def q192_affected_partition_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X119 — incremental-maintenance planning: given a late-arriving
    batch (here: events with id % 17 = 3 standing in for a CDC delta),
    derive the set of affected day-partitions and recompute the daily
    rollup for ONLY those partitions — the partition-pruned alternative
    to a full-table rebuild, and exactly the logic T5's monthly runner
    applies at file level.

    The affected-day set (|days| rows) broadcasts; on a date-partitioned
    table the semi-join collapses to partition pruning at the scan (the
    pin in test_readers.py::test_partition_pruning). Equal by
    construction to the full rollup restricted to those days, which is
    what the oracle states.
    """
    ev = load(spark, sf_dir, "events")
    late = ev.filter(F.col("event_id") % 17 == 3)
    affected = late.select(
        F.to_date("ts").alias("day")
    ).distinct()
    return (
        ev.join(F.broadcast(affected), F.to_date(F.col("ts")) == F.col("day"))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.sum(cents(F.col("value"))) / 100.0).alias("total_value"),
        )
    )



@register(
    "q198_adoption_curve",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY 1
    ),
    daily AS (
      SELECT day, COUNT(*) AS new_users FROM first_seen GROUP BY 1
    )
    SELECT day,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cumulative_users
    FROM daily
    """,
)
def q198_adoption_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X125 — cumulative adoption curve: per day, how many users appear
    for the FIRST time, and the running total of users ever seen — the
    cumulative-DISTINCT metric, made combinable by reducing to each
    user's first-seen day (min per user, map-side partials) so the
    cumulative sum runs over the |days|-sized rollup, not the fact
    table. The unpartitioned window here is over ~30 rows by
    construction; at unbounded day counts it swaps for
    ``global_running_sum`` (q172) unchanged.
    """
    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    daily = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )



@register(
    "q199_weekly_churn",
    allow_non_equi="deliberate SINGLE-ROW broadcast cross join: the max-observed-week gate attached to the |user-weeks| table",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    ),
    nxt AS (
      SELECT user_id, wk,
             LEAD(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
      FROM uw
    ),
    mx AS (SELECT MAX(wk) AS max_wk FROM uw)
    SELECT strftime(wk, '%Y-%m-%d') AS week_start,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(COUNT(*) FILTER (WHERE next_wk IS NULL
                                    OR next_wk > wk + INTERVAL 7 DAY)
                AS BIGINT) AS n_churned,
           ROUND(COUNT(*) FILTER (WHERE next_wk IS NULL
                                     OR next_wk > wk + INTERVAL 7 DAY)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS churn_rate
    FROM nxt, mx
    WHERE wk < max_wk
    GROUP BY 1
    """,
)
def q199_weekly_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X126 — weekly churn: of the users active in week w, how many do
    NOT return in week w+1 (their next active week is later or never).
    The final observed week is excluded — churn there is not yet
    observable, and silently reporting it as 100% is the classic
    retention-dashboard bug. One shuffle: the distinct (user, week)
    reduction and the lead window share the user key; the max-week
    gate is a single-row broadcast.
    """
    ev = load(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("wk")
    nxt = uw.withColumn("next_wk", F.lead("wk").over(w))
    mx = uw.agg(F.max("wk").alias("max_wk"))
    churned = F.col("next_wk").isNull() | (
        F.col("next_wk") > F.col("wk") + F.expr("INTERVAL 7 DAYS")
    )
    return (
        nxt.crossJoin(F.broadcast(mx))
        .filter(F.col("wk") < F.col("max_wk"))
        .groupBy(F.date_format("wk", "yyyy-MM-dd").alias("week_start"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.sum(F.when(churned, 1).otherwise(0))
            .cast("long")
            .alias("n_churned"),
            F.round(
                F.sum(F.when(churned, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("churn_rate"),
        )
    )



@register(
    "q200_stickiness",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY 1),
    contrib AS (
      SELECT user_id, day + CAST(x AS INTEGER) AS day
      FROM du, UNNEST(range(0, 7)) AS t(x)
    ),
    wau AS (
      SELECT c.day, COUNT(DISTINCT c.user_id) AS wau
      FROM contrib c JOIN dau d ON d.day = c.day
      GROUP BY 1
    )
    SELECT d.day, CAST(d.dau AS BIGINT) AS dau,
           CAST(w.wau AS BIGINT) AS wau,
           ROUND(d.dau / CAST(w.wau AS DOUBLE), 6) AS stickiness
    FROM dau d JOIN wau w ON w.day = d.day
    """,
)
def q200_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X127 — DAU/WAU stickiness ratio per day: what fraction of the
    trailing week's actives showed up today. Composes q139's
    explode-based sliding DISTINCT (no range join) with the plain daily
    distinct; both reduce the fact table to (day, user) pairs first, so
    every stage after the first distinct is |pairs|-sized. Day spine =
    days that actually have actives (inner join), matching the oracle.
    """
    ev = load(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = du.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
    )
    wau = (
        contrib.join(F.broadcast(dau.select("day")), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.round(
                F.col("dau") / F.col("wau").cast("double"), 6
            ).alias("stickiness"),
        )
    )



@register(
    "q206_rfm_segmentation",
    allow_non_equi="deliberate SINGLE-ROW broadcast cross join: the global max-order- date anchor attached to the |customers| RFM rollup",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                       (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders))
               AS recency_days,
             COUNT(*) AS frequency,
             SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS monetary_cents
      FROM orders GROUP BY 1
    ),
    scored AS (
      SELECT o_custkey, recency_days, frequency, monetary_cents,
             NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
             NTILE(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
             NTILE(5) OVER (ORDER BY monetary_cents, o_custkey) AS m_score
      FROM rfm
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_cents) AS DOUBLE)/100.0 AS segment_value
    FROM scored GROUP BY 1, 2, 3
    """,
)
def q206_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X133 — RFM (recency / frequency / monetary) segmentation, the
    canonical customer-value grid: per-customer stats scored into
    quintiles (recency reversed — most RECENT gets the highest score),
    rolled up per (r, f, m) cell. Per-customer rollup is combinable on
    one shuffle; the three NTILEs run over the |customers| reduction
    with id tiebreaks making quintile boundaries total. The global-max
    anchor date is a single-row broadcast.
    """
    orders = load(spark, sf_dir, "orders")
    anchor = orders.agg(
        F.max(F.to_date("o_orderdate")).alias("_anchor")
    )
    rfm = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("_last"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(cents(F.col("o_totalprice"))).alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .withColumn("recency_days", F.datediff("_anchor", "_last"))
    )
    r_w = Window.orderBy(F.col("recency_days").desc(), "o_custkey")
    f_w = Window.orderBy("frequency", "o_custkey")
    m_w = Window.orderBy("monetary_cents", "o_custkey")
    scored = rfm.select(
        "monetary_cents",
        F.ntile(5).over(r_w).alias("r_score"),
        F.ntile(5).over(f_w).alias("f_score"),
        F.ntile(5).over(m_w).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        (F.sum("monetary_cents").cast("double") / 100.0).alias(
            "segment_value"
        ),
    )


# ---------------------------------------------------------------------------
# Cross-slice generalization and change detection (X134-X135)
# ---------------------------------------------------------------------------



@register(
    "q209_touch_attribution",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, ts,
             CAST(ROUND(value*100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, event_id AS click_id, ts FROM events
      WHERE event_type = 'click'
    ),
    ranked AS (
      SELECT p.purchase_id, p.user_id, p.cents, c.click_id,
             ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                ORDER BY c.ts, c.click_id) AS rn_first,
             ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                ORDER BY c.ts DESC, c.click_id DESC) AS rn_last
      FROM p JOIN c
        ON c.user_id = p.user_id
       AND c.ts <= p.ts
       AND epoch_us(c.ts) >= epoch_us(p.ts) - 86400000000
    )
    SELECT purchase_id, user_id,
           CAST(MAX(cents) AS DOUBLE)/100.0 AS revenue,
           MAX(CASE WHEN rn_first = 1 THEN click_id END) AS first_click,
           MAX(CASE WHEN rn_last = 1 THEN click_id END) AS last_click
    FROM ranked GROUP BY purchase_id, user_id
    """,
)
def q209_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X136 — first-touch / last-touch revenue attribution: each
    purchase credited to the first and last click in its trailing 24 h
    window. The oracle states the range join; the Spark plan avoids it —
    purchases and clicks union into ONE per-user time-ordered stream,
    a last_value carry gives the most recent click at each purchase
    (last-touch), and a window min over the purchase's trailing range
    gives first-touch — all on a single user-key shuffle, O(n log n)
    per user instead of |purchases|x|clicks|.

    Purchases with no qualifying click are excluded (matching the
    oracle's inner join): unattributed revenue is a different report,
    not a NULL row here.
    """
    # NULL users are excluded up front: the oracle's equality join never
    # matches NULL = NULL, while a window PARTITION BY would group the
    # NULL users together and fabricate attributions for them
    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        cents(F.col("value")).alias("cents_i"),
    )
    tagged = clicks.select(
        "user_id",
        "ts",
        F.lit(0).alias("_src"),
        "click_id",
        F.lit(None).cast("long").alias("purchase_id"),
        F.lit(None).cast("long").alias("cents_i"),
    ).unionByName(
        purchases.select(
            "user_id",
            "ts",
            F.lit(1).alias("_src"),
            F.lit(None).cast("long").alias("click_id"),
            "purchase_id",
            "cents_i",
        )
    )
    order = [F.col("ts"), F.col("_src"), F.coalesce("click_id", "purchase_id")]
    w = Window.partitionBy("user_id").orderBy(*order)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lim = 86400 * 1000000
    us = F.unix_micros("ts")
    # last-touch: most recent click at-or-before the purchase
    last_click = F.last(F.col("click_id"), ignorenulls=True).over(run)
    last_click_us = F.last(
        F.when(F.col("_src") == 0, us), ignorenulls=True
    ).over(run)
    # first-touch inside the 24h window: min (click_us, click_id) among
    # clicks in the trailing range — a RANGE frame over microseconds
    wr = (
        Window.partitionBy("user_id")
        .orderBy(us.cast("long"))
        .rangeBetween(-lim, 0)
    )
    first_struct = F.min(
        F.when(
            F.col("_src") == 0,
            F.struct(us.alias("u"), F.col("click_id").alias("i")),
        )
    ).over(wr)
    out = (
        tagged.withColumn("_last", last_click)
        .withColumn("_last_us", last_click_us)
        .withColumn("_first", first_struct)
        .filter(
            (F.col("_src") == 1)
            & F.col("_last").isNotNull()
            & (F.col("_last_us") >= us - lim)
        )
    )
    return out.select(
        "purchase_id",
        "user_id",
        (F.col("cents_i").cast("double") / 100.0).alias("revenue"),
        F.col("_first.i").alias("first_click"),
        F.col("_last").alias("last_click"),
    )



@register(
    "q254_conversion_latency",
    allow_non_equi="deliberate 1-row broadcast scalars: total-count / x_k order stat",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_us
      FROM events
    ),
    lat AS (
      SELECT epoch_us(ts) - last_click_us AS us
      FROM seq
      WHERE event_type = 'purchase' AND last_click_us IS NOT NULL
    ),
    r AS (SELECT us, COUNT(*) AS c FROM lat GROUP BY us),
    cum AS (
      SELECT us, SUM(c) OVER (ORDER BY us) AS cc FROM r
    ),
    n AS (SELECT COUNT(*) AS n FROM lat)
    SELECT CAST(n AS BIGINT) AS n_conversions,
           ROUND((SELECT MIN(us) FROM cum, n WHERE cc >= (5*n + 9) // 10)
                 / 1000000.0, 6) AS p50_seconds,
           ROUND((SELECT MIN(us) FROM cum, n WHERE cc >= (9*n + 9) // 10)
                 / 1000000.0, 6) AS p90_seconds
    FROM n
    """,
)
def q254_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X182 — conversion-latency distribution: for every purchase, the
    time since the SAME user's most recent preceding click (a running
    conditional max — the single-pass form of a per-row as-of join),
    then exact rank-based p50/p90 over the latency population. The
    product-analytics question behind every funnel: not whether users
    convert (q186) but how long conversion takes.

    Plan shape: ONE user-partitioned window pass attaches the last
    click; the quantiles use the two-pass counting method (distinct-
    value rollup + cumulative window on the rollup), not a memory-bound
    percentile aggregate — q233's machinery on a new population. The
    ceil thresholds are exact integer arithmetic.
    """
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.unix_micros(F.col("ts")))
    ).over(w)
    lat = (
        ev.select(
            "event_type",
            (F.unix_micros(F.col("ts")) - last_click).alias("us"),
        )
        .filter((F.col("event_type") == "purchase") & F.col("us").isNotNull())
        .select("us")
    )
    r = lat.groupBy("us").agg(F.count(F.lit(1)).alias("c"))
    wc = Window.orderBy("us").rowsBetween(Window.unboundedPreceding, 0)
    cum = r.withColumn("cc", F.sum("c").over(wc))
    n = lat.agg(F.count(F.lit(1)).alias("n"))
    qc = cum.crossJoin(F.broadcast(n))

    def q_at(mult: int) -> F.Column:
        return F.min(
            F.when(
                F.col("cc") >= F.expr(f"({mult} * n + 9) div 10"),
                F.col("us"),
            )
        )

    quants = qc.agg(
        F.round(q_at(5) / 1000000.0, 6).alias("p50_seconds"),
        F.round(q_at(9) / 1000000.0, 6).alias("p90_seconds"),
    )
    # n rides its own scalar aggregate (always exactly one row) so that
    # with ZERO conversions the result is (0, NULL, NULL) like the
    # oracle — aggregating n out of the empty qc frame would yield NULL
    return (
        n.crossJoin(F.broadcast(quants))
        .select(
            F.col("n").cast("long").alias("n_conversions"),
            "p50_seconds",
            "p90_seconds",
        )
    )



@register(
    "q262_touch_attribution",
    oracle="""
    WITH fb AS (
      SELECT user_id, MIN(ts) AS bts
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    t AS (
      SELECT e.user_id, e.ts, e.event_id, e.event_type
      FROM events e JOIN fb USING (user_id)
      WHERE e.ts < fb.bts AND e.event_type <> 'purchase'
    ),
    r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn_f,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn_l
      FROM t
    )
    SELECT user_id,
           MAX(CASE WHEN rn_f = 1 THEN event_type END) AS first_touch,
           MAX(CASE WHEN rn_l = 1 THEN event_type END) AS last_touch,
           CAST(COUNT(*) AS BIGINT) AS n_touches
    FROM r GROUP BY user_id
    """,
)
def q262_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X191 — first/last-touch conversion attribution: for every user
    with a purchase, the type of the first and of the last non-purchase
    event strictly before their first purchase, plus the touch count.

    Plan shape: the converter table is an aggregation (|users| rows)
    joined back on the user key, and both attributions come from ONE
    combinable min_by/max_by aggregation over (ts, event_id) structs —
    no window pass, no second shuffle beyond the user key, where the
    oracle's double row_number form would sort each partition twice.
    Ties are impossible by construction (the struct tiebreaks on
    event_id), so the hash check pins determinism.
    """
    ev = load(spark, sf_dir, "events")
    fb = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("bts"))
    )
    t = ev.join(fb, "user_id").filter(
        (F.col("ts") < F.col("bts")) & (F.col("event_type") != "purchase")
    )
    order = F.struct("ts", "event_id")
    return t.groupBy("user_id").agg(
        F.min_by("event_type", order).alias("first_touch"),
        F.max_by("event_type", order).alias("last_touch"),
        F.count(F.lit(1)).cast("long").alias("n_touches"),
    )



@register(
    "q276_dynamic_gap_sessions",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             epoch_us(ts) AS us,
             epoch_us(ts) + CASE WHEN event_type = 'view'
                                 THEN 600000000 ELSE 1800000000 END AS end_us
      FROM events
    ), m AS (
      SELECT user_id, us, end_us,
             MAX(end_us) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS prev_max_end
      FROM g
    ), b AS (
      SELECT user_id, us, end_us,
             CASE WHEN prev_max_end IS NULL OR us >= prev_max_end
                  THEN 1 ELSE 0 END AS is_start
      FROM m
    ), sid AS (
      SELECT user_id, us, end_us,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY us
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM b
    )
    SELECT user_id,
           strftime(make_timestamp(MIN(us)), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(make_timestamp(MAX(end_us)), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sid
    GROUP BY user_id, session_no
    """,
)
def q276_dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows — Spark's ``session_window`` with a
    per-event gap EXPRESSION (views time out after 10 minutes, everything
    else after 30): each event spans [ts, ts+gap(event)); overlapping
    spans merge. The native operator replaces the fixed-gap prefix-sum
    sessionize when inactivity tolerance depends on the event itself.

    The oracle pins the exact merge semantics independently: interval
    merge via running MAX of span ends (a new session starts iff the
    event's start is ≥ every earlier event's end — boundary-touching
    spans do NOT merge, matching session_window's end-exclusive
    intervals). One shuffle on user_id; the session assembly is
    map-side within each entity partition.
    """
    from pyspark.sql import types as T

    docs = load(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "view", F.lit("10 minutes")).otherwise(
        F.lit("30 minutes")
    )
    ev = docs.select(
        "user_id",
        F.col("ts").cast(T.TimestampType()).alias("ts"),
        "event_type",
    )
    out = ev.groupBy(
        "user_id", F.session_window("ts", gap).alias("sw")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    return out.select(
        "user_id",
        F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
        "n_events",
    )



@register(
    "q279_largest_remainder_alloc",
    allow_non_equi="deliberate SINGLE-ROW broadcast cross joins: the corpus-total scalar on the |sources| rollup and the allocated-seats scalar on the |sources| quota table",
    oracle="""
    WITH s AS (
      SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ), tot AS (
      SELECT SUM(n) AS t FROM s
    ), q AS (
      SELECT source, n,
             (n * 1000) // t AS fl,
             (n * 1000) % t AS rem
      FROM s, tot
    ), base AS (
      SELECT SUM(fl) AS allocated FROM q
    ), r AS (
      SELECT source, n, fl, rem,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
      FROM q
    )
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           CAST(fl + CASE WHEN rk <= 1000 - (SELECT allocated FROM base)
                          THEN 1 ELSE 0 END AS BIGINT) AS quota
    FROM r
    """,
)
def q279_largest_remainder_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) quota allocation: split a budget of
    1000 sampled documents across sources EXACTLY proportionally — floor
    quotas first, then the leftover seats go to the largest fractional
    remainders. The sampling-design primitive behind "exact N-doc
    stratified sample" requests, where naive rounding over- or
    under-shoots the budget.

    All quota arithmetic is exact integers (n·1000 // total and its
    remainder); the seat ranking is over |sources| rows — driver-scale
    AFTER the one corpus-count aggregation, so the window's single
    partition is by construction tiny, and the leftover-seat count is a
    1-row broadcast attach.
    """
    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = s.agg(F.sum("n").alias("t"))
    q = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        ((F.col("n") * 1000) / F.col("t")).cast("long").alias("fl"),
        ((F.col("n") * 1000) % F.col("t")).alias("rem"),
    )
    base = q.agg(F.sum("fl").alias("allocated"))
    w = Window.orderBy(F.col("rem").desc(), F.col("source"))
    r = q.withColumn("rk", F.row_number().over(w))
    return r.crossJoin(F.broadcast(base)).select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        (
            F.col("fl")
            + F.when(F.col("rk") <= 1000 - F.col("allocated"), 1).otherwise(0)
        )
        .cast("long")
        .alias("quota"),
    )



@register(
    "q290_session_path_trigrams",
    oracle="""
    WITH seq AS (
      SELECT user_id, CAST(ts AS DATE) AS day, event_type,
             LEAD(event_type, 1) OVER (
               PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts, event_id
             ) AS t2,
             LEAD(event_type, 2) OVER (
               PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts, event_id
             ) AS t3
      FROM events
    )
    SELECT event_type || '>' || t2 || '>' || t3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path LIMIT 20
    """,
)
def q290_session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 behavioral trigrams (3-step event-type paths within a
    user-day): two LEADs over one (user, day)-partitioned window — the
    sequence-mining shape that needs no self-join because consecutive
    steps are adjacency, not equi-match. TakeOrdered top-k; tiebreak on
    the path string keeps the cut deterministic."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.filter(F.col("t3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Text-analysis widening: readability, tokenizer fertility, curriculum
# staging, blocklist screening (q291-q294)
# ---------------------------------------------------------------------------



@register(
    "q329_association_rules",
    allow_non_equi="deliberate SINGLE-ROW broadcast cross join: the basket-count scalar on the |type-pairs|-sized rule table",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
      FROM events
    ), nb AS (SELECT COUNT(DISTINCT (user_id, day)) AS n_baskets
              FROM baskets),
    item AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_item
      FROM baskets GROUP BY event_type
    ),
    pair AS (
      SELECT a.event_type AS lhs, b.event_type AS rhs,
             CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM baskets a
      JOIN baskets b ON b.user_id = a.user_id AND b.day = a.day
                    AND b.event_type <> a.event_type
      GROUP BY 1, 2
    )
    SELECT p.lhs, p.rhs, p.n_pair,
           ROUND(CAST(p.n_pair AS DOUBLE) / li.n_item, 6) AS confidence,
           ROUND(CAST(p.n_pair AS DOUBLE) * nb.n_baskets
                 / (li.n_item * lr.n_item), 6) AS lift
    FROM pair p
    JOIN item li ON li.event_type = p.lhs
    JOIN item lr ON lr.event_type = p.rhs, nb
    WHERE p.n_pair >= 5
    """,
)
def q329_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over (user, day) baskets: confidence
    P(rhs|lhs) and lift P(lhs,rhs)/(P(lhs)P(rhs)) for every directed
    type pair with support ≥ 5 — the market-basket report. Pair counts
    come from the bounded within-basket self-join (|types|² per basket,
    types is a small domain — q288's wedge shape); the basket total is a
    deliberate 1-row broadcast; item counts broadcast into the pair
    table. Exact integer counts, one float division per output row."""
    ev = load(spark, sf_dir, "events")
    baskets = ev.select(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    ).distinct()
    nb = baskets.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    item = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_item")
    )
    a = baskets.alias("a")
    b = baskets.alias("b")
    pair = (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.day") == F.col("a.day"))
            & (F.col("b.event_type") != F.col("a.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("lhs"),
            F.col("b.event_type").alias("rhs"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= 5)
    )
    li = item.select(
        F.col("event_type").alias("lhs"), F.col("n_item").alias("n_lhs")
    )
    lr = item.select(
        F.col("event_type").alias("rhs"), F.col("n_item").alias("n_rhs")
    )
    j = (
        pair.join(F.broadcast(li), "lhs")
        .join(F.broadcast(lr), "rhs")
        .crossJoin(F.broadcast(nb))
    )
    return j.select(
        "lhs",
        "rhs",
        "n_pair",
        F.round(F.col("n_pair").cast("double") / F.col("n_lhs"), 6).alias(
            "confidence"
        ),
        F.round(
            F.col("n_pair").cast("double")
            * F.col("n_baskets")
            / (F.col("n_lhs") * F.col("n_rhs")),
            6,
        ).alias("lift"),
    )



@register(
    "q336_conversion_horizons",
    allow_non_equi="deliberate 3-row broadcast horizon spine over the |users| rollup",
    oracle="""
    WITH sig AS (
      SELECT user_id, ts FROM events WHERE event_type = 'signup'
    ), pur AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ), firsts AS (
      SELECT s.user_id, MIN(epoch_us(s.ts)) AS s_us
      FROM sig s GROUP BY s.user_id
    ), conv AS (
      SELECT f.user_id, f.s_us,
             MIN(CASE WHEN epoch_us(p.ts) >= f.s_us
                      THEN epoch_us(p.ts) END) AS p_us
      FROM firsts f LEFT JOIN pur p ON p.user_id = f.user_id
      GROUP BY f.user_id, f.s_us
    ), h AS (SELECT * FROM (VALUES (1), (24), (168)) t(horizon_h))
    SELECT horizon_h,
           CAST(COUNT(*) AS BIGINT) AS n_signups,
           CAST(SUM(CASE WHEN p_us IS NOT NULL
                         AND p_us - s_us <= horizon_h * 3600000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           ROUND(CAST(SUM(CASE WHEN p_us IS NOT NULL
                              AND p_us - s_us <= horizon_h * 3600000000
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS conversion_rate
    FROM conv, h
    GROUP BY horizon_h
    """,
)
def q336_conversion_horizons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-horizon conversion rates (1 h / 24 h / 7 d after first
    signup): ONE pass computes each user's first signup and first
    subsequent purchase (conditional min aggregates — never one query
    per horizon), then a 3-row horizon spine broadcasts over the
    |users|-sized table to produce every horizon's rate. Extends q254's
    single-horizon latency with the retention-curve shape."""
    ev = load(spark, sf_dir, "events")
    firsts = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("s_us"))
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("p_ts")
    )
    conv = (
        firsts.join(pur, "user_id", "left")
        .groupBy("user_id", "s_us")
        .agg(
            F.min(
                F.when(F.col("p_ts") >= F.col("s_us"), F.col("p_ts"))
            ).alias("p_us")
        )
    )
    h = _lit_spine(spark, "horizon_h", [1, 24, 168])
    j = conv.crossJoin(F.broadcast(h))
    hit = F.when(
        F.col("p_us").isNotNull()
        & (F.col("p_us") - F.col("s_us") <= F.col("horizon_h") * 3_600_000_000),
        1,
    ).otherwise(0)
    return j.groupBy("horizon_h").agg(
        F.count(F.lit(1)).cast("long").alias("n_signups"),
        F.sum(hit).cast("long").alias("n_converted"),
        F.round(F.sum(hit).cast("double") / F.count(F.lit(1)), 6).alias(
            "conversion_rate"
        ),
    )


# ---------------------------------------------------------------------------
# Exact group percentiles, SRM check, mutual information (q337-q339)
# ---------------------------------------------------------------------------



@register(
    "q341_cohort_ltv_curve",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             CAST(FLOOR((epoch_us(MIN(ts)) - 1704067200000000)
                  / 604800000000) AS BIGINT) AS cohort_week
      FROM events GROUP BY user_id
    ), rev AS (
      SELECT e.user_id, f.cohort_week,
             CAST(FLOOR((epoch_us(e.ts) - 1704067200000000)
                  / 604800000000) AS BIGINT) - f.cohort_week AS age_weeks,
             CAST(ROUND(e.value*100) AS BIGINT) AS cents
      FROM events e JOIN firsts f USING (user_id)
    ), wk AS (
      SELECT cohort_week, age_weeks,
             SUM(cents) AS week_cents,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
      FROM rev GROUP BY cohort_week, age_weeks
    ), sz AS (
      SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM firsts GROUP BY cohort_week
    )
    SELECT w.cohort_week, w.age_weeks, s.cohort_size, w.active_users,
           CAST(SUM(w.week_cents) OVER (
             PARTITION BY w.cohort_week ORDER BY w.age_weeks
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_cents,
           ROUND(CAST(SUM(w.week_cents) OVER (
             PARTITION BY w.cohort_week ORDER BY w.age_weeks
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / s.cohort_size, 6) AS ltv_cents_per_user
    FROM wk w JOIN sz s USING (cohort_week)
    """,
)
def q341_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users grouped by first-seen week,
    cumulative revenue per cohort by week-age, normalized per cohort
    member — the retention-economics complement to q132's count-based
    retention matrix. Two corpus-sized aggregations (firsts, weekly
    revenue), then windows over the tiny cohort×age grid; exact integer
    cents until the one per-user division."""
    ev = load(spark, sf_dir, "events")
    # numeric epoch anchor (2024-01-01 UTC): a literal-timestamp
    # unix_micros() breaks under the driver's TIMESTAMP_NTZ session type
    epoch0 = F.lit(1_704_067_200_000_000)
    week = F.floor(
        (F.unix_micros("ts") - epoch0) / F.lit(604_800_000_000)
    ).cast("long")
    firsts = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    rev = ev.select(
        "user_id", week.alias("w"), cents(F.col("value")).alias("cents")
    ).join(firsts, "user_id")
    wk = rev.groupBy(
        "cohort_week", (F.col("w") - F.col("cohort_week")).alias("age_weeks")
    ).agg(
        F.sum("cents").alias("week_cents"),
        F.countDistinct("user_id").cast("long").alias("active_users"),
    )
    sz = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    wcum = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    j = wk.join(F.broadcast(sz), "cohort_week")
    cum = F.sum("week_cents").over(wcum)
    return j.select(
        "cohort_week",
        "age_weeks",
        "cohort_size",
        "active_users",
        cum.cast("long").alias("cum_cents"),
        F.round(cum.cast("double") / F.col("cohort_size"), 6).alias(
            "ltv_cents_per_user"
        ),
    )



@register(
    "q353_od_flow_matrix",
    oracle=_COORDS_CTE
    + """
    , c AS (
      SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
             CAST(FLOOR(lat / 5.0) AS BIGINT) AS lat_cell,
             CAST(FLOOR(lon / 5.0) AS BIGINT) AS lon_cell
      FROM coords
    ), r AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY user_id, day
                           ORDER BY ts, event_id) AS rn_a,
        ROW_NUMBER() OVER (PARTITION BY user_id, day
                           ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM c
    ), trips AS (
      SELECT user_id, day,
             MAX(CASE WHEN rn_a = 1 THEN lat_cell END) AS o_lat_cell,
             MAX(CASE WHEN rn_a = 1 THEN lon_cell END) AS o_lon_cell,
             MAX(CASE WHEN rn_d = 1 THEN lat_cell END) AS d_lat_cell,
             MAX(CASE WHEN rn_d = 1 THEN lon_cell END) AS d_lon_cell
      FROM r GROUP BY user_id, day
    )
    SELECT o_lat_cell, o_lon_cell, d_lat_cell, d_lon_cell,
           CAST(COUNT(*) AS BIGINT) AS n_trips,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM trips
    GROUP BY o_lat_cell, o_lon_cell, d_lat_cell, d_lon_cell
    """,
)
def q353_od_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X283 — origin-destination flow matrix: each (user, day) is a
    trip from its first to its last 5° grid cell (ts-ordered); flows
    aggregate trips and distinct travellers per (origin, destination)
    cell pair — the transport-analytics rollup (and the AIS voyage
    origin/destination table) built from raw pings.

    Shape: the first/last extraction is the two-window ROW_NUMBER
    trick folded into ONE aggregate (MAX over rn=1 flags), so the whole
    query is a single (user, day) exchange — both windows and the
    group-by share the partitioning — followed by a low-cardinality
    flow rollup. No joins at all; at 1000 executors this is two hash
    aggregates on naturally high-cardinality keys."""
    ev = _with_coords(load(spark, sf_dir, "events"))
    c = ev.select(
        "user_id",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        grid_cell(F.col("lat"), 5.0).alias("lat_cell"),
        grid_cell(F.col("lon"), 5.0).alias("lon_cell"),
    )
    wa = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    r = c.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    trips = r.groupBy("user_id", "day").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("lat_cell"))).alias("o_lat_cell"),
        F.max(F.when(F.col("rn_a") == 1, F.col("lon_cell"))).alias("o_lon_cell"),
        F.max(F.when(F.col("rn_d") == 1, F.col("lat_cell"))).alias("d_lat_cell"),
        F.max(F.when(F.col("rn_d") == 1, F.col("lon_cell"))).alias("d_lon_cell"),
    )
    return trips.groupBy(
        "o_lat_cell", "o_lon_cell", "d_lat_cell", "d_lon_cell"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_trips"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )



@register(
    "q403_path_regex_screen",
    oracle="""
    WITH paths AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS path
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_paths,
           CAST(SUM(CASE WHEN regexp_matches(path, '^v+c+p+$')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pure_funnel,
           CAST(SUM(CASE WHEN regexp_matches(path, 'v.*c.*p')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_contains_funnel,
           CAST(SUM(CASE WHEN regexp_matches(path, 'e(e|.e)')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_error_bursts,
           CAST(MAX(length(path)) AS BIGINT) AS max_path_len
    FROM paths GROUP BY day
    """,
)
def q403_path_regex_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X333 — PATH-REGEX event screening (MATCH_RECOGNIZE-lite / CEP):
    each user-day's ordered event sequence collapses to an initials
    string ('vvcp…'), and behavioral patterns become plain regexes —
    the pure browse→click→buy funnel (full-match ^v+c+p+$), funnel
    containment (v.*c.*p), and error bursts (two errors at distance
    ≤2: e(e|.e)). Spark has no MATCH_RECOGNIZE; this is the idiomatic
    relational encoding of per-entity sequence patterns (q186's array
    fold generalized from a fixed step list to arbitrary regular
    expressions), with a per-day rollup. Both engines apply the same
    RE2-compatible patterns to byte-identical strings, so the CEP
    screen itself is hash-checked.

    Scale: one shuffle on (user, day) builds the path (array_sort over
    collect_list — per-entity sequences are session-sized); the regex
    evaluation is row-local on |entities| rows, and the rollup is
    day-grained. Paths are bounded by per-user-day event counts; a
    pathological entity would cap via the q24-style sampling guard
    upstream."""
    ev = load(spark, sf_dir, "events")
    paths = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "ts",
                                "event_id",
                                F.substring("event_type", 1, 1).alias(
                                    "ini"
                                ),
                            )
                        )
                    ),
                    lambda s: s.ini,
                ),
                "",
            ).alias("path")
        )
    )
    return paths.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_paths"),
        F.sum(
            F.when(F.col("path").rlike("^v+c+p+$"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_pure_funnel"),
        F.sum(F.when(F.col("path").rlike("v.*c.*p"), 1).otherwise(0))
        .cast("long")
        .alias("n_contains_funnel"),
        F.sum(F.when(F.col("path").rlike("e(e|.e)"), 1).otherwise(0))
        .cast("long")
        .alias("n_error_bursts"),
        F.max(F.length("path")).cast("long").alias("max_path_len"),
    )



@register(
    "q423_markov_attribution",
    allow_non_equi=(
        "the removal-scenario spine (|channels|+1 rows) crossJoins the "
        "channel-grain transition-count table to build per-scenario "
        "matrices; every iteration is a keyed equi-join at (scenario, "
        "state) grain"
    ),
    build_time_exec=(
        "the 30 value-iteration rounds localCheckpoint the (scenario, "
        "state) vector each round (matrix grain, ~36 rows) so the "
        "journey-extraction subtree is executed once, not replicated "
        "into every round's lineage"
    ),
    oracle=_markov_attr_oracle(),
)
def q423_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X353 — MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl et al. 2014,
    the data-driven alternative to first/last-touch q209/q262): user-day
    journeys become a first-order Markov chain over channels with
    absorbing CONV/NULL states (paths truncate at the first purchase),
    and each channel's credit is its REMOVAL EFFECT — how much the
    absorbing-into-CONV probability from START drops when that
    channel's transitions redirect to NULL. Absorption probabilities
    come from 30 rounds of value iteration run SIMULTANEOUSLY for the
    base chain and every removal scenario in one (scenario, state)
    relation — each round is one equi-join + one aggregate on a
    ≤(|channels|+1)·|states| grain table. All chain arithmetic is
    integer: transition probabilities quantize to ppm (n_ij·1e6 DIV
    n_i), state values iterate in nano-units with floor division, so
    30 rounds drift < 3e-8 — far inside the 1e-6 publication grain —
    and no float summation order exists anywhere.

    Scale: journey extraction is two (user, day)-partitioned windows
    (the q141/q209 shape); everything after lives at matrix grain
    (~36 rows), so the 30 chained joins cost milliseconds regardless
    of event volume. Checkpoint mode is conf-driven
    (operators/checkpointing.py): set ``spark_graft.checkpoint_dir``
    for reliable ``checkpoint()`` on a real cluster (localCheckpoint
    state dies with a lost executor)."""
    n, ni, path = _journey_transitions(spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    rems = (
        ev.filter(F.col("event_type") != "purchase")
        .select(F.col("event_type").alias("rem"))
        .distinct()
        .unionAll(
            ev.sparkSession.range(1).select(F.lit("none").alias("rem"))
        )
    )
    t = (
        n.join(ni, "i")
        .crossJoin(F.broadcast(rems))
        .select(
            "rem",
            "i",
            F.when(F.col("j") == F.col("rem"), "NULL").otherwise(F.col("j")).alias("j"),
            F.expr("n_ij * 1000000 DIV n_i").alias("q_e6"),
        )
        .groupBy("rem", "i", "j")
        .agg(F.sum("q_e6").cast("long").alias("q_e6"))
    )
    # The 30 value-iteration rounds run on the DRIVER over the collected
    # matrix (round 10): the relational loop was 30 Spark jobs over a
    # channel-vocabulary-bounded relation (~250 rows at ANY corpus
    # scale) — pure scheduler overhead, measured 7.5 s isolated at
    # sf0.01 vs ~2 s with the collect. Exact-arithmetic mirror and the
    # boundedness argument: _shared._absorb_iterate_start. The heavy
    # part — journey extraction and the transition rollup — stays fully
    # distributed and executes ONCE (the collect is its only action).
    t_rows = [(r[0], r[1], r[2], r[3]) for r in t.collect()]
    start_vals = _absorb_iterate_start(t_rows, rounds=30)
    start = spark.createDataFrame(
        [(s, int(pv)) for s, pv in start_vals], "rem string, p_e9 bigint"
    )
    base = start.filter(F.col("rem") == "none").select(
        F.col("p_e9").alias("base_e9")
    )
    removed = start.filter(F.col("rem") != "none").select(
        F.col("rem").alias("channel"), F.col("p_e9").alias("removed_e9")
    )
    touches = path.groupBy(F.col("event_type").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_touches")
    )
    eff = (
        removed.join(F.broadcast(touches), "channel", "left")
        .crossJoin(F.broadcast(base))
        .select(
            "channel",
            F.coalesce("n_touches", F.lit(0)).cast("long").alias("n_touches"),
            (F.col("base_e9").cast("double") / 1e9).alias("p_base"),
            (F.col("removed_e9").cast("double") / 1e9).alias("p_removed"),
            F.greatest(
                (F.col("base_e9") - F.col("removed_e9")).cast("double")
                / F.col("base_e9"),
                F.lit(0.0),
            ).alias("removal_effect"),
        )
    )
    wall = Window.partitionBy()
    return eff.select(
        "channel",
        "n_touches",
        F.round("p_base", 6).alias("p_conv_base"),
        F.round("p_removed", 6).alias("p_conv_removed"),
        F.round("removal_effect", 6).alias("removal_effect"),
        F.round(
            F.col("removal_effect")
            / F.expr("NULLIF(SUM(removal_effect) OVER (), 0.0)"),
            6,
        ).alias("attribution_share"),
    )



@register(
    "q430_shapley_attribution",
    allow_non_equi=(
        "the 16-row coalition-mask spine crossJoins the channel-grain "
        "transition table; the Shapley pair join is a bit-predicate "
        "join between two 16-row value relations"
    ),
    build_time_exec=(
        "the 30 value-iteration rounds localCheckpoint the (mask, "
        "state) vector each round (16 coalitions x ~7 states) so the "
        "journey-extraction subtree executes once"
    ),
    oracle=_shapley_attr_oracle(),
)
def q430_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X360 — EXACT SHAPLEY CHANNEL ATTRIBUTION over Markov coalition
    values (Shapley 1953 applied to journey attribution; the axiomatic
    upgrade of q423's removal effects, which are a single marginal —
    Shapley averages the marginal over EVERY coalition): with 4
    channels the 2^4 = 16 coalition chains are small enough to solve
    EXACTLY — every subset S runs the same absorbing-chain value
    iteration as q423 simultaneously in one (mask, state) relation
    (channels outside S redirect to NULL), and each channel's value is
    φ_c = Σ_S |S|!(3−|S|)!/4! · (v(S∪c) − v(S)), folded with INTEGER
    weights (×4! = {6,2,2,6}) over nano-unit chain values, so the
    whole computation is exact int64 until the two published ratios.
    Efficiency holds by construction: Σφ_c = v(full) − v(∅), both
    published for audit.

    Scale: journey extraction once (two user-day windows); 30
    iteration rounds at 16·|states| ≈ 112-row grain; the Shapley fold
    joins two 16-row relations. Channel count is the only exponential
    axis (2^k coalitions) — exact Shapley is for small k by nature;
    beyond ~10 channels sample permutations instead. Checkpoint mode is
    conf-driven (operators/checkpointing.py): set
    ``spark_graft.checkpoint_dir`` for reliable ``checkpoint()`` on a
    real cluster (localCheckpoint state dies with a lost executor)."""
    from noaa_ais_glue_lakehouse_spark.operators.checkpointing import (
        iteration_checkpointer,
    )

    _ckpt = iteration_checkpointer(spark)
    n, ni, path = _journey_transitions(spark, sf_dir)
    chan = (
        path.select(F.col("event_type").alias("channel"))
        .distinct()
        .select(
            "channel",
            (F.row_number().over(Window.orderBy("channel")) - 1).cast("long").alias("bit"),
        )
    )
    masks = spark.range(0, 16).select(F.col("id").cast("long").alias("mask"))
    t = (
        n.join(ni, "i")
        .join(
            F.broadcast(chan.select(F.col("channel").alias("j"), "bit")),
            "j",
            "left",
        )
        .crossJoin(F.broadcast(masks))
        .select(
            "mask",
            "i",
            F.when(
                F.col("bit").isNotNull()
                & (F.expr("(mask >> bit) % 2") == 0),
                "NULL",
            )
            .otherwise(F.col("j"))
            .alias("j"),
            F.expr("n_ij * 1000000 DIV n_i").alias("q_e6"),
        )
        .groupBy("mask", "i", "j")
        .agg(F.sum("q_e6").cast("long").alias("q_e6"))
    )
    # 30 value-iteration rounds on the DRIVER over the collected
    # (mask, i, j) matrix — 16 coalitions × ~10 states × ~10 targets is
    # bounded by the channel vocabulary, never by event volume (the
    # q423 round-10 change; exact-arithmetic mirror and measurement in
    # _shared._absorb_iterate_start). Journey extraction and the
    # transition rollup stay distributed and execute once.
    t_rows = [(r[0], r[1], r[2], r[3]) for r in t.collect()]
    start_vals = _absorb_iterate_start(t_rows, rounds=30)
    v = spark.createDataFrame(
        [(int(m), int(pv)) for m, pv in start_vals],
        "mask bigint, p_e9 bigint",
    )
    v0 = v.select(F.col("mask").alias("s"), F.col("p_e9").alias("v0"))
    v1 = v.select(F.col("mask").alias("s1"), F.col("p_e9").alias("v1"))
    pairs = (
        chan.crossJoin(F.broadcast(v0))
        .filter(F.expr("(s >> bit) % 2") == 0)
        .withColumn("s1", F.col("s") + F.expr("CAST(1 AS BIGINT) << bit"))
        .join(F.broadcast(v1), "s1")
        .select(
            "channel",
            F.expr(
                "(s % 2) + ((s >> 1) % 2) + ((s >> 2) % 2) + ((s >> 3) % 2)"
            ).alias("pc"),
            (F.col("v1") - F.col("v0")).alias("delta_e9"),
        )
    )
    phi = pairs.groupBy("channel").agg(
        F.sum(
            F.expr(
                "(CASE pc WHEN 0 THEN 6 WHEN 1 THEN 2"
                " WHEN 2 THEN 2 ELSE 6 END) * delta_e9"
            )
        )
        .cast("long")
        .alias("num_e9")
    )
    touches = path.groupBy(F.col("event_type").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_touches")
    )
    tot = phi.agg(F.sum("num_e9").cast("long").alias("tot_e9"))
    vref = v.agg(
        F.max(F.when(F.col("mask") == 15, F.col("p_e9"))).alias("v_full"),
        F.max(F.when(F.col("mask") == 0, F.col("p_e9"))).alias("v_none"),
    )
    return (
        phi.join(F.broadcast(touches), "channel", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vref))
        .select(
            "channel",
            F.coalesce("n_touches", F.lit(0)).cast("long").alias("n_touches"),
            F.round(F.col("num_e9").cast("double") / 24.0 / 1e9, 6).alias(
                "shapley_value"
            ),
            F.round(
                F.col("num_e9").cast("double")
                / F.expr("NULLIF(tot_e9, 0)"),
                6,
            ).alias("shapley_share"),
            F.round(F.col("v_full").cast("double") / 1e9, 6).alias("p_conv_full"),
            F.round(F.col("v_none").cast("double") / 1e9, 6).alias("p_conv_none"),
        )
    )



@register(
    "q443_cramers_v",
    allow_non_equi=(
        "row-margin, column-margin and grand-total aggregates attach "
        "onto the bounded contingency cells by broadcast equi/cross "
        "joins at cell grain"
    ),
    oracle="""
    WITH cells AS (
      SELECT event_type, dayofweek(CAST(ts AS DATE)) AS wd,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY event_type, wd
    ), rows_ AS (
      SELECT event_type, CAST(SUM(o) AS BIGINT) AS ro FROM cells
      GROUP BY event_type
    ), cols_ AS (
      SELECT wd, CAST(SUM(o) AS BIGINT) AS co FROM cells GROUP BY wd
    ), tot AS (
      SELECT CAST(SUM(o) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS r,
             CAST(COUNT(DISTINCT wd) AS BIGINT) AS c
      FROM cells
    ), terms AS (
      SELECT CAST(ROUND(
               (o - CAST(ro AS DOUBLE) * co / n)
               * (o - CAST(ro AS DOUBLE) * co / n)
               / (CAST(ro AS DOUBLE) * co / n) * 1000000) AS BIGINT)
               AS t_e6
      FROM cells JOIN rows_ USING (event_type)
      JOIN cols_ USING (wd), tot
    ), chi AS (
      SELECT CAST(SUM(t_e6) AS BIGINT) AS chi2_e6 FROM terms
    )
    SELECT tot.n AS n_events, tot.r AS n_rows, tot.c AS n_cols,
           ROUND(CAST(chi.chi2_e6 AS DOUBLE) / 1e6, 6) AS chi2,
           ROUND(SQRT(CAST(chi.chi2_e6 AS DOUBLE) / 1e6
                 / (tot.n * (LEAST(tot.r, tot.c) - 1))), 6) AS cramers_v,
           ROUND(SQRT(GREATEST(
                   CAST(chi.chi2_e6 AS DOUBLE) / 1e6 / tot.n
                   - CAST((tot.r - 1) * (tot.c - 1) AS DOUBLE)
                     / (tot.n - 1), 0.0)
                 / LEAST(
                     tot.r - CAST((tot.r - 1) * (tot.r - 1) AS DOUBLE)
                       / (tot.n - 1),
                     tot.c - CAST((tot.c - 1) * (tot.c - 1) AS DOUBLE)
                       / (tot.n - 1)) ), 6) AS cramers_v_corrected
    FROM chi, tot
    """,
)
def q443_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X373 — CRAMÉR'S V with the Bergsma–Wicher bias correction
    (Bergsma 2013): the EFFECT-SIZE reading of the type × weekday
    contingency whose chi-square q143 tests and whose mutual
    information q339 scores — V normalizes χ² to [0,1] so association
    strength is comparable across tables of different shape, and the
    bias-corrected Ṽ removes the positive bias that makes naive V
    overstate association in finite samples (the q438 move —
    effect sizes next to p-values — applied to categorical
    association). Each cell's χ² term quantizes to ppm integers
    rowwise (expected counts are identical-text doubles over exact
    margins), so the χ² fold is order-free int64.

    Scale: one cell-grain aggregate (bounded |types|×7), margin and
    total attaches at that grain, a 1-row publish."""
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.dayofweek(F.to_date("ts")) - 1).cast("long").alias("wd")
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    rows_ = cells.groupBy("event_type").agg(F.sum("o").cast("long").alias("ro"))
    cols_ = cells.groupBy("wd").agg(F.sum("o").cast("long").alias("co"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("event_type").cast("long").alias("r"),
        F.countDistinct("wd").cast("long").alias("c"),
    )
    terms = (
        cells.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "wd")
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                "CAST(ROUND((o - CAST(ro AS DOUBLE) * co / n)"
                " * (o - CAST(ro AS DOUBLE) * co / n)"
                " / (CAST(ro AS DOUBLE) * co / n) * 1000000) AS BIGINT)"
            ).alias("t_e6")
        )
    )
    chi = terms.agg(F.sum("t_e6").cast("long").alias("chi2_e6"))
    return chi.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_events"),
        F.col("r").alias("n_rows"),
        F.col("c").alias("n_cols"),
        F.round(F.col("chi2_e6").cast("double") / 1e6, 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2_e6").cast("double")
                / 1e6
                / (F.col("n") * (F.least("r", "c") - 1))
            ),
            6,
        ).alias("cramers_v"),
        F.round(
            F.sqrt(
                F.greatest(
                    F.col("chi2_e6").cast("double") / 1e6 / F.col("n")
                    - ((F.col("r") - 1) * (F.col("c") - 1)).cast("double")
                    / (F.col("n") - 1),
                    F.lit(0.0),
                )
                / F.least(
                    F.col("r")
                    - ((F.col("r") - 1) * (F.col("r") - 1)).cast("double")
                    / (F.col("n") - 1),
                    F.col("c")
                    - ((F.col("c") - 1) * (F.col("c") - 1)).cast("double")
                    / (F.col("n") - 1),
                )
            ),
            6,
        ).alias("cramers_v_corrected"),
    )




@register(
    "q460_behavior_edit_distance",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
             substr(event_type, 1, 1) AS ch
      FROM events
    ), sig AS (
      SELECT user_id, day,
             string_agg(ch, '' ORDER BY ts, event_id) AS s
      FROM e GROUP BY user_id, day
    ), lagged AS (
      SELECT user_id, day, s,
             LAG(s) OVER (PARTITION BY user_id ORDER BY day) AS prev_s,
             LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day
      FROM sig
    )
    SELECT user_id, day,
           CAST(levenshtein(prev_s, s) AS BIGINT) AS edit_dist,
           CAST(len(s) AS BIGINT) AS n_today,
           CAST(len(prev_s) AS BIGINT) AS n_prev,
           ROUND(CAST(levenshtein(prev_s, s) AS DOUBLE)
                 / GREATEST(len(s), len(prev_s)), 6) AS drift
    FROM lagged
    WHERE prev_s IS NOT NULL AND prev_day = day - 1
    """,
)
def q460_behavior_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X390 — DAY-OVER-DAY BEHAVIORAL DRIFT per user by sequence edit
    distance: each (user, day)'s ordered event-type initials form a
    signature string; consecutive-day Levenshtein (normalized by the
    longer signature) measures how much the user's behavioral PROGRAM
    changed — 0 = same routine, 1 = completely different — the
    session-shape drift signal that count-based churn metrics (q199)
    and transition matrices (q97) both smooth away. Signature order is
    total ((ts, event_id) tiebreak), the distance is Spark's native
    levenshtein (JVM DP kernel, no UDF), and only adjacent-day pairs
    compare (prev_day = day − 1), so gaps never fake drift.

    Scale: one (user, day) ordered aggregation, one per-user lag, a
    row-local DP on day-length strings — linear in events; no pairwise
    user explosion anywhere."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        F.substring("event_type", 1, 1).alias("ch"),
    )
    sig = e.groupBy("user_id", "day").agg(
        F.concat_ws(
            "",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("ts", "event_id", "ch"))
                ),
                lambda r: r["ch"],
            ),
        ).alias("s")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    lagged = sig.select(
        "user_id",
        "day",
        "s",
        F.lag("s").over(w).alias("prev_s"),
        F.lag("day").over(w).alias("prev_day"),
    ).filter(
        F.col("prev_s").isNotNull()
        & (F.col("prev_day") == F.date_sub(F.col("day"), 1))
    )
    dist = F.levenshtein("prev_s", "s")
    return lagged.select(
        "user_id",
        "day",
        dist.cast("long").alias("edit_dist"),
        F.length("s").cast("long").alias("n_today"),
        F.length("prev_s").cast("long").alias("n_prev"),
        F.round(
            dist.cast("double")
            / F.greatest(F.length("s"), F.length("prev_s")),
            6,
        ).alias("drift"),
    )


@register(
    "q461_markov_entropy_rate",
    allow_non_equi=(
        "one 1-row total-transitions scalar crossJoin-attached onto "
        "the |types|-row per-state entropy table"
    ),
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS cur, ts, event_id,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), big AS (
      SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n_ij
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ), ni AS (
      SELECT cur, CAST(SUM(n_ij) AS BIGINT) AS n_i FROM big GROUP BY cur
    ), terms AS (
      SELECT b.cur, b.nxt,
             -(CAST(b.n_ij AS DOUBLE) / ni.n_i)
               * LOG2(CAST(b.n_ij AS DOUBLE) / ni.n_i) AS t
      FROM big b JOIN ni USING (cur)
    ), st AS (
      SELECT cur,
             list_reduce(list_prepend(0.0, list(t ORDER BY nxt)),
               (acc, x) -> acc + x) AS h_cond
      FROM terms GROUP BY cur
    ), tot AS (SELECT CAST(SUM(n_i) AS BIGINT) AS n FROM ni)
    SELECT st.cur AS state, ni.n_i AS n_transitions,
           ROUND(st.h_cond, 6) AS h_cond_bits,
           ROUND(CAST(ni.n_i AS DOUBLE) / n, 6) AS p_state,
           ROUND(st.h_cond * ni.n_i / n, 6) AS rate_contribution_bits
    FROM st JOIN ni USING (cur), tot
    """,
)
def q461_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X391 — EMPIRICAL ENTROPY RATE of the per-user event-type Markov
    chain (plug-in estimator over q97's bigram counts): per state i the
    conditional entropy H_i = −Σ_j p(j|i)·log2 p(j|i) and its
    occupancy-weighted contribution — Σ_i contributions is the chain's
    bits-per-event. This is the PREDICTABILITY budget of user behavior:
    near 0 bits means next actions are deterministic given the current
    one (q241's next-event predictor will look great for free); near
    log2(k) means transition features carry nothing and sequence models
    are wasted capacity. Bigram counts are exact integers at matrix
    grain; each H_i folds over its ≤k successor terms in sorted-j order
    (the q448 fold discipline), so both engines sum identical doubles
    identically.

    Scale: one per-user lead window (entity-partitioned), one matrix-
    grain aggregate; everything after lives on ≤k² rows."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    big = seq.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("n_ij")
    )
    wcur = Window.partitionBy("cur")
    p = F.col("n_ij").cast("double") / F.sum("n_ij").over(wcur)
    big = big.withColumn("term", -p * F.log2(p))
    st = big.groupBy("cur").agg(
        F.sum("n_ij").cast("long").alias("n_i"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("nxt", F.col("term").alias("t")))),
            F.lit(0.0),
            lambda acc, r: acc + r["t"],
        ).alias("h_cond"),
    )
    tot = st.agg(F.sum("n_i").cast("long").alias("n"))
    return st.crossJoin(F.broadcast(tot)).select(
        F.col("cur").alias("state"),
        F.col("n_i").alias("n_transitions"),
        F.round("h_cond", 6).alias("h_cond_bits"),
        F.round(F.col("n_i").cast("double") / F.col("n"), 6).alias("p_state"),
        F.round(F.col("h_cond") * F.col("n_i") / F.col("n"), 6).alias(
            "rate_contribution_bits"
        ),
    )


@register(
    "q483_hits_bipartite",
    allow_non_equi=(
        "1-row broadcast max-score scalars crossJoin-attached for the "
        "per-round integer renormalization - group-cardinality, never "
        "row-level"
    ),
    oracle="""
    WITH edges AS (
      SELECT user_id AS u, event_type AS t,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY u, t
    ), a1 AS (
      SELECT t, CAST(SUM(n) * 1000000 AS BIGINT) AS a FROM edges GROUP BY t
    ), ma1 AS (SELECT MAX(a) AS m FROM a1),
    a1n AS (
      SELECT t, CAST(a * 1000000 // m AS BIGINT) AS a
      FROM a1 CROSS JOIN ma1
    ), h1 AS (
      SELECT e.u, CAST(SUM(e.n * a1n.a) AS BIGINT) AS h
      FROM edges e JOIN a1n ON a1n.t = e.t GROUP BY e.u
    ), mh1 AS (SELECT MAX(h) AS m FROM h1),
    h1n AS (
      SELECT u, CAST(h * 1000000 // m AS BIGINT) AS h
      FROM h1 CROSS JOIN mh1
    ), a2 AS (
      SELECT e.t, CAST(SUM(e.n * h1n.h) AS BIGINT) AS a,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM edges e JOIN h1n ON h1n.u = e.u GROUP BY e.t
    ), ma2 AS (SELECT MAX(a) AS m FROM a2)
    SELECT t AS event_type,
           CAST(a * 1000000 // m AS BIGINT) AS authority_e6,
           n_users
    FROM a2 CROSS JOIN ma2 ORDER BY t
    """,
)
def q483_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X413 — HITS HUBS & AUTHORITIES (Kleinberg 1999) on the
    user↔event-type bipartite graph, 2 full mutual-reinforcement
    rounds: an event type is authoritative when engaged by high-hub
    users, a user is a hub when engaging authoritative types —
    pagerank's (q179) bipartite sibling, the engagement-quality
    counterpart to raw frequency. Scores stay EXACT int64 in 10⁻⁶
    units the whole way: each round is one weighted-sum rollup
    followed by an integer max-renormalization (score·10⁶ DIV max, the
    q413 staged-DIV discipline), so both engines materialize identical
    scores with no float drift across rounds. Renorm bound: Σn·h per
    round ≤ |events|·10⁶, inside int64 up to ~9×10¹² event rows.

    Scale: rounds are (type)- and (user)-grain weighted rollups with
    map-side combine; the per-round max is a 1-row broadcast; the edge
    relation aggregates once to (user, type) grain and is reused."""
    ev = load(spark, sf_dir, "events")
    edges = ev.groupBy(
        F.col("user_id").alias("u"), F.col("event_type").alias("t")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    a1 = edges.groupBy("t").agg(
        (F.sum("n") * 1000000).cast("long").alias("a")
    )
    ma1 = a1.agg(F.max("a").alias("m"))
    a1n = a1.join(F.broadcast(ma1)).select(
        "t", F.expr("CAST(a * 1000000 DIV m AS BIGINT)").alias("a")
    )
    h1 = (
        edges.join(F.broadcast(a1n), "t")
        .groupBy("u")
        .agg(F.sum(F.col("n") * F.col("a")).cast("long").alias("h"))
    )
    mh1 = h1.agg(F.max("h").alias("m"))
    h1n = h1.join(F.broadcast(mh1)).select(
        "u", F.expr("CAST(h * 1000000 DIV m AS BIGINT)").alias("h")
    )
    a2 = (
        edges.join(h1n, "u")
        .groupBy("t")
        .agg(
            F.sum(F.col("n") * F.col("h")).cast("long").alias("a"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )
    )
    ma2 = a2.agg(F.max("a").alias("m"))
    return (
        a2.join(F.broadcast(ma2))
        .select(
            F.col("t").alias("event_type"),
            F.expr("CAST(a * 1000000 DIV m AS BIGINT)").alias(
                "authority_e6"
            ),
            "n_users",
        )
        .orderBy("event_type")
    )

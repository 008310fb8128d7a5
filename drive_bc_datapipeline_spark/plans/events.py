"""Event plans (SURVEY §2 A, B, C5–C9, J3): the reference's ETL +
analytics surface, re-expressed on the driver's ``events`` table.

Reference parity map:
- etl.py:9-27 (clean_df: dropDuplicates, explode, to_timestamp, nested
  projection) → A1/A2/A3/A4
- simple-analyses.py:10-33 (by_group counts with derived y/m/d/h) → B1–B5
- athena.sql:19-29 (grouped counts) → B1/B2
- etl-events.py streaming windowed semantics → B6/J3 batch twins
- cluster.py / ml-sparkml.py feature prep analogs live in operators/

Scale notes (100 TB of events): every aggregation here is a single
shuffle on its group key; time-derived keys (year/month/day/hour) are
computed map-side so partial aggregation collapses rows before the
exchange. Sessionization and as-of are window functions over
``(user_id, ts)`` — one shuffle on user_id, linear scan within
partition; skewed users would be handled by AQE skew split.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from drive_bc_datapipeline_spark.session import local_frame, pin
from drive_bc_datapipeline_spark.tables import spread
from drive_bc_datapipeline_spark.plans.registry import (
    query,
    r2,
    r2_sql,
    r4,
    r4_sql,
    r6,
    r6_sql,
    t,
)

# --------------------------------------------------------------------------
# A1 — keyed dedup + timestamp/JSON normalization (etl.py clean_df parity).
# Deterministic keep-first: row_number over (event_id) ordered by ts.
# --------------------------------------------------------------------------

ETL_CLEAN_ORACLE = """
SELECT event_id, user_id, event_type, ts, value,
       TRY_CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS INTEGER) AS k,
       CAST(year(ts) AS INTEGER)  AS year,
       CAST(month(ts) AS INTEGER) AS month,
       CAST(day(ts) AS INTEGER)   AS day,
       CAST(hour(ts) AS INTEGER)  AS hour
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts, user_id) AS rn
  FROM events
)
WHERE rn = 1
"""


@query("etl_events_clean", ETL_CLEAN_ORACLE)
def etl_events_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_id").orderBy("ts", "user_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            "value",
            F.from_json("props", "k INT").getField("k").alias("k"),
            F.year("ts").cast("int").alias("year"),
            F.month("ts").cast("int").alias("month"),
            F.dayofmonth("ts").cast("int").alias("day"),
            F.hour("ts").cast("int").alias("hour"),
        )
    )


# --------------------------------------------------------------------------
# A2 — explode an array column into rows (etl.py explode(roads/areas)
# parity) — here: tokenize documents and count tokens.
# --------------------------------------------------------------------------

EXPLODE_ORACLE = """
SELECT token, COUNT(*) AS cnt
FROM (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
)
WHERE token <> ''
GROUP BY token
"""


@query("etl_explode_tokens", EXPLODE_ORACLE)
def etl_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# --------------------------------------------------------------------------
# A3 — schema-on-read JSON extraction + aggregation (etl-events.py
# from_json parity).
# --------------------------------------------------------------------------

JSON_EXTRACT_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(TRY_CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS INTEGER)) AS BIGINT) AS sum_k,
       ROUND(AVG(TRY_CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS INTEGER)), 4) AS avg_k
FROM events
GROUP BY event_type
"""


@query("etl_json_extract", JSON_EXTRACT_ORACLE)
def etl_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    k = F.from_json("props", "k INT").getField("k")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
    )


# --------------------------------------------------------------------------
# A4 — dropna/filter projection pipeline (etl-historical.py dropna parity).
# Passthrough columns are untouched doubles/timestamps → exact parity.
# --------------------------------------------------------------------------

DROPNA_ORACLE = """
SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE value IS NOT NULL
  AND value > 50.0
  AND event_type IN ('click', 'purchase', 'view')
"""


@query("etl_dropna_filter", DROPNA_ORACLE)
def etl_dropna_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.dropna(subset=["value"])
        .filter(
            (F.col("value") > 50.0)
            & F.col("event_type").isin("click", "purchase", "view")
        )
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


# --------------------------------------------------------------------------
# B — group-by analytics (simple-analyses.py by_group + athena.sql parity).
# --------------------------------------------------------------------------


@query(
    "counts_by_type",
    "SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type",
)
def counts_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))


def counts_by_type_month_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 composite rollup — de-registered in r9 like B3/B4: the
    derived-column grouped count is the same scan + one-shuffle shape
    as B1/B3, so its slot under the 200-key cap went to G19's
    ``hybrid_rrf_search_topk`` (plans/embeddings.py). Still exercised
    by the K7 pipeline (jobs.py DEFAULT_JOBS) and tests/test_jobs.py."""
    e = t(spark, sf_dir, "events")
    return (
        e.withColumn("month", F.month("ts").cast("int"))
        .withColumn("year", F.year("ts").cast("int"))
        .groupBy("event_type", "month", "year")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def counts_by_day_month_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 daily rollup — deliberately NOT a registry key since round 9:
    it is a near-twin of counts_by_type_month_year/counts_by_hour (same
    scan, same one-shuffle grouped-count shape), and its registry slot
    was ceded to ``exact_auc_purchase`` (plans/ml.py) so the 200-key
    cap and the 4-round rotation bound hold without registry growth.
    Still exercised by the K7 batch pipeline (jobs.py DEFAULT_JOBS) and
    tests/test_jobs.py."""
    e = t(spark, sf_dir, "events")
    return (
        e.withColumn("day", F.dayofmonth("ts").cast("int"))
        .withColumn("month", F.month("ts").cast("int"))
        .withColumn("year", F.year("ts").cast("int"))
        .groupBy("day", "month", "year")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def counts_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 hour-of-day histogram — de-registered in r9 like B3: the
    hour-grouped count shape is covered by B6/B9/B12 and the grouped
    count itself by B1/B2, so its slot under the 200-key cap went to
    F16's ``substring_dup_mass_by_source`` (plans/documents.py). Still
    exercised by the K7 pipeline (jobs.py) and tests/test_jobs.py."""
    e = t(spark, sf_dir, "events")
    return (
        e.withColumn("hour", F.hour("ts").cast("int"))
        .groupBy("hour")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "top_users_by_events",
    """
    SELECT user_id, COUNT(*) AS cnt
    FROM events GROUP BY user_id
    ORDER BY cnt DESC, user_id
    LIMIT 10
    """,
)
def top_users_by_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("user_id"))
        .limit(10)
    )


@query(
    "hourly_timeseries",
    """
    SELECT date_trunc('hour', ts) AS hour_ts,
           COUNT(*) AS cnt,
           ROUND(AVG(value), 4) AS avg_value,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY 1
    """,
)
def hourly_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.withColumn("hour_ts", F.date_trunc("hour", "ts"))
        .groupBy("hour_ts")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# B7 — gap-based sessionization (30-min inactivity gap). Exact integer
# microsecond arithmetic on both engines → deterministic parity.
# --------------------------------------------------------------------------

SESSIONIZE_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_id, value,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
         ) AS gap_us
  FROM events
), flagged AS (
  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END AS new_session
  FROM ordered
), sessions AS (
  SELECT *, SUM(new_session) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS UNBOUNDED PRECEDING
  ) AS session_seq
  FROM flagged
)
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS session_value
FROM sessions
GROUP BY user_id, session_seq
"""


@query("sessionize_events", SESSIONIZE_ORACLE)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_session = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    session_seq = F.sum(new_session).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.withColumn("session_seq", session_seq.cast("long"))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
    )


# --------------------------------------------------------------------------
# B8 — per-type value statistics (exact interpolated median).
# --------------------------------------------------------------------------

VALUE_STATS_ORACLE = """
SELECT event_type,
       ROUND(MIN(value), 4) AS min_value,
       ROUND(MAX(value), 4) AS max_value,
       ROUND(AVG(value), 4) AS avg_value,
       ROUND(STDDEV_SAMP(value), 4) AS std_value,
       ROUND(quantile_cont(value, 0.5), 4) AS median_value
FROM events GROUP BY event_type
"""


@query("event_value_stats", VALUE_STATS_ORACLE)
def event_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.stddev_samp("value"), 4).alias("std_value"),
        F.round(F.percentile("value", 0.5), 4).alias("median_value"),
    )


# --------------------------------------------------------------------------
# C5 / C6 — anti & semi joins.
# --------------------------------------------------------------------------


@query(
    "anti_join_customers",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "semi_join_parts",
    """
    SELECT p_partkey, p_name FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    """,
)
def semi_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    l = t(spark, sf_dir, "lineitem")
    return p.join(l, p.p_partkey == l.l_partkey, "left_semi").select(
        "p_partkey", "p_name"
    )


# --------------------------------------------------------------------------
# C7 — as-of join: for each purchase event, the most recent prior click
# of the same user. Implemented scalably as union + last_value window
# (one shuffle on user_id, no pairwise join) — the standard distributed
# as-of pattern; a naive range join would explode at 100 TB.
# --------------------------------------------------------------------------

ASOF_ORACLE = """
SELECT p.event_id, p.user_id, p.ts,
       (SELECT MAX(c.ts) FROM events c
        WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
       ) AS last_click_ts
FROM events p
WHERE p.event_type = 'purchase'
"""


@query("asof_join_orders_events", ASOF_ORACLE)
def asof_join_orders_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    both = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        # click sorts before purchase at equal ts → inclusive `<=` semantics
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("kind"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        both.withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


# --------------------------------------------------------------------------
# C8 — exact distinct per group (+ approx HLL twin, rows-only checked).
# --------------------------------------------------------------------------


@query(
    "distinct_users_per_type",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )


APPROX_DISTINCT_ORACLE = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       1 AS sketch_ok
FROM events GROUP BY event_type
"""


@query("approx_distinct_users", APPROX_DISTINCT_ORACLE)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct — the 100 TB path where exact distinct's
    full shuffle is not affordable.

    The raw HLL estimate is engine-specific, so it can't be value-hashed
    against DuckDB. Instead the query emits an ERROR-BOUNDED check the
    oracle can reproduce: ``sketch_ok`` = 1 iff the HLL estimate is
    within 10% of the exact count (5x the configured rsd=0.02 — a
    miss means the sketch is broken, not unlucky). The oracle computes
    the exact count and asserts ``sketch_ok = 1``; a drifting sketch
    flips the flag and fails the hash. The exact twin lives only in
    this verification query — the production path is the sketch alone.
    """
    e = t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_approx"),
    )
    return agg.select(
        "event_type",
        "n_users",
        (
            F.abs(F.col("n_approx") - F.col("n_users"))
            <= 0.10 * F.greatest(F.col("n_users"), F.lit(1))
        )
        .cast("int")
        .alias("sketch_ok"),
    )


# --------------------------------------------------------------------------
# C9 — ROLLUP multi-level aggregate (NULL markers coalesced to 'ALL' so
# the hash never depends on engine NULL conventions).
# --------------------------------------------------------------------------

ROLLUP_ORACLE = """
SELECT COALESCE(o_orderstatus, 'ALL')   AS order_status,
       COALESCE(o_orderpriority, 'ALL') AS order_priority,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


@query("rollup_orders", ROLLUP_ORACLE)
def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("order_status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("order_priority"),
            "n_orders",
            "total_price",
        )
    )


# --------------------------------------------------------------------------
# J3 — batch twin of the streaming tumbling-window aggregation
# (streaming/pipeline.py runs the same plan via readStream; this entry
# proves the window() semantics against the oracle).
# --------------------------------------------------------------------------

STREAMING_WINDOW_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS cnt
FROM events
GROUP BY 1, 2, 3
"""


@query("streaming_hourly_counts", STREAMING_WINDOW_ORACLE)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "cnt",
        )
    )


# --------------------------------------------------------------------------
# B9 — pivot: hour-of-day × event_type count matrix (simple-analyses.py
# computed these as separate grouped counts; the pivot is the same data
# as one wide frame). Explicit value list → no extra distinct-scan job
# and a deterministic column set.
# --------------------------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

PIVOT_ORACLE = f"""
SELECT CAST(hour(ts) AS INTEGER) AS hour,
       {", ".join(
           f"CAST(SUM(CASE WHEN event_type = '{t_}' THEN 1 ELSE 0 END) AS BIGINT) AS {t_}"
           for t_ in EVENT_TYPES
       )}
FROM events
GROUP BY 1
"""


@query("pivot_type_by_hour", PIVOT_ORACLE)
def pivot_type_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.select(F.hour("ts").cast("int").alias("hour"), "event_type")
        .groupBy("hour")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )


# --------------------------------------------------------------------------
# B10 — CUBE: all grouping-set combinations of (event_type, hour-bucket)
# in one pass (rollup_orders covers ROLLUP; CUBE adds the cross terms).
# --------------------------------------------------------------------------

CUBE_ORACLE = """
SELECT event_type,
       CAST(hour(ts) AS INTEGER) / 6 AS hour_bucket,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY CUBE (event_type, CAST(hour(ts) AS INTEGER) / 6)
"""


@query("cube_type_hourbucket", CUBE_ORACLE)
def cube_type_hourbucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            (F.hour("ts").cast("int") / 6).alias("hour_bucket"),
            "value",
        )
        .cube("event_type", "hour_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# B11 — approximate quantile sketch with an error-bounded oracle:
# Spark's KLL-style percentile_approx has no DuckDB twin, so the query
# emits EXACT quantiles (hash-comparable; DuckDB quantile_cont uses the
# same p*(n-1) linear interpolation as Spark's percentile) plus a
# sketch_ok flag asserting the sketch honored its RANK-error guarantee.
# A broken sketch flips the flag and fails the driver hash.
# --------------------------------------------------------------------------

QUANTILE_ACCURACY = 10_000
QUANTILE_PS = [0.25, 0.5, 0.9, 0.99]

QUANTILE_ORACLE = f"""
SELECT event_type,
       {r6_sql("quantile_cont(value, 0.25)")} AS q25,
       {r6_sql("quantile_cont(value, 0.5)")}  AS q50,
       {r6_sql("quantile_cont(value, 0.9)")}  AS q90,
       {r6_sql("quantile_cont(value, 0.99)")} AS q99,
       COUNT(value) AS n,
       1 AS sketch_ok
FROM events GROUP BY event_type
"""


@query("approx_value_quantiles", QUANTILE_ORACLE)
def approx_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch per event_type — the scalable way to
    get percentiles at 100 TB (exact percentile needs a full sort; the
    sketch is one map-side pass + tiny merge).

    Verification design: the sketch estimate itself is engine-specific,
    so the hashed columns are the EXACT percentiles (both engines use
    linear interpolation at p*(n-1)) and ``sketch_ok``. The sketch's
    contract is on RANK error — percentile_approx(accuracy=a) returns a
    value whose rank is within n/a of p·n — so the flag checks ranks,
    not values: #{v < est} ≤ ⌈p·n⌉ + slack and #{v ≤ est} ≥ ⌊p·n⌋ −
    slack, slack = max(2, n/a). (A value-distance bound is scale-fragile:
    at n≈200/group the q99 neighborhood is one sparse order statistic
    and any fixed fraction-of-span tolerance breaks.) NULL-only groups
    coalesce to 1 — both engines agree there is nothing to check.

    The rank check joins the tiny per-group sketch row back against the
    events scan (broadcast, one extra pass). That second pass is the
    VERIFICATION harness only; the 100 TB production path is the first
    aggregation alone.
    """
    e = t(spark, sf_dir, "events").select("event_type", "value")
    # materialize once: the tiny per-type sketch frame feeds BOTH the
    # broadcast rank-scan and the final select; the broadcast exchange
    # and the plain join input don't exchange-reuse, so without this the
    # full-table aggregation would execute twice.
    agg = e.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.25, 0.5, 0.9, 0.99))").alias("qx"),
        F.percentile_approx("value", QUANTILE_PS, QUANTILE_ACCURACY).alias("qa"),
        F.count("value").alias("n"),
    )
    agg = pin(agg, "quantile sketches")
    rank_aggs = []
    for i in range(1, 5):
        qa_i = F.element_at("qa", i)
        rank_aggs.append(
            F.sum((F.col("value") < qa_i).cast("long")).alias(f"lt{i}")
        )
        rank_aggs.append(
            F.sum((F.col("value") <= qa_i).cast("long")).alias(f"le{i}")
        )
    ranks = e.join(F.broadcast(agg), "event_type").groupBy("event_type").agg(
        *rank_aggs
    )
    res = agg.join(ranks, "event_type", "left")
    slack = F.greatest(F.lit(2.0), F.col("n") / QUANTILE_ACCURACY)
    ok = F.lit(True)
    for i, p in enumerate(QUANTILE_PS, start=1):
        target = F.lit(p) * F.col("n")
        ok = (
            ok
            & (F.col(f"lt{i}") <= F.ceil(target) + slack)
            & (F.col(f"le{i}") >= F.floor(target) - slack)
        )
    return res.select(
        "event_type",
        r6(F.element_at("qx", 1)).alias("q25"),
        r6(F.element_at("qx", 2)).alias("q50"),
        r6(F.element_at("qx", 3)).alias("q90"),
        r6(F.element_at("qx", 4)).alias("q99"),
        "n",
        F.coalesce(ok.cast("int"), F.lit(1)).alias("sketch_ok"),
    )


# --------------------------------------------------------------------------
# C19 — range (interval) join: clicks within ±300 s of each error, per
# user. Scalable pattern: bin timestamps to 300-s buckets, replicate
# the probe side into its 3 adjacent bins, EQUI-join on (user, bin),
# then apply the exact |Δt| predicate. A raw theta-join on the time
# difference cannot hash-partition and degenerates to per-key
# nested-loops; the binning makes it a keyed shuffle whose fan-out is
# bounded by bucket occupancy (bin width == radius → ±1 bin suffices).
# --------------------------------------------------------------------------

RANGE_SEC = 300

RANGE_JOIN_ORACLE = f"""
SELECT e.event_id, e.user_id,
       COUNT(c.ts) AS n_clicks_near
FROM events e
LEFT JOIN events c
  ON c.user_id = e.user_id
 AND c.event_type = 'click'
 AND abs(epoch(e.ts) - epoch(c.ts)) <= {RANGE_SEC}.0
WHERE e.event_type = 'error'
GROUP BY e.event_id, e.user_id
"""


@query("range_join_clicks_near_errors", RANGE_JOIN_ORACLE)
def range_join_clicks_near_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    err = e.filter(F.col("event_type") == "error").select(
        "event_id",
        "user_id",
        us.alias("e_us"),
        F.floor(us / (RANGE_SEC * 1_000_000)).alias("bin"),
    )
    clk = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        us.alias("c_us"),
        F.floor(us / (RANGE_SEC * 1_000_000)).alias("c_bin"),
    )
    clk3 = clk.withColumn(
        "probe_bin",
        F.explode(F.array(F.col("c_bin") - 1, F.col("c_bin"), F.col("c_bin") + 1)),
    ).drop("c_bin")
    cond = (
        (F.col("user_id") == F.col("c_user"))
        & (F.col("bin") == F.col("probe_bin"))
        & (F.abs(F.col("e_us") - F.col("c_us")) <= RANGE_SEC * 1_000_000)
    )
    return (
        err.join(clk3, cond, "left")
        .groupBy("event_id", "user_id")
        .agg(F.count("c_us").alias("n_clicks_near"))
    )


# --------------------------------------------------------------------------
# B12 — sliding window: 1-hour windows sliding every 30 minutes (each
# event belongs to 2 windows). Spark's window(slide=...) materializes
# the window list per row; the oracle unions the k=0,1 window starts
# with identical epoch-aligned micros arithmetic.
# --------------------------------------------------------------------------

SLIDE_US = 30 * 60 * 1_000_000  # 30 min
WIN_US = 2 * SLIDE_US           # 1 hour

SLIDING_ORACLE = f"""
WITH starts AS (
  SELECT make_timestamp((epoch_us(ts) // {SLIDE_US}) * {SLIDE_US}) AS w_start,
         event_type FROM events
  UNION ALL
  SELECT make_timestamp((epoch_us(ts) // {SLIDE_US}) * {SLIDE_US} - {SLIDE_US}),
         event_type FROM events
)
SELECT w_start AS window_start,
       w_start + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS cnt
FROM starts
GROUP BY 1, 2, 3
"""


@query("sliding_hourly_counts", SLIDING_ORACLE)
def sliding_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "cnt",
        )
    )


# --------------------------------------------------------------------------
# B13 — cohort retention: users grouped by first-seen week, distinct
# activity counted per weeks-since-cohort. Two aggregations: min-ts per
# user (map-side partial min), then distinct users per (cohort, offset).
# --------------------------------------------------------------------------

COHORT_ORACLE = """
WITH firsts AS (
  SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
)
SELECT CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
       CAST(date_diff('week', date_trunc('week', f.first_ts),
                      date_trunc('week', e.ts)) AS INTEGER) AS weeks_since,
       COUNT(DISTINCT e.user_id) AS active_users
FROM events e JOIN firsts f ON e.user_id = f.user_id
GROUP BY 1, 2
"""


@query("cohort_retention", COHORT_ORACLE)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cohort = F.date_trunc("week", "first_ts")
    week = F.date_trunc("week", "ts")
    return (
        e.join(F.broadcast(firsts), "user_id")
        .groupBy(
            cohort.cast("date").alias("cohort_week"),
            ((F.unix_date(week.cast("date")) - F.unix_date(cohort.cast("date"))) / 7)
            .cast("int")
            .alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


# --------------------------------------------------------------------------
# B14 — ordered funnel: users who signed up, then clicked AFTER the
# signup, then purchased AFTER the click (min-ts per stage, ordered).
# One grouped pivot of min timestamps — no self-joins, no explode.
# --------------------------------------------------------------------------

FUNNEL_ORACLE = """
WITH stages AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT COUNT(*) FILTER (t_signup IS NOT NULL) AS n_signup,
       COUNT(*) FILTER (t_click > t_signup) AS n_clicked_after,
       COUNT(*) FILTER (t_purchase > t_click AND t_click > t_signup)
         AS n_purchased_after
FROM stages
"""


@query("funnel_signup_click_purchase", FUNNEL_ORACLE)
def funnel_signup_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    stage = lambda s: F.min(F.when(F.col("event_type") == s, F.col("ts")))  # noqa: E731
    stages = e.groupBy("user_id").agg(
        stage("signup").alias("t_signup"),
        stage("click").alias("t_click"),
        stage("purchase").alias("t_purchase"),
    )
    return stages.agg(
        F.count(F.when(F.col("t_signup").isNotNull(), 1)).alias("n_signup"),
        F.count(F.when(F.col("t_click") > F.col("t_signup"), 1)).alias(
            "n_clicked_after"
        ),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_signup")),
                1,
            )
        ).alias("n_purchased_after"),
    )


# --------------------------------------------------------------------------
# B15 — NTILE quartile banding: per-type value quartiles (deterministic
# via (value, event_id) tiebreak), then per-band stats. Covers the
# ntile window shape the rank/lag queries don't.
# --------------------------------------------------------------------------

NTILE_ORACLE = """
WITH banded AS (
  SELECT event_type, value,
         NTILE(4) OVER (
           PARTITION BY event_type ORDER BY value, event_id
         ) AS quartile
  FROM events
)
SELECT event_type,
       CAST(quartile AS INTEGER) AS quartile,
       COUNT(*) AS n,
       ROUND(MIN(value), 2) AS lo,
       ROUND(MAX(value), 2) AS hi
FROM banded
GROUP BY event_type, quartile
"""


@query("ntile_value_quartiles", NTILE_ORACLE)
def ntile_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        e.select("event_type", "value", F.ntile(4).over(w).alias("quartile"))
        .groupBy("event_type", F.col("quartile").cast("int").alias("quartile"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )


# --------------------------------------------------------------------------
# B16 — built-in session windows: F.session_window(ts, gap) merges a
# user's events whose gaps are < GAP into one window (the native twin
# of the manual lag+cumsum sessionization in B7 — and the construct
# that works unchanged in Structured Streaming with state eviction).
# Oracle: gaps-and-islands SQL — new session when ts - prev_ts >= GAP;
# session end = max ts + gap (Spark's session_window end semantics).
# --------------------------------------------------------------------------

SESSION_GAP_MIN = 30

SESSION_WINDOW_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL {SESSION_GAP_MIN} MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS UNBOUNDED PRECEDING
         ) AS session_no
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM sess
GROUP BY user_id, session_no
"""


@query("session_window_stats", SESSION_WINDOW_ORACLE)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
# B17 — IQR outlier detection: per-type Tukey fences from exact
# quartiles (one grouped percentile pass, broadcast back, one filter
# pass). Standard data-validation op before training ingestion.
# --------------------------------------------------------------------------

IQR_ORACLE = """
WITH fences AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       COUNT(*) AS n_outliers,
       ROUND(MIN(e.value), 2) AS min_outlier,
       ROUND(MAX(e.value), 2) AS max_outlier
FROM events e JOIN fences f ON e.event_type = f.event_type
WHERE e.value > f.q3 + 1.5 * (f.q3 - f.q1)
   OR e.value < f.q1 - 1.5 * (f.q3 - f.q1)
GROUP BY e.event_type
"""


@query("value_outliers_iqr", IQR_ORACLE)
def value_outliers_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    fences = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        e.join(F.broadcast(fences), "event_type")
        .filter(
            (F.col("value") > F.col("q3") + 1.5 * iqr)
            | (F.col("value") < F.col("q1") - 1.5 * iqr)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_outliers"),
            F.round(F.min("value"), 2).alias("min_outlier"),
            F.round(F.max("value"), 2).alias("max_outlier"),
        )
    )


# --------------------------------------------------------------------------
# B18 — ordered per-user event sequences (training-sequence
# construction: the "user history as a token string" input LLM-style
# models train on). Ordering inside collect_list is NOT guaranteed, so
# the struct-sort trick makes it deterministic: collect structs keyed
# by (ts, event_id), sort_array orders lexicographically by those
# fields, then project the payload.
# --------------------------------------------------------------------------

SEQUENCE_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       string_agg(event_type, '>' ORDER BY ts, event_id) AS type_sequence
FROM events
GROUP BY user_id
"""


@query("user_event_sequences", SEQUENCE_ORACLE)
def user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s.getField("event_type"),
        ),
        ">",
    )
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        seq.alias("type_sequence"),
    )


# --------------------------------------------------------------------------
# B19 — event-type transition matrix (first-order Markov counts): for
# each user-consecutive pair of events, count (from_type → to_type).
# LAG over (user_id, ts) — sequence-model feature extraction.
# --------------------------------------------------------------------------

TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS to_type,
         LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS from_type
  FROM events
)
SELECT from_type, to_type, COUNT(*) AS n
FROM seq
WHERE from_type IS NOT NULL
GROUP BY from_type, to_type
"""


@query("event_type_transitions", TRANSITIONS_ORACLE)
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# B20 — per-user latest-event snapshot (argmax). max_by is tie-unstable,
# so the struct-max trick makes it deterministic: max over structs
# ordered by (ts, event_id) lexicographically, then project. Oracle:
# ROW_NUMBER() = 1 with the same ordering.
# --------------------------------------------------------------------------

SNAPSHOT_ORACLE = """
SELECT user_id, ts AS last_ts, event_type AS last_type,
       ROUND(value, 2) AS last_value
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC
  ) AS rn
  FROM events
)
WHERE rn = 1
"""


@query("user_latest_snapshot", SNAPSHOT_ORACLE)
def user_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    latest = F.max(F.struct("ts", "event_id", "event_type", "value"))
    return (
        e.groupBy("user_id")
        .agg(latest.alias("s"))
        .select(
            "user_id",
            F.col("s.ts").alias("last_ts"),
            F.col("s.event_type").alias("last_type"),
            F.round(F.col("s.value"), 2).alias("last_value"),
        )
    )


# --------------------------------------------------------------------------
# B21 — daily volume anomaly flags: per event_type, days whose count
# exceeds mean + 3σ of that type's daily series. Variance is computed
# from exact integer sums ((Σx², Σx, n) → (ss − s·s/n)/n with the
# division order written identically in both engines), NOT stddev_samp:
# the built-in one-pass variance is numerically-stable but its
# accumulation order is engine-defined, which flips the 3σ flag on
# boundary days. sqrt is IEEE correctly-rounded, so σ is bit-exact too.
#
# 100 TB: two aggregations (events → daily counts, daily counts →
# per-type moments) and a broadcast join of the per-type moment row
# back onto the daily series. The second agg input is days×types —
# trivially small no matter the corpus. s is cast to double BEFORE
# s·s (a BIGINT square overflows once daily counts pass ~3e9).
# --------------------------------------------------------------------------

ANOMALY_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
moments AS (
  SELECT event_type,
         COUNT(*) AS n_days,
         SUM(n_events) AS s,
         SUM(n_events * n_events) AS ss
  FROM daily GROUP BY event_type
),
stats AS (
  SELECT event_type,
         CAST(s AS DOUBLE) / n_days AS mu,
         sqrt(greatest(
           (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days) / n_days,
           0.0
         )) AS sigma
  FROM moments
)
SELECT d.event_type, d.day, d.n_events,
       {r4_sql("st.mu")} AS mean_daily,
       {r4_sql("st.sigma")} AS sigma_daily,
       CAST(CASE WHEN d.n_events > st.mu + 3.0 * st.sigma
            THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
FROM daily d JOIN stats st ON st.event_type = d.event_type
"""


@query("daily_count_anomalies", ANOMALY_ORACLE)
def daily_count_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    moments = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_events").alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("ss"),
    )
    mu = F.col("s").cast("double") / F.col("n_days")
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n_days")
    ) / F.col("n_days")
    stats = moments.select(
        "event_type",
        mu.alias("mu"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("sigma"),
    )
    return daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        "n_events",
        r4(F.col("mu")).alias("mean_daily"),
        r4(F.col("sigma")).alias("sigma_daily"),
        (F.col("n_events") > F.col("mu") + 3.0 * F.col("sigma"))
        .cast("int")
        .alias("is_anomaly"),
    )


# --------------------------------------------------------------------------
# B22 — per-type OLS trend: closed-form linear regression of value on
# hour-of-day from one pass of exact moment sums (n, Σx, Σx², Σxy, Σy):
# slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²). x is an integer hour, so
# every x-moment is exact; y-sums carry the usual last-ulp summation
# noise that ROUND(…,4)+ε absorbs. THE scale pattern for model fitting
# inside the engine: a regression per group with no iteration, no
# driver round-trips, map-side partial aggregation all the way.
#
# (regr_slope/regr_intercept exist in both engines but use one-pass
# covariance updates whose accumulation order is engine-defined; the
# explicit-moments form keeps the arithmetic identical.)
# --------------------------------------------------------------------------

OLS_ORACLE = f"""
WITH m AS (
  SELECT event_type,
         COUNT(value) AS n,
         SUM(CASE WHEN value IS NOT NULL
             THEN CAST(hour(ts) AS BIGINT) END) AS sx,
         SUM(CASE WHEN value IS NOT NULL
             THEN CAST(hour(ts) AS BIGINT) * hour(ts) END) AS sxx,
         SUM(hour(ts) * value) AS sxy,
         SUM(value) AS sy
  FROM events GROUP BY event_type
)
SELECT event_type, n,
       {r4_sql(
           "(n * sxy - sx * sy)"
           " / NULLIF(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx, 0.0)"
       )} AS slope,
       {r4_sql(
           "(sy - sx * ((n * sxy - sx * sy)"
           " / NULLIF(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx, 0.0)))"
           " / n"
       )} AS intercept
FROM m
"""


@query("ols_value_by_hour", OLS_ORACLE)
def ols_value_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    hour = F.hour("ts").cast("long")
    nn = F.col("value").isNotNull()
    m = e.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.sum(F.when(nn, hour)).alias("sx"),
        F.sum(F.when(nn, hour * F.hour("ts"))).alias("sxx"),
        F.sum(hour * F.col("value")).alias("sxy"),
        F.sum("value").alias("sy"),
    )
    n, sx, sxx, sxy, sy = (F.col(c) for c in ("n", "sx", "sxx", "sxy", "sy"))
    # x-variance can be exactly 0 (all valued events in one hour, or
    # n<=1): Spark's 0/0 is NULL but DuckDB's IEEE mode yields NaN —
    # nullify the denominator identically on both sides instead.
    den = F.nullif(
        n * sxx.cast("double") - sx.cast("double") * sx, F.lit(0.0)
    )
    slope = (n * sxy - sx * sy) / den
    intercept = (sy - sx * slope) / n
    return m.select(
        "event_type",
        "n",
        r4(slope).alias("slope"),
        r4(intercept).alias("intercept"),
    )


# --------------------------------------------------------------------------
# B23 — per-user inter-arrival statistics: gaps between consecutive
# events (lag window ordered by (ts, event_id) — the explicit id
# tiebreak makes equal-timestamp ordering engine-identical). Gaps are
# integer MICROSECONDS end-to-end (exact BIGINT sums; the only
# division is the final seconds conversion), so every stat is
# bit-exact across engines.
#
# 100 TB: one shuffle on user_id, linear within partition — the same
# shape as sessionization; AQE splits a pathological power user.
# --------------------------------------------------------------------------

INTERARRIVAL_ORACLE = f"""
WITH ordered AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS gap_us
  FROM events
)
SELECT user_id,
       COUNT(gap_us) AS n_gaps,
       {r4_sql("SUM(gap_us) / COUNT(gap_us) / 1e6")} AS avg_gap_sec,
       {r4_sql("MIN(gap_us) / 1e6")} AS min_gap_sec,
       {r4_sql("MAX(gap_us) / 1e6")} AS max_gap_sec
FROM ordered
WHERE gap_us IS NOT NULL
GROUP BY user_id
"""


@query("user_interarrival_stats", INTERARRIVAL_ORACLE)
def user_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = e.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        r4(F.sum("gap_us") / F.count("gap_us") / 1e6).alias("avg_gap_sec"),
        r4(F.min("gap_us") / 1e6).alias("min_gap_sec"),
        r4(F.max("gap_us") / 1e6).alias("max_gap_sec"),
    )


# --------------------------------------------------------------------------
# B24 — month-over-month percent change per event_type: the reporting
# staple (lag over a monthly series). Counts are exact integers; the
# percent change is one division, rounded identically in both engines.
# First month per type carries NULL (no prior period) — identical
# semantics both sides.
#
# 100 TB: the lag window runs over the AGGREGATED monthly series
# (types × months rows), not the fact table — the expensive part is
# the single count shuffle with map-side combine.
# --------------------------------------------------------------------------

MOM_CHANGE_ORACLE = f"""
WITH monthly AS (
  SELECT event_type,
         CAST(year(ts) AS INTEGER) AS year,
         CAST(month(ts) AS INTEGER) AS month,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2, 3
)
SELECT event_type, year, month, n_events,
       {r4_sql(
           "100.0 * (n_events - lag(n_events) OVER w)"
           " / lag(n_events) OVER w"
       )} AS pct_change
FROM monthly
WINDOW w AS (PARTITION BY event_type ORDER BY year, month)
"""


@query("monthly_pct_change", MOM_CHANGE_ORACLE)
def monthly_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    monthly = e.groupBy(
        "event_type",
        F.year("ts").cast("int").alias("year"),
        F.month("ts").cast("int").alias("month"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("year", "month")
    prev = F.lag("n_events").over(w)
    return monthly.select(
        "event_type",
        "year",
        "month",
        "n_events",
        r4(100.0 * (F.col("n_events") - prev) / prev).alias("pct_change"),
    )


# --------------------------------------------------------------------------
# B25 — mergeable-sketch rollup: per-day HLL user sketches unioned into
# weekly distincts WITHOUT re-scanning raw data — the hypertable/
# materialized-rollup pattern (daily sketches persist; any coarser
# window is a cheap sketch union, never a recount). countDistinct
# can't do this: distinct counts don't add across days.
#
# Like approx_distinct_users (C8), the raw estimate is engine-specific
# so the hashed surface is the exact weekly count plus an error-bounded
# ``sketch_ok`` flag (Datasketches HLL at default lgK=12 has ~1.6%
# relative error; the 10%-or-±5 bound means a flip is a broken sketch,
# not an unlucky one). The oracle recomputes the exact count and
# asserts the flag.
#
# 100 TB: pass 1 aggregates (type, day) → fixed-size sketch (map-side
# partial merge); pass 2 unions sketches over (type, week) — the
# second shuffle moves only |types|·|days| sketch blobs, not events.
# The exact twin exists only for verification.
# --------------------------------------------------------------------------

HLL_WEEKLY_ORACLE = """
WITH exact AS (
  SELECT event_type,
         CAST(date_trunc('week', ts) AS DATE) AS week_start,
         COUNT(DISTINCT user_id) AS n_users
  FROM events
  GROUP BY 1, 2
)
SELECT event_type,
       CAST(week_start AS VARCHAR) AS week_start,
       n_users,
       1 AS sketch_ok
FROM exact
"""


@query("hll_weekly_rollup", HLL_WEEKLY_ORACLE)
def hll_weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    weekly_est = (
        daily.groupBy(
            "event_type",
            F.date_trunc("week", "day").cast("date").alias("week_start"),
        )
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_est"))
    )
    weekly_exact = e.groupBy(
        "event_type",
        F.date_trunc("week", "ts").cast("date").alias("week_start"),
    ).agg(F.countDistinct("user_id").alias("n_users"))
    return (
        weekly_exact.join(weekly_est, ["event_type", "week_start"])
        .select(
            "event_type",
            F.col("week_start").cast("string").alias("week_start"),
            "n_users",
            (
                F.abs(F.col("n_est") - F.col("n_users"))
                <= F.greatest(0.10 * F.col("n_users"), F.lit(5.0))
            )
            .cast("int")
            .alias("sketch_ok"),
        )
    )


# --------------------------------------------------------------------------
# B26 — EXACT distinct via mergeable bitmaps: the scale alternative to
# both countDistinct (exact but re-shuffles raw rows for every rollup)
# and HLL (mergeable but approximate). Two-level shape: rows fold into
# per-(key, bucket) bitmaps (bitmap_construct_agg over the bit position
# of user_id within its 32k-wide bucket), then bitmap_count sums per
# key — EXACT results from fixed-size mergeable state. Persisted
# per-day, these bitmaps roll up to any coarser window with bitmap_or
# — the exact-count twin of hll_weekly_rollup (B25).
#
# Because the bitmap path is exact, the oracle compares VALUES against
# COUNT(DISTINCT) directly — no error-bound indirection.
#
# 100 TB: shuffle 1 carries (key, bucket)-partitioned raw positions
# with map-side bitmap folding; shuffle 2 moves only
# |keys|·|buckets| bitmap blobs. Dense user-id spaces make each 4 KiB
# bucket bitmap near-full — far smaller than the id list it replaces.
# --------------------------------------------------------------------------

BITMAP_DISTINCT_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
"""


@query("bitmap_distinct_users", BITMAP_DISTINCT_ORACLE)
def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    per_bucket = e.groupBy(
        "event_type",
        F.bitmap_bucket_number("user_id").alias("bucket"),
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm")
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).alias("n_users")
    )


# --------------------------------------------------------------------------
# A5 — schema-less semi-structured extraction via the VARIANT type:
# parse_json once into Spark's binary semi-structured encoding, then
# path-extract fields at query time (variant_get with a target type) —
# no up-front schema like A3's from_json. This is the modern ingest
# shape for heterogeneous event payloads: land VARIANT, project paths
# lazily, let shredding/pushdown handle the rest.
#
# 100 TB: parse and extraction are narrow per-row expressions (no
# Python, no shuffle); the aggregate is the only exchange.
# --------------------------------------------------------------------------

VARIANT_EXTRACT_ORACLE = """
SELECT event_type,
       CAST(CAST(json_extract(props, '$.k') AS INTEGER) // 25 AS INT)
         AS k_bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
FROM events
WHERE props IS NOT NULL
GROUP BY 1, 2
"""


@query("etl_variant_extract", VARIANT_EXTRACT_ORACLE)
def etl_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    # try_parse_json: a malformed payload degrades to a NULL bucket row
    # instead of failing the job (ANSI parse_json throws) — on clean
    # data the two are identical, so the oracle is unaffected.
    k = F.variant_get(F.try_parse_json("props"), "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy(
            "event_type",
            F.floor(F.col("k") / 25).cast("int").alias("k_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
        )
    )


# --------------------------------------------------------------------------
# B27 — activity streaks (gaps-and-islands): per user, the longest run
# of CONSECUTIVE active days plus streak counts — the
# retention/engagement readout cohort tables can't give. Island id =
# epoch_day − row_number over the user's ordered distinct days: a
# constant within each consecutive run, so one groupBy turns runs into
# rows. All-integer arithmetic → exact cross-engine.
#
# 100 TB: distinct (user, day) collapses map-side first (the heavy
# step); the window partitions by user over day-counts (≤ a few
# thousand rows per user); two cheap aggs finish. No self-joins.
# --------------------------------------------------------------------------

STREAKS_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id,
         CAST(ts AS DATE) - DATE '1970-01-01' AS day_num
  FROM events WHERE ts IS NOT NULL
),
islands AS (
  SELECT user_id, day_num,
         day_num - ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY day_num
         ) AS island
  FROM days
),
runs AS (
  SELECT user_id, island, COUNT(*) AS run_len
  FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(SUM(run_len) AS BIGINT) AS n_active_days,
       COUNT(*)       AS n_streaks,
       MAX(run_len)   AS longest_streak
FROM runs GROUP BY user_id
"""


@query("user_activity_streaks", STREAKS_ORACLE)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    days = e.select(
        "user_id", F.unix_date(F.to_date("ts")).alias("day_num")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day_num")
    runs = (
        days.withColumn(
            "island", F.col("day_num") - F.row_number().over(w)
        )
        .groupBy("user_id", "island")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return runs.groupBy("user_id").agg(
        F.sum("run_len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("run_len").alias("longest_streak"),
    )


# --------------------------------------------------------------------------
# C30 — explicit GROUPING SETS with grouping_id: the third member of
# the grouping family (CUBE = B10, ROLLUP = C9) — arbitrary set lists
# let a dashboard compute exactly the marginals it needs instead of
# every cube cell. grouping_id disambiguates which set produced a row
# (a NULL key value vs a rolled-up dimension are different things —
# the id is the only reliable marker).
#
# 100 TB: Spark expands grouping sets into one aggregate with a
# grouping-id column — a single shuffle regardless of how many sets,
# same cost envelope as one GROUP BY over the widest set.
# --------------------------------------------------------------------------

GROUPING_SETS_ORACLE = """
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(CAST(EXTRACT(hour FROM ts) AS INT), -1) AS hour,
       CAST(GROUPING(event_type) * 2 + GROUPING(EXTRACT(hour FROM ts))
            AS INT) AS gid,
       COUNT(*) AS n_events
FROM events
GROUP BY GROUPING SETS ((event_type), (EXTRACT(hour FROM ts)), ())
"""


@query("grouping_sets_marginals", GROUPING_SETS_ORACLE)
def grouping_sets_marginals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    e.createOrReplaceTempView("__gs_events")
    return spark.sql(
        """
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(CAST(hour(ts) AS INT), -1) AS hour,
               CAST(grouping(event_type) * 2 + grouping(hour(ts))
                    AS INT) AS gid,
               COUNT(*) AS n_events
        FROM __gs_events
        GROUP BY GROUPING SETS ((event_type), (hour(ts)), ())
        """
    )


# --------------------------------------------------------------------------
# B28 — exact fixed-bin histogram of `value`: the profiling readout
# behind every numeric-distribution dashboard. Bin = floor((v - lo)/w)
# with compile-time bounds → pure integer arithmetic after one narrow
# scan; out-of-range values clamp into the edge bins so the histogram
# always accounts for every row.
#
# (histogram_numeric would be the built-in, but its bin PLACEMENT is
# estimation-dependent — not reproducible cross-engine; fixed bins
# are, and they're also what a UI actually renders.)
#
# 100 TB: map-side partial counts into ≤ N_BINS groups — the shuffle
# carries at most N_BINS rows per task.
# --------------------------------------------------------------------------

HIST_LO = 0.0
HIST_W = 25.0
HIST_BINS = 16

VALUE_HIST_ORACLE = f"""
SELECT LEAST(GREATEST(CAST(floor((value - {HIST_LO}) / {HIST_W}) AS INT),
             0), {HIST_BINS - 1}) AS bin,
       COUNT(*) AS n,
       {{r2}} AS bin_lo
FROM events
WHERE value IS NOT NULL
GROUP BY 1
""".replace(
    "{r2}",
    f"ROUND({HIST_LO} + LEAST(GREATEST(CAST(floor((value - {HIST_LO}) "
    f"/ {HIST_W}) AS INT), 0), {HIST_BINS - 1}) * {HIST_W}, 2)",
)


@query("value_histogram", VALUE_HIST_ORACLE)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bin_col = F.least(
        F.greatest(
            F.floor((F.col("value") - HIST_LO) / HIST_W).cast("int"),
            F.lit(0),
        ),
        F.lit(HIST_BINS - 1),
    )
    return (
        e.select(bin_col.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "bin_lo", F.round(HIST_LO + F.col("bin") * HIST_W, 2)
        )
    )


# --------------------------------------------------------------------------
# J6 batch twin — clicks-before-purchase attribution join, the batch
# expression of streaming/pipeline.start_stream_stream_join: each
# purchase matched to the SAME user's clicks in the preceding 60
# minutes, aggregated per purchase. The streaming side buffers both
# streams in the state store with watermark+gap eviction;
# tests/test_streaming.py proves stream==batch on a crafted input, and
# this key puts the join semantics themselves under the driver's
# oracle (as J3 does for the J2 windowed aggregation).
#
# 100 TB: equi-join on user_id with the time range as a post-join
# predicate — Catalyst plans a shuffle hash join on the key; a hot
# user (bot traffic) is the L1 salting case. The per-purchase
# aggregate bounds output at |purchases|.
# --------------------------------------------------------------------------

ATTRIB_GAP_MIN = 60

STREAM_JOIN_TWIN_ORACLE = f"""
WITH c AS (
  SELECT user_id, ts AS click_ts FROM events
  WHERE event_type = 'click' AND ts IS NOT NULL
),
p AS (
  SELECT event_id, user_id, ts AS purchase_ts FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL
)
SELECT p.event_id, p.user_id, p.purchase_ts,
       COUNT(*)        AS n_clicks,
       MIN(c.click_ts) AS first_click_ts,
       MAX(c.click_ts) AS last_click_ts
FROM p JOIN c
  ON c.user_id = p.user_id
 AND c.click_ts <= p.purchase_ts
 AND c.click_ts >= p.purchase_ts - INTERVAL {ATTRIB_GAP_MIN} MINUTE
GROUP BY 1, 2, 3
"""


@query("stream_join_clicks_before_purchase", STREAM_JOIN_TWIN_ORACLE)
def stream_join_clicks_before_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts")
            - F.expr(f"INTERVAL {ATTRIB_GAP_MIN} MINUTES")
        ),
        "inner",
    )
    return joined.groupBy("event_id", "user_id", "purchase_ts").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.min("click_ts").alias("first_click_ts"),
        F.max("click_ts").alias("last_click_ts"),
    )


# --------------------------------------------------------------------------
# A6 — data-expectations gate: declarative row-level quality rules
# evaluated in ONE scan, reported per rule (the Delta-Live-Tables /
# Great-Expectations shape, applied to the events feed). Five rules:
# ts present, user present, known event_type, value non-negative when
# present, event_id unique. The first four are row-wise CASE sums
# folded into a single aggregate; uniqueness is a second single-row
# aggregate (distinct count) — both single rows, combined and fanned
# out via posexplode (a 5-way union would re-scan the source five
# times).
#
# 100 TB: one full scan + one distinct-count shuffle, output 5 rows —
# the cheapest possible shape for a pipeline admission gate; rules
# compile to JVM column expressions, so adding a rule is free.
# --------------------------------------------------------------------------

KNOWN_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

EXPECTATIONS_ORACLE = f"""
WITH flags AS (
  SELECT CASE WHEN ts IS NULL THEN 1 ELSE 0 END AS v_ts,
         CASE WHEN user_id IS NULL THEN 1 ELSE 0 END AS v_user,
         CASE WHEN event_type NOT IN
              ({", ".join("'" + t_ + "'" for t_ in KNOWN_EVENT_TYPES)})
              OR event_type IS NULL THEN 1 ELSE 0 END AS v_type,
         CASE WHEN value IS NOT NULL AND value < 0 THEN 1 ELSE 0 END
           AS v_value
  FROM events
),
rowwise AS (
  SELECT COUNT(*) AS n_total,
         CAST(SUM(v_ts) AS BIGINT)    AS ts_not_null,
         CAST(SUM(v_user) AS BIGINT)  AS user_not_null,
         CAST(SUM(v_type) AS BIGINT)  AS known_event_type,
         CAST(SUM(v_value) AS BIGINT) AS value_non_negative
  FROM flags
),
uniq AS (
  SELECT COUNT(*) - COUNT(DISTINCT event_id) AS event_id_unique
  FROM events
),
rules(rule, n_violations, n_total) AS (
  SELECT 'ts_not_null', ts_not_null, n_total FROM rowwise
  UNION ALL SELECT 'user_not_null', user_not_null, n_total FROM rowwise
  UNION ALL SELECT 'known_event_type', known_event_type, n_total FROM rowwise
  UNION ALL SELECT 'value_non_negative', value_non_negative, n_total
    FROM rowwise
  UNION ALL SELECT 'event_id_unique', u.event_id_unique, r.n_total
    FROM uniq u CROSS JOIN rowwise r
)
SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
       {r6_sql('CAST(n_violations AS DOUBLE) / n_total')} AS violation_rate
FROM rules
"""


@query("events_expectations_report", EXPECTATIONS_ORACLE)
def events_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    rowwise = e.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0)).alias(
            "ts_not_null"
        ),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias(
            "user_not_null"
        ),
        F.sum(
            F.when(
                ~F.col("event_type").isin(KNOWN_EVENT_TYPES)
                | F.col("event_type").isNull(),
                1,
            ).otherwise(0)
        ).alias("known_event_type"),
        F.sum(
            F.when(F.col("value").isNotNull() & (F.col("value") < 0), 1)
            .otherwise(0)
        ).alias("value_non_negative"),
    )
    uniq = e.agg(
        (F.count(F.lit(1)) - F.countDistinct("event_id")).alias(
            "event_id_unique"
        )
    )
    combined = rowwise.crossJoin(F.broadcast(uniq))
    rules = F.array(
        *[
            F.struct(
                F.lit(r).alias("rule"),
                F.col(r).cast("bigint").alias("n_violations"),
            )
            for r in [
                "ts_not_null",
                "user_not_null",
                "known_event_type",
                "value_non_negative",
                "event_id_unique",
            ]
        ]
    )
    return combined.select(
        F.explode(rules).alias("r"), F.col("n_total")
    ).select(
        F.col("r.rule").alias("rule"),
        F.col("r.n_violations").alias("n_violations"),
        r6(F.col("r.n_violations").cast("double") / F.col("n_total")).alias(
            "violation_rate"
        ),
    )


# --------------------------------------------------------------------------
# A7 — PII scrub: multi-class regex detection + redaction statistics.
# The scrub shape every training-data pipeline needs before text ships
# to a model: per-class match counts and bytes-removed, computed in one
# narrow scan (regexp_count / regexp_replace are JVM codegen'd — no
# Python in the hot path; at 100 TB this is embarrassingly parallel
# with zero shuffle before the tiny per-type agg).
#
# The testdata corpus carries no organic PII, so the query derives a
# deterministic free-text column from events (props + uid + an
# IP-shaped field) IN BOTH ENGINES and scrubs that — the operator's
# regex/redaction plumbing is what's under test, on text with real
# matches for 2 of the 3 classes (email intentionally matches zero to
# verify the no-match path).
# --------------------------------------------------------------------------

# THE one copy of the patterns lives in operators/pii.py (r14 — the
# scrub is now also APPLIED there, and audit vs apply must not drift)
from drive_bc_datapipeline_spark.operators.pii import (  # noqa: E402
    PII_DIGITS,
    PII_EMAIL,
    PII_IPV4,
)

PII_SCRUB_ORACLE = f"""
WITH txt AS (
  SELECT event_type,
         props || ' uid=' || CAST(user_id AS VARCHAR)
               || ' ip=10.0.' || CAST(user_id % 256 AS VARCHAR)
               || '.' || CAST(event_id % 256 AS VARCHAR) AS s
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(len(regexp_extract_all(s, '{PII_EMAIL}'))) AS BIGINT)
           AS n_email,
       CAST(SUM(len(regexp_extract_all(s, '{PII_IPV4}'))) AS BIGINT)
           AS n_ipv4,
       CAST(SUM(len(regexp_extract_all(s, '{PII_DIGITS}'))) AS BIGINT)
           AS n_digit_runs,
       CAST(SUM(
         length(s) - length(
           regexp_replace(
             regexp_replace(
               regexp_replace(s, '{PII_EMAIL}', '', 'g'),
               '{PII_IPV4}', '', 'g'),
             '{PII_DIGITS}', '', 'g')
         )
       ) AS BIGINT) AS chars_removed
FROM txt
GROUP BY event_type
"""


@query("pii_scrub_stats", PII_SCRUB_ORACLE)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread (r10): the single-row-group events scan would run the
    # three regexp passes on one core; no-op on multi-file data.
    # by="event_id" (r14, banked since the r11 A/B): hash partitioning
    # skips round-robin's pre-exchange local row sort (0.84→0.52s at
    # sf0.1, interleaved min-of-3 — tables.spread docstring); event_id
    # is the table's unique key, so no skew concentration.
    e = spread(t(spark, sf_dir, "events"), by="event_id")
    s = F.concat(
        F.col("props"),
        F.lit(" uid="),
        F.col("user_id").cast("string"),
        F.lit(" ip=10.0."),
        (F.col("user_id") % 256).cast("string"),
        F.lit("."),
        (F.col("event_id") % 256).cast("string"),
    )
    # the identical expression tree scrub_pii applies — audit and
    # apply share ONE builder so the counts can't drift (r14)
    from drive_bc_datapipeline_spark.operators.pii import scrub_expr

    scrubbed = scrub_expr(s)
    return (
        e.select(
            "event_type",
            F.regexp_count(s, F.lit(PII_EMAIL)).alias("c_email"),
            F.regexp_count(s, F.lit(PII_IPV4)).alias("c_ipv4"),
            F.regexp_count(s, F.lit(PII_DIGITS)).alias("c_digit"),
            (F.length(s) - F.length(scrubbed)).alias("removed"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("c_email").cast("bigint").alias("n_email"),
            F.sum("c_ipv4").cast("bigint").alias("n_ipv4"),
            F.sum("c_digit").cast("bigint").alias("n_digit_runs"),
            F.sum("removed").cast("bigint").alias("chars_removed"),
        )
    )


# --------------------------------------------------------------------------
# B29 — peak concurrency of [ts, ts+1h) intervals per type: the
# classic sweep-line (+1 at start, -1 at end, running sum). The window
# partitions by event_type, so each type's sweep is one partition's
# sort — no global single-partition window. End points sort BEFORE
# start points at the same instant (delta ascending) so touching
# intervals don't double-count; event_id breaks remaining ties so the
# running sum is deterministic in both engines.
# --------------------------------------------------------------------------

MAX_CONCURRENT_ORACLE = """
WITH pts AS (
  SELECT event_type, ts AS t, 1 AS delta, event_id FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL 1 HOUR, -1, event_id FROM events
), run AS (
  SELECT event_type, t,
         SUM(delta) OVER (
           PARTITION BY event_type ORDER BY t, delta, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS conc
  FROM pts
), peak AS (
  SELECT event_type, MAX(conc) AS max_concurrent FROM run
  GROUP BY event_type
)
SELECT r.event_type,
       CAST(p.max_concurrent AS BIGINT) AS max_concurrent,
       MIN(r.t) AS peak_ts
FROM run r JOIN peak p
  ON r.event_type = p.event_type AND r.conc = p.max_concurrent
GROUP BY r.event_type, p.max_concurrent
"""


@query("max_concurrent_intervals", MAX_CONCURRENT_ORACLE)
def max_concurrent_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    starts = e.select(
        "event_type",
        F.col("ts").alias("t"),
        F.lit(1).alias("delta"),
        "event_id",
    )
    ends = e.select(
        "event_type",
        F.expr("ts + INTERVAL 1 HOUR").alias("t"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = starts.unionAll(ends).select(
        "event_type", "t", F.sum("delta").over(w).alias("conc")
    )
    # argmax in ONE grouped pass: MAX over a (conc, -t_us) struct picks
    # the peak concurrency and, within it, the EARLIEST time (max of
    # the negated micros) — the previous peak-join shape re-executed
    # the event-scale sweep-line frame once per consumer.
    best = F.max(
        F.struct(F.col("conc"), (-F.unix_micros("t")).alias("neg_us"))
    ).alias("b")
    return (
        run.groupBy("event_type")
        .agg(best)
        .select(
            "event_type",
            F.col("b.conc").cast("bigint").alias("max_concurrent"),
            F.timestamp_micros(-F.col("b.neg_us")).alias("peak_ts"),
        )
    )


# --------------------------------------------------------------------------
# B30 — SCD2 history build: collapse each user's event stream into
# type-change validity intervals [valid_from, valid_to) with a version
# number — the slowly-changing-dimension shape warehouses build from
# CDC feeds. Two stacked windows, both partitioned by user_id (one
# shuffle total; Catalyst reuses the exchange for the second window).
# --------------------------------------------------------------------------

SCD2_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev_type
  FROM events
), changes AS (
  SELECT user_id, event_type, ts AS valid_from
  FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type, valid_from,
       LEAD(valid_from) OVER (
         PARTITION BY user_id ORDER BY valid_from
       ) AS valid_to,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY user_id ORDER BY valid_from
       ) AS BIGINT) AS version
FROM changes
"""


@query("scd2_type_history", SCD2_ORACLE)
def scd2_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select(
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .drop("prev_type")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.row_number().over(w2).cast("bigint").alias("version"),
    )


# --------------------------------------------------------------------------
# J5 batch twin — dropDuplicatesWithinWatermark's batch semantics: keep
# the FIRST event per (user, type) within each 1-hour bucket. The
# streaming operator holds keys in state for the watermark horizon;
# the batch twin is a deterministic argmin per (user, type, hour) via
# the struct-min trick (single shuffle, map-side partial min).
# --------------------------------------------------------------------------

DEDUP_WITHIN_HOUR_ORACLE = """
SELECT user_id, event_type,
       date_trunc('hour', ts) AS hour_start,
       ts AS first_ts, event_id AS first_event_id,
       ROUND(value, 2) AS first_value
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id, event_type, date_trunc('hour', ts)
    ORDER BY ts, event_id
  ) AS rn
  FROM events
)
WHERE rn = 1
"""


@query("dedup_events_within_hour", DEDUP_WITHIN_HOUR_ORACLE)
def dedup_events_within_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    first = F.min(F.struct("ts", "event_id", "value"))
    return (
        e.groupBy(
            "user_id",
            "event_type",
            F.date_trunc("hour", "ts").alias("hour_start"),
        )
        .agg(first.alias("s"))
        .select(
            "user_id",
            "event_type",
            "hour_start",
            F.col("s.ts").alias("first_ts"),
            F.col("s.event_id").alias("first_event_id"),
            F.round("s.value", 2).alias("first_value"),
        )
    )


# --------------------------------------------------------------------------
# B31 / L-toolbox — weighted PageRank over the event-type transition
# graph: which states dominate the long-run behavior of user sessions.
# r10: the gated plan iterates on the DRIVER over the collected
# ≤|types|² edge matrix (event_type is an enumerable domain — the PCA
# d²-Gram boundedness argument), guarded at _PR_MAX_NODES; the full
# distributed join-agg iteration lives in operators/graph.py:pagerank
# (random-graph-swept in tests/test_graph.py) and is the path for
# graphs whose node set grows with the data. Oracle: the same 5
# damped iterations unrolled as chained CTEs (exact same arithmetic,
# so ranks agree to fp noise; r6 quantization absorbs summation-order
# ulps).
# --------------------------------------------------------------------------

_PR_D = 0.85
_PR_ITER = 5


def _pagerank_oracle() -> str:
    head = """
WITH edges AS (
  SELECT from_type AS src, to_type AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM (
    SELECT LAG(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
           ) AS from_type,
           event_type AS to_type
    FROM events
  )
  WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
), nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
  )
), stats AS (SELECT COUNT(*) AS n FROM nodes),
outw AS (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / s.n AS rank FROM nodes CROSS JOIN stats s)"""
    iters = []
    for i in range(1, _PR_ITER + 1):
        prev = f"r{i-1}"
        iters.append(f""",
r{i} AS (
  SELECT n.node,
         (1.0 - {_PR_D}) / s.n
         + {_PR_D} * (COALESCE(c.contrib, 0.0) + d.mass / s.n) AS rank
  FROM nodes n
  CROSS JOIN stats s
  CROSS JOIN (
    SELECT COALESCE(SUM(r.rank), 0.0) AS mass
    FROM {prev} r LEFT JOIN outw o ON r.node = o.src
    WHERE o.src IS NULL
  ) d
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank * e.w / o.out_w) AS contrib
    FROM edges e
    JOIN {prev} r ON e.src = r.node
    JOIN outw o ON e.src = o.src
    GROUP BY e.dst
  ) c ON n.node = c.node
)""")
    tail = f"""
SELECT node AS event_type, {r6_sql("rank")} AS pagerank
FROM r{_PR_ITER}"""
    return head + "".join(iters) + tail


_PR_MAX_NODES = 4096  # python-loop cost per iteration ~ |edges| ≤ cap below
_PR_MAX_EDGES = 262_144  # the actually-collected quantity (~20 MB of rows)


@query("pagerank_type_graph", _pagerank_oracle())
def pagerank_type_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 replan: event_type is an ENUMERABLE domain, so the
    transition graph is bounded (|nodes| = |types|, |edges| ≤
    |types|²) no matter how many events feed it — the PCA d²-Gram
    situation, not the billion-edge one. ONE distributed pass builds
    the weighted edge list (window lag + map-side-combined count);
    the 5 damped iterations then run on the driver over the collected
    ≤|types|² edge rows, replacing 5 × (join + agg + anti-join +
    checkpoint) distributed rounds on a handful-of-rows frame. The
    guard raises past _PR_MAX_NODES nodes and names
    operators/graph.pagerank (the distributed join-agg iteration,
    random-graph-swept in tests/test_graph.py) as the unbounded path.
    Same arithmetic as the oracle's unrolled CTEs, edges folded in
    sorted (src, dst) order; r6 absorbs summation-order ulps.
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = pin(
        e.select(
            F.lag("event_type").over(w).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .filter(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w")),
        "type graph edges",
    )
    # Guard on the quantity that is actually collected (r10 review
    # fix: a ≤4096-node graph can still hold nodes² ≈ 16.7M edges —
    # the node cap alone under-protected the driver). One count on
    # the pinned frame, BEFORE any row reaches the driver.
    n_edges = edges.count()
    if n_edges > _PR_MAX_EDGES:
        raise ValueError(
            f"{n_edges} edges: the driver-side iteration is for "
            f"enumerable domains (≤{_PR_MAX_EDGES} edges); use "
            "operators.graph.pagerank for unbounded graphs"
        )
    rows = sorted(
        ((r["src"], r["dst"], r["w"]) for r in edges.collect())
    )
    nodes = sorted({s for s, _d, _w in rows} | {d for _s, d, _w in rows})
    n = len(nodes)
    if n > _PR_MAX_NODES:
        raise ValueError(
            f"{n} nodes: the driver-side iteration is for "
            f"enumerable domains (≤{_PR_MAX_NODES}); use "
            "operators.graph.pagerank for unbounded graphs"
        )
    outw: dict[str, float] = {}
    for s, _d, wt in rows:
        outw[s] = outw.get(s, 0.0) + wt
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(_PR_ITER):
        contrib = {v: 0.0 for v in nodes}
        for s, d, wt in rows:
            contrib[d] += rank[s] * wt / outw[s]
        mass = sum(rank[v] for v in nodes if v not in outw)
        rank = {
            v: (1.0 - _PR_D) / n + _PR_D * (contrib[v] + mass / n)
            for v in nodes
        }
    out = local_frame(
        spark, [(v, rank[v]) for v in nodes], "event_type string, pagerank double"
    )
    return out.select("event_type", r6(F.col("pagerank")).alias("pagerank"))


# --------------------------------------------------------------------------
# J4 batch twin — applyInPandasWithState keeps running per-user
# (count, mean) across a stream; this is the same semantics in batch:
# every event annotated with the user's running event count and
# running mean value AS OF that event. One window shuffle keyed by
# user (state keyed the same way the streaming operator keys its
# state store). r4+EPS absorbs the engines' frame-summation order.
# --------------------------------------------------------------------------

RUNNING_STATS_ORACLE = f"""
SELECT event_id, user_id, ts,
       CAST(COUNT(*) OVER w AS BIGINT) AS running_n,
       {r4_sql("AVG(value) OVER w")} AS running_avg
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY ts, event_id
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
)
"""


@query("user_running_stats", RUNNING_STATS_ORACLE)
def user_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).cast("bigint").alias("running_n"),
        r4(F.avg("value").over(w)).alias("running_avg"),
    )


# --------------------------------------------------------------------------
# B25b — ROLLING distinct users from persisted daily HLL sketches:
# each day's sketch is exploded to the 7 trailing windows it belongs
# to, then hll_union_agg folds each window's 7 sketches — the sliding
# twin of hll_weekly_rollup, and the reason sketch stores exist: any
# window re-aggregates from fixed-size state, never from raw rows.
# The estimate ships with an exact COUNT(DISTINCT) audit column
# (same explode trick on distinct (type, user, day) rows) and a
# sketch_ok bound flag, mirroring B25's oracle style.
#
# 100 TB: raw rows are touched once (daily sketch build); the rolling
# re-union moves |types|·|days|·7 sketch blobs.
# --------------------------------------------------------------------------

HLL_ROLLING_ORACLE = """
WITH days AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day FROM events
)
SELECT e.event_type,
       CAST(d.day AS VARCHAR) AS day,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users_7d,
       1 AS sketch_ok
FROM events e
JOIN days d
  ON e.event_type = d.event_type
 AND CAST(e.ts AS DATE) BETWEEN d.day - 6 AND d.day
GROUP BY e.event_type, d.day
"""


@query("hll_rolling_distinct", HLL_ROLLING_ORACLE)
def hll_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sketch path: one daily sketch per (type, day), exploded to the 7
    # trailing windows it feeds, hll_union_agg per window — raw rows
    # are scanned exactly once. Pinned: the (types x days) sketch frame
    # also stands in for the real-(type, day) filter below, which
    # otherwise re-scanned events a third time.
    e = t(spark, sf_dir, "events")
    daily = pin(
        e.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.hll_sketch_agg("user_id").alias("sk")),
        "daily sketches",
    )
    est = (
        daily.select(
            "event_type",
            "sk",
            F.explode(F.expr("sequence(day, date_add(day, 6))")).alias(
                "wend"
            ),
        )
        .groupBy("event_type", "wend")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_est"))
    )
    # exact audit: distinct (type, user, day) through the same explode
    exact = (
        e.select("event_type", "user_id", F.to_date("ts").alias("day"))
        .distinct()
        .select(
            "event_type",
            "user_id",
            F.explode(F.expr("sequence(day, date_add(day, 6))")).alias(
                "wend"
            ),
        )
        .groupBy("event_type", "wend")
        .agg(F.countDistinct("user_id").alias("n_users_7d"))
    )
    # keep only window-ends that are real (type, day) combinations —
    # exactly the pinned daily frame's key set, no third events scan
    actual = daily.select("event_type", F.col("day").alias("wend"))
    return (
        exact.join(est, ["event_type", "wend"])
        .join(actual, ["event_type", "wend"], "left_semi")
        .select(
            "event_type",
            F.col("wend").cast("string").alias("day"),
            "n_users_7d",
            (
                F.abs(F.col("n_est") - F.col("n_users_7d"))
                <= F.greatest(0.10 * F.col("n_users_7d"), F.lit(5.0))
            )
            .cast("int")
            .alias("sketch_ok"),
        )
    )


# --------------------------------------------------------------------------
# B32 — time-series gap filling: materialize EVERY hour in each type's
# [first, last] span, zero-filling hours with no events — the
# densification step every downstream forecaster/anomaly model needs
# (a missing hour must be an explicit 0, not an absent row). The hour
# spine is generated from a per-type (min, max) AGGREGATE (|types|
# rows) and exploded — never a driver-side loop — then one left join
# against the hourly rollup. 100 TB: spine size is |types|·|hours|,
# independent of event count.
# --------------------------------------------------------------------------

GAPFILL_ORACLE = f"""
WITH spans AS (
  SELECT event_type,
         date_trunc('hour', MIN(ts)) AS lo,
         date_trunc('hour', MAX(ts)) AS hi
  FROM events GROUP BY event_type
), hours AS (
  SELECT event_type,
         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
  FROM spans
), counts AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_start,
         COUNT(*) AS n, SUM(value) AS sv
  FROM events GROUP BY 1, 2
)
SELECT h.event_type, h.hour_start,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events,
       {r2_sql("COALESCE(c.sv, 0.0)")} AS sum_value,
       CAST(c.n IS NULL AS INT) AS is_gap
FROM hours h
LEFT JOIN counts c
  ON h.event_type = c.event_type AND h.hour_start = c.hour_start
"""


@query("timeseries_gapfill", GAPFILL_ORACLE)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    spans = e.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = spans.select(
        "event_type",
        F.explode(
            F.expr("sequence(lo, hi, INTERVAL 1 HOUR)")
        ).alias("hour_start"),
    )
    counts = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
    return hours.join(counts, ["event_type", "hour_start"], "left").select(
        "event_type",
        "hour_start",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        r2(F.coalesce("sv", F.lit(0.0))).alias("sum_value"),
        F.col("n").isNull().cast("int").alias("is_gap"),
    )


# --------------------------------------------------------------------------
# B33 — linear interpolation of missing values: the other half of gap
# handling (B32 densifies the time axis; this fills the VALUE axis).
# A deterministic mask (event_id % 10 == 0) knocks out 10% of values
# IN BOTH ENGINES, then each hole is filled by linear interpolation
# between its nearest non-null neighbors in the user's (ts, event_id)
# order — last_value/first_value IGNORE NULLS over one per-user
# window, so the whole operator is a single shuffle. Edge holes take
# the single available neighbor.
# --------------------------------------------------------------------------

INTERPOLATE_ORACLE = f"""
WITH masked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN event_id % 10 = 0 THEN NULL ELSE value END AS mv,
         ROW_NUMBER() OVER w_ord AS rn
  FROM events
  WINDOW w_ord AS (PARTITION BY user_id ORDER BY ts, event_id)
), nb AS (
  SELECT user_id, event_id, mv, rn,
         last_value(mv IGNORE NULLS) OVER w_prev AS prev_v,
         last_value(CASE WHEN mv IS NOT NULL THEN rn END IGNORE NULLS)
           OVER w_prev AS prev_rn,
         first_value(mv IGNORE NULLS) OVER w_next AS next_v,
         first_value(CASE WHEN mv IS NOT NULL THEN rn END IGNORE NULLS)
           OVER w_next AS next_rn
  FROM masked
  WINDOW
    w_prev AS (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    w_next AS (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT user_id, event_id,
       CAST(mv IS NULL AS INT) AS was_missing,
       {r4_sql(
           "CASE WHEN mv IS NOT NULL THEN mv "
           "WHEN prev_v IS NULL THEN next_v "
           "WHEN next_v IS NULL THEN prev_v "
           "ELSE prev_v + (next_v - prev_v) * (rn - prev_rn) "
           "/ (next_rn - prev_rn) END"
       )} AS filled_value
FROM nb
"""


@query("interpolate_missing_values", INTERPOLATE_ORACLE)
def interpolate_missing_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    mv = F.when(F.col("event_id") % 10 == 0, F.lit(None)).otherwise(
        F.col("value")
    )
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    masked = e.select(
        "user_id",
        "event_id",
        mv.alias("mv"),
        F.row_number().over(w_ord).alias("rn"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    rn_if = F.when(F.col("mv").isNotNull(), F.col("rn"))
    nb = masked.select(
        "user_id",
        "event_id",
        "mv",
        "rn",
        F.last("mv", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.last(rn_if, ignorenulls=True).over(w_prev).alias("prev_rn"),
        F.first("mv", ignorenulls=True).over(w_next).alias("next_v"),
        F.first(rn_if, ignorenulls=True).over(w_next).alias("next_rn"),
    )
    filled = (
        F.when(F.col("mv").isNotNull(), F.col("mv"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * (F.col("rn") - F.col("prev_rn"))
            / (F.col("next_rn") - F.col("prev_rn"))
        )
    )
    return nb.select(
        "user_id",
        "event_id",
        F.col("mv").isNull().cast("int").alias("was_missing"),
        r4(filled).alias("filled_value"),
    )


# --------------------------------------------------------------------------
# B34 — χ² contingency test of event_type × ISO day-of-week: is event
# mix independent of weekday? Expected counts come from the marginal
# product (row_total · col_total / n) over the FULL cross grid
# (zero-observed cells included — built by crossing the two tiny
# marginal frames, never by scanning raw rows again). Single-row
# output: statistic, degrees of freedom, sample size.
# --------------------------------------------------------------------------

CHI2_ORACLE = f"""
WITH cells AS (
  SELECT event_type, isodow(ts) AS dow, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), rt AS (SELECT event_type, SUM(n) AS row_n FROM cells GROUP BY 1),
ct AS (SELECT dow, SUM(n) AS col_n FROM cells GROUP BY 1),
tot AS (SELECT SUM(n) AS grand FROM cells),
grid AS (
  SELECT r.event_type, c.dow,
         CAST(r.row_n AS DOUBLE) * c.col_n / t.grand AS expected,
         COALESCE(cl.n, 0) AS observed
  FROM rt r CROSS JOIN ct c CROSS JOIN tot t
  LEFT JOIN cells cl
    ON cl.event_type = r.event_type AND cl.dow = c.dow
)
SELECT {r4_sql(
    "SUM((observed - expected) * (observed - expected) / expected)"
)} AS chi2,
       CAST((COUNT(DISTINCT event_type) - 1)
            * (COUNT(DISTINCT dow) - 1) AS BIGINT) AS dof,
       CAST(SUM(observed) AS BIGINT) AS n_obs
FROM grid
"""


@query("chi2_type_by_dow", CHI2_ORACLE)
def chi2_type_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    # Spark weekday(): Monday=0 — shift to ISO (Monday=1..Sunday=7)
    # |types| x 7 contingency frame feeding four subtrees (marginals,
    # total, grid join) — pin it so the fact scans once, not 4x
    cells = e.groupBy(
        "event_type", (F.expr("weekday(ts)") + 1).alias("dow")
    ).agg(F.count(F.lit(1)).alias("n"))
    cells = pin(cells, "type x dow cells")
    rt = cells.groupBy("event_type").agg(F.sum("n").alias("row_n"))
    ct = cells.groupBy("dow").agg(F.sum("n").alias("col_n"))
    tot = cells.agg(F.sum("n").alias("grand"))
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(tot))
        .join(cells, ["event_type", "dow"], "left")
        .select(
            "event_type",
            "dow",
            (
                F.col("row_n").cast("double")
                * F.col("col_n")
                / F.col("grand")
            ).alias("expected"),
            F.coalesce("n", F.lit(0)).alias("observed"),
        )
    )
    return grid.agg(
        r4(
            F.sum(
                (F.col("observed") - F.col("expected"))
                * (F.col("observed") - F.col("expected"))
                / F.col("expected")
            )
        ).alias("chi2"),
        (
            (F.countDistinct("event_type") - 1)
            * (F.countDistinct("dow") - 1)
        )
        .cast("bigint")
        .alias("dof"),
        F.sum("observed").cast("bigint").alias("n_obs"),
    )


# --------------------------------------------------------------------------
# B35 — unpivot/melt: wide per-type metric columns → long (type,
# metric, value) rows, the shape BI tools and metric stores ingest.
# Spark's native unpivot (Catalyst Expand: one pass, no union-of-
# selects re-scan); oracle spells the same result as UNION ALL.
# --------------------------------------------------------------------------

UNPIVOT_ORACLE = f"""
WITH wide AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n_events,
         {r4_sql("AVG(value)")} AS avg_value,
         {r2_sql("MAX(value)")} AS max_value
  FROM events GROUP BY event_type
)
SELECT event_type, 'n_events' AS metric, n_events AS metric_value FROM wide
UNION ALL
SELECT event_type, 'avg_value', avg_value FROM wide
UNION ALL
SELECT event_type, 'max_value', max_value FROM wide
"""


@query("unpivot_type_metrics", UNPIVOT_ORACLE)
def unpivot_type_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    wide = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        r4(F.avg("value")).alias("avg_value"),
        r2(F.max("value")).alias("max_value"),
    )
    return wide.unpivot(
        ids=["event_type"],
        values=["n_events", "avg_value", "max_value"],
        variableColumnName="metric",
        valueColumnName="metric_value",
    )


# --------------------------------------------------------------------------
# B35 — mutual information between event_type and hour-of-day: the
# information-theoretic cousin of B34's χ² (feature-relevance scoring
# for categorical features at corpus scale). MI = Σ p(x,y)·log2 of the
# pointwise ratio over OBSERVED cells only (p=0 cells contribute 0, so
# no dense grid is needed — one groupBy of the fact table plus two
# tiny marginal frames, all broadcast). Entropies H(type), H(hour)
# ship alongside so normalized MI is a client-side division.
#
# 100 TB: one shuffle on (type, hour) with map-side partial counts;
# the marginals reduce the ~5×24 cell frame, never raw rows.
# --------------------------------------------------------------------------

MI_ORACLE = f"""
WITH cells AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hr, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), rt AS (SELECT event_type, SUM(n) AS row_n FROM cells GROUP BY 1),
ct AS (SELECT hr, SUM(n) AS col_n FROM cells GROUP BY 1),
tot AS (SELECT SUM(n) AS grand FROM cells)
SELECT
  {r6_sql(
      "SUM((CAST(c.n AS DOUBLE) / t.grand)"
      " * log2(CAST(c.n AS DOUBLE) * t.grand / (r.row_n * ct.col_n)))"
  )} AS mi_bits,
  {r6_sql(
      "-SUM(CASE WHEN c.hr = (SELECT MIN(hr) FROM cells c2"
      "                        WHERE c2.event_type = c.event_type)"
      " THEN (CAST(r.row_n AS DOUBLE) / t.grand)"
      "      * log2(CAST(r.row_n AS DOUBLE) / t.grand) ELSE 0 END)"
  )} AS h_type_bits,
  CAST(t.grand AS BIGINT) AS n_obs
FROM cells c
JOIN rt r  ON r.event_type = c.event_type
JOIN ct    ON ct.hr = c.hr
CROSS JOIN tot t
GROUP BY t.grand
"""


@query("mutual_info_type_hour", MI_ORACLE)
def mutual_info_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    # |types| x 24 frame feeding four subtrees — pin so the fact scans
    # once (the chi2 pattern)
    cells = e.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    cells = pin(cells, "type x hour cells")
    rt = cells.groupBy("event_type").agg(F.sum("n").alias("row_n"))
    ct = cells.groupBy("hr").agg(F.sum("n").alias("col_n"))
    tot = cells.agg(F.sum("n").alias("grand"))
    j = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "hr")
        .crossJoin(F.broadcast(tot))
    )
    p_xy = F.col("n").cast("double") / F.col("grand")
    ratio = (
        F.col("n").cast("double")
        * F.col("grand")
        / (F.col("row_n") * F.col("col_n"))
    )
    # H(type) from the row marginals: count each type once by keying
    # the term to that type's minimum observed hour (mirrors the
    # oracle's correlated-min trick, avoiding a second aggregation
    # input).
    w_min = Window.partitionBy("event_type")
    p_x = F.col("row_n").cast("double") / F.col("grand")
    h_term = F.when(
        F.col("hr") == F.min("hr").over(w_min), -p_x * F.log2(p_x)
    ).otherwise(F.lit(0.0))
    return (
        j.withColumn("h_term", h_term)
        .groupBy("grand")
        .agg(
            r6(F.sum(p_xy * F.log2(ratio))).alias("mi_bits"),
            r6(F.sum("h_term")).alias("h_type_bits"),
        )
        .select(
            "mi_bits",
            "h_type_bits",
            F.col("grand").cast("bigint").alias("n_obs"),
        )
    )


# --------------------------------------------------------------------------
# B36 — lag-1 autocorrelation of the daily event-count series, per
# event_type: the stationarity probe behind anomaly baselines (B21)
# — high r1 means yesterday predicts today. Daily counts are one
# map-side-combined shuffle; the lag + corr run over the tiny
# |types|×|days| frame. corr() is the sample Pearson coefficient in
# both engines.
# --------------------------------------------------------------------------

AUTOCORR_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), lagged AS (
  SELECT event_type, n,
         lag(n) OVER (PARTITION BY event_type ORDER BY d) AS prev_n
  FROM daily
)
SELECT event_type,
       CAST(COUNT(prev_n) AS BIGINT) AS n_pairs,
       {r4_sql("corr(CAST(n AS DOUBLE), CAST(prev_n AS DOUBLE))")}
         AS lag1_corr
FROM lagged
WHERE prev_n IS NOT NULL
GROUP BY event_type
"""


@query("daily_autocorr_lag1", AUTOCORR_ORACLE)
def daily_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        F.col("n").cast("double").alias("n"),
        F.lag("n").over(w).cast("double").alias("prev_n"),
    ).filter(F.col("prev_n").isNotNull())
    return lagged.groupBy("event_type").agg(
        F.count("prev_n").alias("n_pairs"),
        r4(F.corr("n", "prev_n")).alias("lag1_corr"),
    )


# --------------------------------------------------------------------------
# B37 — time-weighted average value (TWAP) per event_type: each
# observation holds until the next one of the same type, so its weight
# is that holding duration (the standard irregular-time-series mean —
# plain AVG over-weights bursts). lead() gives the µs gap (exact
# integers); the final row of each type has no duration and drops out.
#
# 100 TB: one shuffle on event_type for the ordered window, then a
# same-key aggregation — the window partitioning is reused, no second
# exchange. Skewed types would ride AQE skew-split.
# --------------------------------------------------------------------------

TWAP_ORACLE = f"""
WITH spans AS (
  SELECT event_type, value,
         lead(epoch_us(ts)) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
         ) - epoch_us(ts) AS dur_us
  FROM events
)
SELECT event_type,
       CAST(COUNT(dur_us) AS BIGINT) AS n_spans,
       {r4_sql("SUM(value * dur_us) / SUM(dur_us)")} AS twap_value,
       {r4_sql("SUM(dur_us) / 1e6")} AS span_sec
FROM spans
WHERE dur_us IS NOT NULL
GROUP BY event_type
"""


@query("twap_value_by_type", TWAP_ORACLE)
def twap_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    spans = e.select(
        "event_type",
        "value",
        (F.lead(us).over(w) - us).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    return spans.groupBy("event_type").agg(
        F.count("dur_us").alias("n_spans"),
        r4(F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us")).alias(
            "twap_value"
        ),
        r4(F.sum("dur_us") / F.lit(1e6)).alias("span_sec"),
    )


# --------------------------------------------------------------------------
# B38 — rolling exact median of the last 5 values per user: the
# robust-smoothing twin of B12's rolling counts (medians shrug off the
# spikes that wreck rolling means). percentile(0.5) as a WINDOW
# aggregate = linear interpolation at even counts, matching DuckDB's
# median() over the same frame. One shuffle on user_id; the 5-row
# frame is O(1) state per row.
# --------------------------------------------------------------------------

ROLLING_MEDIAN_ORACLE = f"""
SELECT event_id, user_id,
       {r4_sql(
           "median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id"
           " ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)"
       )} AS rolling_median
FROM events
"""


@query("rolling_median_value", ROLLING_MEDIAN_ORACLE)
def rolling_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        r4(F.expr("percentile(value, 0.5)").over(w)).alias("rolling_median"),
    )


# --------------------------------------------------------------------------
# B40 — winsorization: clip each type's values at its exact p01/p99
# and report the clipped-mass + before/after means (the standard
# heavy-tail taming step before training on raw metrics). Exact
# percentiles come from one grouped aggregation; the tiny per-type
# limit frame broadcasts back onto the fact scan, so the whole
# operator is two passes and one shuffle each.
# --------------------------------------------------------------------------

WINSORIZE_ORACLE = f"""
WITH lims AS (
  SELECT event_type,
         quantile_cont(value, 0.01) AS lo,
         quantile_cont(value, 0.99) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN e.value < l.lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_low,
       CAST(SUM(CASE WHEN e.value > l.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_high,
       {r4_sql("AVG(e.value)")} AS mean_raw,
       {r4_sql(
           "AVG(CASE WHEN e.value < l.lo THEN l.lo "
           "WHEN e.value > l.hi THEN l.hi ELSE e.value END)"
       )} AS mean_winsorized,
       {r4_sql("MIN(l.lo)")} AS p01,
       {r4_sql("MIN(l.hi)")} AS p99
FROM events e JOIN lims l USING (event_type)
GROUP BY e.event_type
"""


@query("winsorize_value_stats", WINSORIZE_ORACLE)
def winsorize_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    lims = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("lo"),
        F.expr("percentile(value, 0.99)").alias("hi"),
    )
    j = e.join(F.broadcast(lims), "event_type")
    clipped = (
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("value") < F.col("lo")).cast("long")).alias(
            "n_clipped_low"
        ),
        F.sum((F.col("value") > F.col("hi")).cast("long")).alias(
            "n_clipped_high"
        ),
        r4(F.avg("value")).alias("mean_raw"),
        r4(F.avg(clipped)).alias("mean_winsorized"),
        r4(F.min("lo")).alias("p01"),
        r4(F.min("hi")).alias("p99"),
    )


# --------------------------------------------------------------------------
# B41 — robust outliers via median/MAD: the breakdown-resistant twin
# of B17's IQR fences (a single wild value moves a mean+σ fence, not
# a median/MAD one). Three passes, each one grouped shuffle: per-type
# median → broadcast → median of |x − m| → broadcast → flag
# |x − m| > 3·1.4826·MAD. At 100 TB the exact-median passes would be
# swapped for B11's mergeable sketch with the same plan shape.
# --------------------------------------------------------------------------

MAD_ORACLE = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.value, md.m
  FROM events e JOIN med md USING (event_type)
), madt AS (
  SELECT event_type, quantile_cont(ABS(value - m), 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(COUNT(d.value) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN ABS(d.value - d.m) > 3 * 1.4826 * t.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       {r4_sql("MIN(d.m)")} AS median_value,
       {r4_sql("MIN(t.mad)")} AS mad_value
FROM dev d JOIN madt t USING (event_type)
GROUP BY d.event_type
"""


@query("value_outliers_mad", MAD_ORACLE)
def value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    # pin the two per-type stat frames: `dev` is consumed twice (MAD
    # pass + flag pass) and re-derives its broadcast side each time —
    # pinned, exact MAD costs its minimum three fact passes, not four
    med = e.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("m"))
    med = pin(med, "type medians")
    dev = e.join(F.broadcast(med), "event_type")
    madt = dev.groupBy("event_type").agg(
        F.expr("percentile(abs(value - m), 0.5)").alias("mad")
    )
    madt = pin(madt, "type mads")
    flagged = dev.join(F.broadcast(madt), "event_type")
    return flagged.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.sum(
            (
                F.abs(F.col("value") - F.col("m"))
                > 3 * 1.4826 * F.col("mad")
            ).cast("long")
        ).alias("n_outliers"),
        r4(F.min("m")).alias("median_value"),
        r4(F.min("mad")).alias("mad_value"),
    )


# --------------------------------------------------------------------------
# B42 — last-touch attribution: credit each purchase to the user's
# most recent prior touch (click/view/signup) within a 7-day lookback
# — the marketing-analytics join every event warehouse ships. One
# window pass per user carries the latest touch forward (no self-join,
# no range explosion), then a tiny grouped readout.
#
# 100 TB: identical shape to sessionization (B7) — one shuffle on
# user_id, linear scan within partition; the ROWS window keeps state
# O(1) per user. The attribution share is a window over the ≤5-row
# result, not the fact table.
# --------------------------------------------------------------------------

ATTRIB_LOOKBACK_S = 7 * 86400
_TOUCH_TYPES = "('click', 'view', 'signup')"

ATTRIBUTION_ORACLE = f"""
WITH ordered AS (
  SELECT event_type, ts, value,
         LAST_VALUE(CASE WHEN event_type IN {_TOUCH_TYPES} THEN ts END
                    IGNORE NULLS) OVER w AS touch_ts,
         LAST_VALUE(CASE WHEN event_type IN {_TOUCH_TYPES} THEN event_type
                    END IGNORE NULLS) OVER w AS touch_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
attributed AS (
  SELECT COALESCE(
           CASE WHEN epoch(ts) - epoch(touch_ts) <= {ATTRIB_LOOKBACK_S}
                THEN touch_type END, 'none') AS touch_type,
         value
  FROM ordered WHERE event_type = 'purchase'
)
SELECT touch_type,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       {r4_sql("COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE)")}
         AS purchase_share,
       {r2_sql("AVG(value)")} AS avg_value
FROM attributed
GROUP BY touch_type
"""


@query("last_touch_attribution", ATTRIBUTION_ORACLE)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    is_touch = F.col("event_type").isin("click", "view", "signup")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ordered = e.select(
        "event_type",
        "ts",
        "value",
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
    )
    in_window = (
        F.col("ts").cast("long") - F.col("touch_ts").cast("long")
    ) <= ATTRIB_LOOKBACK_S
    attributed = ordered.filter(F.col("event_type") == "purchase").select(
        F.coalesce(
            F.when(in_window, F.col("touch_type")), F.lit("none")
        ).alias("touch_type"),
        "value",
    )
    counts = attributed.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.avg("value").alias("avg_raw"),
    )
    share_w = Window.partitionBy()
    return counts.select(
        "touch_type",
        "n_purchases",
        r4(
            F.col("n_purchases")
            / F.sum("n_purchases").over(share_w).cast("double")
        ).alias("purchase_share"),
        r2(F.col("avg_raw")).alias("avg_value"),
    )


# --------------------------------------------------------------------------
# B43 — temporal train/test split with a leakage readout. Hash splits
# (H5) are wrong for forecasting workloads: the honest protocol cuts
# at a TIME boundary, and the number a reviewer asks for first is how
# many entities straddle it (their test rows are partially explained
# by their train rows). Boundary = min_ts + 80% of the observed span,
# computed in exact integer microseconds so both engines cut
# identically.
# --------------------------------------------------------------------------

TSPLIT_FRAC = 0.8

TEMPORAL_SPLIT_ORACLE = f"""
WITH span AS (
  SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
),
b AS (
  SELECT lo + CAST(floor({TSPLIT_FRAC} * CAST(hi - lo AS DOUBLE)
                    + 1e-9) AS BIGINT) AS cut
  FROM span
),
lab AS (
  SELECT user_id,
         CASE WHEN epoch_us(ts) < b.cut THEN 1 ELSE 0 END AS is_train
  FROM events CROSS JOIN b
),
per_user AS (
  SELECT user_id, MAX(is_train) AS in_train,
         MAX(1 - is_train) AS in_test
  FROM lab GROUP BY user_id
)
SELECT CAST((SELECT SUM(is_train) FROM lab) AS BIGINT) AS train_events,
       CAST((SELECT SUM(1 - is_train) FROM lab) AS BIGINT) AS test_events,
       CAST(SUM(in_train) AS BIGINT) AS n_users_train,
       CAST(SUM(in_test) AS BIGINT) AS n_users_test,
       CAST(SUM(in_train * in_test) AS BIGINT) AS n_leaked_users,
       {r4_sql("CAST(SUM(in_train * in_test) AS DOUBLE)"
               " / greatest(SUM(in_test), 1)")} AS leak_ratio
FROM per_user
"""


@query("temporal_split_leakage", TEMPORAL_SPLIT_ORACLE)
def temporal_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass: a 1-row min/max agg broadcasts the cut; one labeled
    scan then folds into a per-user groupBy (single shuffle on
    user_id) whose 1-row rollup carries every readout."""
    e = t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    span = e.agg(
        F.min(us).alias("lo"), F.max(us).alias("hi")
    ).select(
        (
            F.col("lo")
            + F.floor(
                TSPLIT_FRAC * (F.col("hi") - F.col("lo")).cast("double")
                + 1e-9
            ).cast("bigint")
        ).alias("cut")
    )
    lab = e.crossJoin(F.broadcast(span)).select(
        "user_id",
        F.when(us < F.col("cut"), 1).otherwise(0).alias("is_train"),
    )
    per_user = lab.groupBy("user_id").agg(
        F.max("is_train").alias("in_train"),
        F.max(1 - F.col("is_train")).alias("in_test"),
        F.sum("is_train").alias("u_train"),
        F.sum(1 - F.col("is_train")).alias("u_test"),
    )
    return per_user.agg(
        F.sum("u_train").cast("bigint").alias("train_events"),
        F.sum("u_test").cast("bigint").alias("test_events"),
        F.sum("in_train").cast("bigint").alias("n_users_train"),
        F.sum("in_test").cast("bigint").alias("n_users_test"),
        F.sum(F.col("in_train") * F.col("in_test"))
        .cast("bigint")
        .alias("n_leaked_users"),
        r4(
            F.sum(F.col("in_train") * F.col("in_test")).cast("double")
            / F.greatest(F.sum("in_test"), F.lit(1))
        ).alias("leak_ratio"),
    )


# --------------------------------------------------------------------------
# B44 — rank-based feature normalization: percent_rank and cume_dist
# of `value` within each event_type (the quantile-normalization step
# ML preprocessing applies to heavy-tailed features; rank transforms
# are the robust alternative to z-scores B21 uses). Emitted as a
# per-event relation keyed by event_id so a feature pipeline joins it
# back; the window is partitioned by type — never global.
# Determinism: ranks are integers over the (value, event_id) total
# order; both engines divide the same integers.
# --------------------------------------------------------------------------

PCT_RANK_ORACLE = f"""
WITH nn AS (
  SELECT event_id, event_type, value FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT event_id, event_type, value,
         RANK() OVER (PARTITION BY event_type ORDER BY value, event_id)
             AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM nn
)
SELECT event_id, event_type, ROUND(value, 2) AS value,
       {r6_sql("CAST(rk - 1 AS DOUBLE) / greatest(n - 1, 1)")}
           AS pct_rank,
       {r6_sql("CAST(rk AS DOUBLE) / n")} AS cume_dist_ub
FROM r
"""


@query("value_percent_rank_features", PCT_RANK_ORACLE)
def value_percent_rank_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One type-partitioned window computes both normalizations from
    the same integer rank; the (value, event_id) tiebreak makes the
    rank — and therefore the feature — reproducible run to run."""
    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    rk = F.rank().over(w)
    n = F.count(F.lit(1)).over(wn)
    return e.select(
        "event_id",
        "event_type",
        F.round("value", 2).alias("value"),
        r6(
            (rk - 1).cast("double") / F.greatest(n - 1, F.lit(1))
        ).alias("pct_rank"),
        r6(rk.cast("double") / n).alias("cume_dist_ub"),
    )


# --------------------------------------------------------------------------
# B45 — exponentially weighted moving average of the per-type daily
# count series. True EWMA is a recursion (order-dependent, hostile to
# parallelism AND to cross-engine float determinism); the bounded
# form used here — a 10-day window with weights (1-a)^k normalized
# over the AVAILABLE lags — is the standard production compromise:
# each output row is a fixed left-associated 10-term chain, identical
# IEEE arithmetic on both engines, and the window is partitioned by
# type (never global). The anomaly baseline B21 uses a global mean;
# this is its drift-tracking upgrade.
# --------------------------------------------------------------------------

EWMA_ALPHA = 0.3
EWMA_WIN = 10


def _ewma_terms_sql() -> tuple[str, str]:
    num, den = [], []
    for k in range(EWMA_WIN):
        w = (1 - EWMA_ALPHA) ** k
        x = f"LAG(n, {k}) OVER w" if k else "n"
        num.append(f"{w!r} * COALESCE({x}, 0)")
        den.append(f"{w!r} * (CASE WHEN {x} IS NULL THEN 0 ELSE 1 END)")
    return " + ".join(num), " + ".join(den)


_EWMA_NUM, _EWMA_DEN = _ewma_terms_sql()

EWMA_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, CAST(n AS BIGINT) AS n,
       {r4_sql(f"({_EWMA_NUM}) / ({_EWMA_DEN})")} AS ewma
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day)
"""


@query("ewma_daily_counts", EWMA_ORACLE)
def ewma_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    num = None
    den = None
    for k in range(EWMA_WIN):
        wt = (1 - EWMA_ALPHA) ** k
        x = F.lag("n", k).over(w) if k else F.col("n")
        nt = wt * F.coalesce(x, F.lit(0))
        dt = wt * F.when(x.isNull(), 0).otherwise(1)
        num = nt if num is None else num + nt
        den = dt if den is None else den + dt
    return daily.select(
        "event_type",
        "day",
        F.col("n").cast("bigint").alias("n"),
        r4(num / den).alias("ewma"),
    )


# --------------------------------------------------------------------------
# B46 — day-of-week seasonality decomposition: fit the per-type DOW
# profile (mean daily count per ISO weekday), subtract it, and report
# residual magnitude — the classic "remove the weekly cycle before
# alarming" step that makes B21-style anomaly baselines honest on
# weekly-periodic traffic. Two grouped aggregates + one broadcast
# join; the profile frame is |types|·7 rows.
# --------------------------------------------------------------------------

DOW_SEASONAL_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, isodow(CAST(ts AS DATE))
             AS dow, COUNT(*) AS n
  FROM events GROUP BY 1, 2, 3
),
profile AS (
  SELECT event_type, dow, AVG(n) AS dow_mean
  FROM daily GROUP BY event_type, dow
),
resid AS (
  SELECT d.event_type, d.n - p.dow_mean AS r, p.dow_mean, d.dow
  FROM daily d JOIN profile p
    ON p.event_type = d.event_type AND p.dow = d.dow
),
peak AS (
  SELECT event_type, dow AS peak_dow FROM (
    SELECT event_type, dow,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY dow_mean DESC, dow) AS rk
    FROM profile
  ) WHERE rk = 1
)
SELECT r.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       {r4_sql("AVG(abs(r.r))")} AS mean_abs_residual,
       {r4_sql("MAX(abs(r.r))")} AS max_abs_residual,
       CAST(MIN(p.peak_dow) AS INT) AS peak_dow
FROM resid r JOIN peak p ON p.event_type = r.event_type
GROUP BY r.event_type
"""


@query("dow_seasonality_residuals", DOW_SEASONAL_ORACLE)
def dow_seasonality_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """daily counts -> tiny (type, dow) profile broadcast back ->
    residual rollup; `dayofweek` is rotated to ISO (Mon=1) to match
    DuckDB's isodow."""
    e = t(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    iso_dow = ((F.dayofweek(day) + 5) % 7) + 1
    # pinned: the (type x day) frame feeds the profile fit AND the
    # residual join — each consumer otherwise re-scans events
    daily = pin(
        e.groupBy("event_type", day.alias("day"), iso_dow.alias("dow"))
        .agg(F.count(F.lit(1)).alias("n")),
        "daily counts",
    )
    profile = daily.groupBy("event_type", "dow").agg(
        F.avg("n").alias("dow_mean")
    )
    wpk = Window.partitionBy("event_type").orderBy(
        F.desc("dow_mean"), "dow"
    )
    peak = (
        profile.withColumn("rk", F.row_number().over(wpk))
        .filter(F.col("rk") == 1)
        .select("event_type", F.col("dow").alias("peak_dow"))
    )
    resid = daily.join(F.broadcast(profile), ["event_type", "dow"]).select(
        "event_type", (F.col("n") - F.col("dow_mean")).alias("r")
    )
    return (
        resid.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            r4(F.avg(F.abs("r"))).alias("mean_abs_residual"),
            r4(F.max(F.abs("r"))).alias("max_abs_residual"),
        )
        .join(F.broadcast(peak), "event_type")
        .select(
            "event_type",
            "n_days",
            "mean_abs_residual",
            "max_abs_residual",
            F.col("peak_dow").cast("int").alias("peak_dow"),
        )
    )


# --------------------------------------------------------------------------
# B47 — multiple conditional DISTINCT aggregates in ONE pass: per
# type, distinct users overall / with purchases elsewhere? no — with
# high values / recently active. Spark plans N distinct aggregates
# over one input as a single Expand (each row replicated once per
# distinct spec, then one two-level aggregate) — one scan, one
# shuffle, versus the N self-joins a naive writer reaches for. The
# FILTER-clause twin is exactly how the oracle states it.
# --------------------------------------------------------------------------

MULTI_DISTINCT_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS u_all,
       CAST(COUNT(DISTINCT user_id) FILTER (WHERE value > 75)
            AS BIGINT) AS u_high_value,
       CAST(COUNT(DISTINCT user_id) FILTER (
            WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL 7 DAY)
            AS BIGINT) AS u_last_week,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
"""


@query("multi_distinct_user_counts", MULTI_DISTINCT_ORACLE)
def multi_distinct_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three distinct specs + a plain count fold into one Expand-based
    aggregate; the scalar max-ts is a broadcast 1-row frame."""
    e = t(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("mx"))
    return (
        e.crossJoin(F.broadcast(mx))
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("u_all"),
            F.count_distinct(
                F.when(F.col("value") > 75, F.col("user_id"))
            )
            .cast("bigint")
            .alias("u_high_value"),
            F.count_distinct(
                F.when(
                    F.col("ts") >= F.col("mx") - F.expr("INTERVAL 7 DAY"),
                    F.col("user_id"),
                )
            )
            .cast("bigint")
            .alias("u_last_week"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# B48 — Benford first-digit audit of `value` per type: leading-digit
# frequencies vs the Benford expectation log10(1 + 1/d) — the
# fraud/synthetic-data screen auditors run on transaction amounts.
# First digit extracted ARITHMETICALLY (floor(v / 10^floor(log10 v)))
# — never via string formatting, which engines render differently.
# --------------------------------------------------------------------------

BENFORD_ORACLE = f"""
WITH pos AS (
  SELECT event_type, value FROM events WHERE value IS NOT NULL AND value > 0
),
digits AS (
  SELECT event_type,
         CAST(floor(value / power(10, floor(log10(value)))) AS INT) AS d
  FROM pos
),
cm AS (
  SELECT event_type, d, COUNT(*) AS n FROM digits GROUP BY 1, 2
),
tot AS (SELECT event_type, SUM(n) AS nt FROM cm GROUP BY event_type)
SELECT cm.event_type, cm.d,
       CAST(cm.n AS BIGINT) AS n,
       {r4_sql("CAST(cm.n AS DOUBLE) / tot.nt")} AS observed_share,
       {r4_sql("log10(1.0 + 1.0 / cm.d)")} AS benford_share,
       {r4_sql(
           "abs(CAST(cm.n AS DOUBLE) / tot.nt - log10(1.0 + 1.0 / cm.d))"
       )} AS abs_dev
FROM cm JOIN tot USING (event_type)
"""


@query("benford_first_digit", BENFORD_ORACLE)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    )
    d = F.floor(
        F.col("value") / F.pow(F.lit(10.0), F.floor(F.log10("value")))
    ).cast("int")
    cm = e.groupBy("event_type", d.alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cm.groupBy("event_type").agg(F.sum("n").alias("nt"))
    obs = F.col("n").cast("double") / F.col("nt")
    ben = F.log10(1.0 + 1.0 / F.col("d"))
    return (
        cm.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "d",
            F.col("n").cast("bigint").alias("n"),
            r4(obs).alias("observed_share"),
            r4(ben).alias("benford_share"),
            r4(F.abs(obs - ben)).alias("abs_dev"),
        )
    )


# --------------------------------------------------------------------------
# J1/J9 driver gates — these two keys run the REAL Structured Streaming
# machinery, not a batch twin: the query fn exports the events table to
# JSONL micro-batch files, runs the actual readStream pipeline with
# availableNow (several micro-batches via maxFilesPerTrigger), and
# returns the sink contents — so the driver's DuckDB oracle verifies
# readStream → clean/session_window → foreachBatch/memory sink
# end-to-end, the way J3–J6 gate the other streaming semantics.
#
# ts survives the JSONL round trip at full precision: exported as
# `yyyy-MM-dd HH:mm:ss.SSSSSS` and parsed back with the same explicit
# timestampFormat (events carry microsecond components; the default
# JSON timestamp writer truncates to millis).
#
# 100 TB: the export is test plumbing only — production points
# readStream at the real source. The streaming plan itself is the
# scale artifact: per-micro-batch incremental state (session merge /
# partitioned append), watermark-bounded, no global materialization.
# --------------------------------------------------------------------------

_STREAM_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


_STREAM_EXPORT_CACHE: dict[tuple[str, int], str] = {}
_STREAM_TMP_ROOTS: list[str] = []


def _stream_tmp_root() -> str:
    """A fresh temp root for one stream run (src symlink + checkpoint +
    sink), registered for process-exit cleanup: repeated gate/bench runs
    in one session previously accumulated unbounded mkdtemp dirs and
    stream checkpoints (they were never removed at all)."""
    import atexit
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="spark_graft_stream_")
    if not _STREAM_TMP_ROOTS:
        atexit.register(
            lambda: [
                shutil.rmtree(p, ignore_errors=True)
                for p in _STREAM_TMP_ROOTS
            ]
        )
    _STREAM_TMP_ROOTS.append(root)
    return root


def _export_stream_source(spark: SparkSession, sf_dir: str, n_files: int = 6) -> str:
    """Write the events table as `n_files` JSONL files under a fresh
    temp dir; returns the dir. Each file becomes (at most) one
    micro-batch constituent, so availableNow replays a multi-batch
    backlog rather than one giant batch.

    The export is test scaffolding (production points readStream at
    the real source), so it is memoized per (sf_dir, n_files): bench's
    steady passes and repeated gate runs then time the STREAM, not the
    repeated JSONL re-export. Checkpoints/sinks are NOT cached — each
    call gets a fresh subdir so exactly-once replay is still exercised
    end-to-end every run. Every root (cached export included) is
    removed at process exit via ``_stream_tmp_root``."""
    cached = _STREAM_EXPORT_CACHE.get((sf_dir, n_files))
    if cached is not None and os.path.isdir(f"{cached}/src"):
        root = _stream_tmp_root()
        os.symlink(f"{cached}/src", f"{root}/src")
        return root
    root = _stream_tmp_root()
    src = f"{root}/src"
    (
        t(spark, sf_dir, "events")
        .select(
            F.col("event_id").cast("string").alias("event_id"),
            F.date_format("ts", _STREAM_TS_FMT).alias("ts"),
            F.col("user_id").cast("string").alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .repartition(n_files)
        .write.mode("overwrite")
        .json(src)
    )
    _STREAM_EXPORT_CACHE[(sf_dir, n_files)] = root
    return root


def _release_stream_run(root: str, keep: tuple[str, ...] = ()) -> None:
    """Best-effort EAGER cleanup of a finished stream run's disk
    footprint: the checkpoint state store and the per-run src symlink
    are dead the moment ``awaitTermination`` returns, and a long-lived
    session running many gate/bench iterations otherwise accumulates
    one of each per run until process exit (the atexit sweep never
    fires under SIGKILL). ``keep`` names subdirs that must outlive the
    call — J1's parquet sink is read lazily by the returned DataFrame.
    The memoized JSONL export root is never touched here (other runs
    symlink into it); the atexit sweep in ``_stream_tmp_root`` stays as
    the backstop for whatever this pass keeps or misses."""
    import shutil

    if root in _STREAM_EXPORT_CACHE.values():
        return  # this run owns the cached export; atexit reaps it
    for sub in ("ckpt", "src", "sink"):
        if sub in keep:
            continue
        p = f"{root}/{sub}"
        try:
            if os.path.islink(p):
                os.unlink(p)
            else:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    if not keep:
        try:
            os.rmdir(root)
            _STREAM_TMP_ROOTS.remove(root)
        except (OSError, ValueError):
            pass


STREAMING_ETL_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(TRY_CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1)
                  AS INTEGER)) AS BIGINT) AS n_with_k,
       CAST(SUM(TRY_CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1)
                AS INTEGER)) AS BIGINT) AS sum_k,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(SUM(CAST(hour(ts) AS INTEGER)) AS BIGINT) AS sum_hour
FROM events
WHERE event_id IS NOT NULL AND ts IS NOT NULL
GROUP BY event_type
"""


@query("streaming_etl_counts", STREAMING_ETL_ORACLE)
def streaming_etl_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 under the driver oracle: run the foreachBatch ETL stream
    (clean → date-partitioned parquet append), read the sink back, and
    roll it up per event_type — counts, parsed-k coverage, distinct
    partition days, and the derived hour column, all of which only
    match the oracle if every micro-batch cleaned and landed exactly
    once (availableNow + checkpoint = exactly-once file sink)."""
    from drive_bc_datapipeline_spark.streaming.pipeline import start_etl_stream

    root = _export_stream_source(spark, sf_dir)
    q = start_etl_stream(
        spark,
        f"{root}/src",
        f"{root}/sink",
        f"{root}/ckpt",
        timestamp_format=_STREAM_TS_FMT,
    )
    q.awaitTermination(300)
    _release_stream_run(root, keep=("sink",))  # sink is read lazily below
    out = spark.read.parquet(f"{root}/sink")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("k").alias("n_with_k"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.countDistinct("event_date").alias("n_days"),
        F.sum("hour").cast("bigint").alias("sum_hour"),
    )


STREAMING_SESSION_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL {SESSION_GAP_MIN} MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS UNBOUNDED PRECEDING
         ) AS session_no
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
       COUNT(*) AS n_events,
       {r2_sql("SUM(value)")} AS total_value
FROM sess
GROUP BY user_id, session_no
"""


@query("streaming_session_stats", STREAMING_SESSION_ORACLE)
def streaming_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 under the driver oracle: run the native session_window
    aggregation as an actual stream (state-store session merge across
    micro-batches, availableNow) and emit the merged sessions from the
    memory sink. Matches B16's batch semantics — the oracle is the
    same gap-based sessionization CTE — so a green row proves the
    streaming state merge reconstructs exactly the batch sessions.
    EPS-nudged rounding on both sides: the stream accumulates value
    sums in micro-batch order, the oracle in scan order."""
    import uuid

    from drive_bc_datapipeline_spark.streaming.pipeline import (
        start_session_window_stream,
    )

    root = _export_stream_source(spark, sf_dir)
    qname = f"sessions_{uuid.uuid4().hex[:8]}"
    q = start_session_window_stream(
        spark,
        f"{root}/src",
        f"{root}/ckpt",
        query_name=qname,
        gap=f"{SESSION_GAP_MIN} minutes",
        watermark="24 hours",
        timestamp_format=_STREAM_TS_FMT,
    )
    q.awaitTermination(300)
    _release_stream_run(root)  # memory sink — no on-disk output to keep
    return spark.table(qname).select(
        F.col("user_id").cast("long").alias("user_id"),
        "session_start",
        "session_end",
        F.col("n_events").cast("bigint").alias("n_events"),
        r2(F.col("total_value")).alias("total_value"),
    )


# --------------------------------------------------------------------------
# J2 driver gate — the watermark + tumbling-window aggregation run as a
# REAL stream (state store across micro-batches, availableNow backlog
# replay), completing the J1/J9 pattern: the memory sink's complete-mode
# table must equal the batch hourly rollup, which only happens if every
# micro-batch's incremental state merge was exact.
# --------------------------------------------------------------------------

STREAMING_WINDOWED_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2, 3
"""


@query("streaming_windowed_counts", STREAMING_WINDOWED_ORACLE)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 under the driver oracle: tumbling 1-hour windows with a
    watermark, executed as an actual multi-micro-batch stream. The
    watermark (2h) never evicts state in complete output mode, so the
    sink holds every window — equality with the batch GROUP BY is the
    exactness proof for the windowed state store."""
    import uuid

    from drive_bc_datapipeline_spark.streaming.pipeline import (
        start_windowed_counts_stream,
    )

    root = _export_stream_source(spark, sf_dir)
    qname = f"hourly_{uuid.uuid4().hex[:8]}"
    q = start_windowed_counts_stream(
        spark,
        f"{root}/src",
        f"{root}/ckpt",
        query_name=qname,
        timestamp_format=_STREAM_TS_FMT,
    )
    q.awaitTermination(300)
    _release_stream_run(root)  # memory sink — no on-disk output to keep
    return spark.table(qname).select(
        "window_start",
        "window_end",
        "event_type",
        F.col("cnt").cast("bigint").alias("cnt"),
    )


# --------------------------------------------------------------------------
# J7 driver gate — stream-static broadcast enrichment: each micro-batch
# left-joins the (broadcast) customer dimension; the sink rollup per
# (mktsegment, event_type) equals the batch join iff every micro-batch
# saw the full dim and no event was dropped or duplicated. This is the
# workhorse production shape (events enriched with user attributes on
# arrival), previously tests-only (J7).
# --------------------------------------------------------------------------

STREAMING_ENRICHED_ORACLE = f"""
SELECT COALESCE(c.c_mktsegment, 'unknown') AS mktsegment,
       e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {r2_sql("SUM(e.value)")} AS total_value
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
WHERE e.ts IS NOT NULL
GROUP BY 1, 2
"""


@query("streaming_enriched_counts", STREAMING_ENRICHED_ORACLE)
def streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from drive_bc_datapipeline_spark.streaming.pipeline import (
        start_enriched_stream,
    )

    dim = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("user_id"),
        "c_mktsegment",
    )
    root = _export_stream_source(spark, sf_dir)
    qname = f"enriched_{uuid.uuid4().hex[:8]}"
    q = start_enriched_stream(
        spark,
        f"{root}/src",
        dim,
        f"{root}/ckpt",
        query_name=qname,
        timestamp_format=_STREAM_TS_FMT,
    )
    q.awaitTermination(300)
    _release_stream_run(root)  # memory sink — no on-disk output to keep
    return (
        spark.table(qname)
        .groupBy(
            F.coalesce("c_mktsegment", F.lit("unknown")).alias("mktsegment"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            r2(F.sum("value")).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# B49 — RFM segmentation: per-user recency/frequency/monetary quartiles
# and the resulting 4x4x4 segment grid. Quartiles are rank-based
# (exact NTILE(4) semantics), and the global rank is computed WITHOUT a
# single-partition window: each metric gets a range-partitioned
# distributed rank via exclusive_prefix_sum (operators/prefix.py) —
# the same two-phase scan shard_packing uses — so a billion-user table
# ranks with per-partition local windows plus a |partitions|-row
# driver exchange. Ordering keys are cross-engine exact: day-precision
# recency, integer frequency, and cent-quantized monetary (EPS-nudged
# round), each tie-broken by user_id.
# --------------------------------------------------------------------------

_RFM_K = 4


def _rfm_ntile(rank_col: str, n_col: str):
    """Exact NTILE(k) bucket from a 1-based rank and the total row
    count: the first n%k buckets get floor(n/k)+1 rows, the rest
    floor(n/k) (lazy branches keep the base=0 division unreachable)."""
    r, n = F.col(rank_col), F.col(n_col)
    base = F.floor(n / _RFM_K)
    rem = n % _RFM_K
    big = rem * (base + 1)
    return (
        F.when(r <= big, F.ceil(r / (base + 1)))
        .otherwise(rem + F.ceil((r - big) / base))
        .cast("int")
    )


RFM_ORACLE = f"""
WITH mx AS (
  SELECT MAX(CAST(ts AS DATE)) AS d0 FROM events WHERE ts IS NOT NULL
),
u AS (
  SELECT user_id,
         DATE_DIFF('day', MAX(CAST(ts AS DATE)), (SELECT d0 FROM mx))
           AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(ROUND(COALESCE(SUM(value), 0) * 100 + 0.001, 0) AS BIGINT)
           AS monetary_cents
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id
),
q AS (
  SELECT recency_days, frequency, monetary_cents,
         NTILE({_RFM_K}) OVER (ORDER BY recency_days, user_id) AS r_q,
         NTILE({_RFM_K}) OVER (ORDER BY frequency, user_id) AS f_q,
         NTILE({_RFM_K}) OVER (ORDER BY monetary_cents, user_id) AS m_q
  FROM u
)
SELECT CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q,
       CAST(m_q AS INT) AS m_q,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       {r4_sql("AVG(recency_days)")} AS avg_recency_days,
       {r4_sql("AVG(frequency)")} AS avg_frequency,
       {r2_sql("AVG(monetary_cents / 100.0)")} AS avg_monetary
FROM q
GROUP BY 1, 2, 3
"""


@query("user_rfm_segments", RFM_ORACLE)
def user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE prefix scan ranks all three metrics: each user row fans out
    map-side (posexplode) into (which, metric-value) rows, the stacked
    3n-row frame takes a single range-partitioned exclusive scan
    ordered by struct(which, value, user_id), and per-metric rank =
    global rank − which·n (each metric block holds exactly n rows).
    n itself falls out of the scan's driver-side totals (with_total) —
    no separate count job. Versus three chained scans this is one
    sort shuffle + one checkpoint instead of three of each."""
    from drive_bc_datapipeline_spark.operators.prefix import (
        exclusive_prefix_sum,
    )

    e = t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    d0 = e.agg(F.max(F.to_date("ts")).alias("d0"))
    u = (
        e.groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            F.coalesce(F.sum("value"), F.lit(0.0)).alias("monetary_raw"),
        )
        .crossJoin(F.broadcast(d0))
        .select(
            "user_id",
            F.datediff("d0", "last_day").cast("bigint").alias("recency_days"),
            F.col("frequency").cast("bigint").alias("frequency"),
            F.round(F.col("monetary_raw") * 100 + 0.001, 0)
            .cast("bigint")
            .alias("monetary_cents"),
        )
    )
    stacked = u.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.posexplode(
            F.array("recency_days", "frequency", "monetary_cents")
        ).alias("__which", "__mv"),
    ).select(
        "*",
        F.struct("__which", "__mv", "user_id").alias("__ord"),
        F.lit(1).alias("__one"),
    )
    ranked, total = exclusive_prefix_sum(
        stacked, "__ord", "__one", out_col="__gr", with_total=True
    )
    n = total // 3  # 3 metric blocks of exactly n users each
    rank_in_metric = F.col("__gr") + 1 - F.col("__which") * F.lit(n)
    pivoted = (
        ranked.withColumn("__rk", rank_in_metric)
        .groupBy("user_id")
        .agg(
            F.first("recency_days").alias("recency_days"),
            F.first("frequency").alias("frequency"),
            F.first("monetary_cents").alias("monetary_cents"),
            *[
                F.max(
                    F.when(F.col("__which") == i, F.col("__rk"))
                ).alias(f"__rk_{out}")
                for i, out in enumerate(("r_q", "f_q", "m_q"))
            ],
        )
        .withColumn("__n", F.lit(n).cast("bigint"))
    )
    for out in ("r_q", "f_q", "m_q"):
        pivoted = pivoted.withColumn(out, _rfm_ntile(f"__rk_{out}", "__n"))
    return pivoted.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).alias("n_users"),
        r4(F.avg("recency_days")).alias("avg_recency_days"),
        r4(F.avg("frequency")).alias("avg_frequency"),
        r2(F.avg(F.col("monetary_cents") / 100.0)).alias("avg_monetary"),
    )


# --------------------------------------------------------------------------
# B50 — one-sided CUSUM drift detection on the daily count series per
# event type. The textbook recursion S_i = max(0, S_{i-1} + dev_i) is
# not window-expressible, but its closed form is: S_i = P_i -
# min(0, min_{j<i} P_j) where P is the running sum of deviations —
# two per-key sequential windows, the same shape both engines execute
# in identical order (so fp agreement is structural, not luck).
# Threshold = 3 sigma of the daily counts; the flag compares the
# ROUNDED values so both engines derive it from identical numbers.
# --------------------------------------------------------------------------

CUSUM_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
st AS (
  SELECT event_type, AVG(n) AS mu, STDDEV_SAMP(n) AS sd
  FROM daily GROUP BY 1
),
p AS (
  SELECT d.event_type, d.day, d.n, s.sd,
         SUM(d.n - s.mu) OVER (
           PARTITION BY d.event_type ORDER BY d.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS psum
  FROM daily d JOIN st s USING (event_type)
),
c AS (
  SELECT event_type, day, n,
         psum - LEAST(0.0, COALESCE(MIN(psum) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0.0)) AS cusum,
         3.0 * sd AS h
  FROM p
)
SELECT event_type, CAST(day AS VARCHAR) AS day, CAST(n AS BIGINT) AS n_events,
       {r4_sql("cusum")} AS cusum_pos,
       {r4_sql("h")} AS threshold,
       CAST(CASE WHEN {r4_sql("cusum")} > {r4_sql("h")} THEN 1 ELSE 0 END
            AS INT) AS drift_flag
FROM c
"""


@query("value_cusum_drift", CUSUM_ORACLE)
def value_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    # the tiny |types|x|days| daily frame feeds both the window pass
    # and the mu/sigma stats — pin it so the events scan runs once
    daily = pin(
        e.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("n")),
        "daily values",
    )
    st = daily.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sd")
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wm = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    p = daily.join(F.broadcast(st), "event_type").withColumn(
        "psum", F.sum(F.col("n") - F.col("mu")).over(wp)
    )
    cusum = F.col("psum") - F.least(
        F.lit(0.0), F.coalesce(F.min("psum").over(wm), F.lit(0.0))
    )
    h = F.lit(3.0) * F.col("sd")
    return p.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.col("n").cast("bigint").alias("n_events"),
        r4(cusum).alias("cusum_pos"),
        r4(h).alias("threshold"),
        F.when(r4(cusum) > r4(h), 1).otherwise(0).cast("int").alias("drift_flag"),
    )


# --------------------------------------------------------------------------
# L12 — label-propagation communities over the event-type transition
# graph (operators/graph.py:label_propagation): which event types
# cluster into behavioral communities. Same tiny-graph/full-operator
# stance as pagerank_type_graph — per-round cost is two shuffles on
# the EDGE frame, the shape that holds at billions of edges. Oracle:
# the identical 4 synchronous rounds unrolled as CTEs (weights are
# integer-valued doubles, so the max-weight/min-label tiebreak is
# exact in both engines — no fp ambiguity).
# --------------------------------------------------------------------------

_LPA_ITER = 4


def _lpa_oracle() -> str:
    head = """
WITH e0 AS (
  SELECT from_type AS a, to_type AS b, CAST(COUNT(*) AS DOUBLE) AS w
  FROM (
    SELECT LAG(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
           ) AS from_type,
           event_type AS to_type
    FROM events
  )
  WHERE from_type IS NOT NULL
  GROUP BY 1, 2
),
edges AS (
  SELECT a AS src, b AS dst, SUM(w) AS w FROM (
    SELECT a, b, w FROM e0 UNION ALL SELECT b, a, w FROM e0
  ) GROUP BY 1, 2
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"""
    iters = []
    for i in range(1, _LPA_ITER + 1):
        prev = f"l{i-1}"
        iters.append(f""",
l{i} AS (
  SELECT node, label FROM (
    SELECT e.dst AS node, p.label,
           ROW_NUMBER() OVER (
             PARTITION BY e.dst ORDER BY SUM(e.w) DESC, p.label
           ) AS rn
    FROM edges e JOIN {prev} p ON e.src = p.node
    GROUP BY e.dst, p.label
  ) WHERE rn = 1
)""")
    tail = f"""
SELECT node AS event_type, label AS community
FROM l{_LPA_ITER}"""
    return head + "".join(iters) + tail


@query("label_propagation_communities", _lpa_oracle())
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from drive_bc_datapipeline_spark.operators.graph import label_propagation

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        e.select(
            F.lag("event_type").over(w).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .filter(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    labels = label_propagation(edges, n_iter=_LPA_ITER)
    return labels.select(
        F.col("node").alias("event_type"), F.col("label").alias("community")
    )


# --------------------------------------------------------------------------
# B51 — Kaplan-Meier time-to-next-event curve with right-censoring:
# the honest "when will the user come back?" estimate. Each event
# contributes one duration — the gap to the user's NEXT event (an
# observed "death" of the waiting period); a user's LAST event is
# right-censored at the corpus edge (the next visit hadn't happened
# yet when observation stopped). Ignoring that censoring (as a plain
# gap histogram like B23 does) biases return times short; KM corrects
# it: S(t) = prod_{t_i <= t} (1 - d_i/n_i) over observed gap-hours,
# computed as exp of a cumulative log sum — identical formula text on
# both engines, r4+EPS absorbing libm ulp.
#
# 100 TB: one events scan through a user-partitioned lead window (the
# B23 shape) plus a 1-row corpus-edge agg broadcast into it; then
# everything runs on the |distinct gap hours| frame, bounded by the
# corpus hour span (like zipf's frequency-of-frequencies frame) — its
# two global cumulative windows are provably tiny, never event-scale.
# --------------------------------------------------------------------------

_HOUR_US = 3_600_000_000
_KM_CAP_HOURS = 24 * 14  # readout cap: two weeks of waiting

KM_ORACLE = f"""
WITH us AS (
  SELECT user_id, event_id, epoch_us(ts) AS u FROM events
),
hi AS (SELECT MAX(u) AS hi FROM us),
gaps AS (
  SELECT CASE WHEN nxt IS NULL THEN (h.hi - u) // {_HOUR_US}
              ELSE (nxt - u) // {_HOUR_US} END AS t,
         CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS death
  FROM (
    SELECT u, LEAD(u) OVER (
      PARTITION BY user_id ORDER BY u, event_id
    ) AS nxt
    FROM us
  ) CROSS JOIN hi h
),
counts AS (
  SELECT t, CAST(SUM(death) AS BIGINT) AS d, CAST(COUNT(*) AS BIGINT) AS m
  FROM gaps GROUP BY t
),
risk AS (
  SELECT t, d, CAST(SUM(m) OVER (ORDER BY t DESC) AS BIGINT) AS n_at_risk
  FROM counts
),
km AS (
  -- d = n_at_risk (everyone left dies) would be LN(0): the hit_zero
  -- flag pins survival to 0 from that row on and keeps the term out
  -- of the log sum (it can only be the terminal death time).
  SELECT t, d, n_at_risk,
         SUM(CASE WHEN n_at_risk > d
                  THEN LN(CAST(n_at_risk - d AS DOUBLE)
                          / CAST(n_at_risk AS DOUBLE))
                  ELSE 0.0 END) OVER (ORDER BY t) AS lsum,
         MAX(CASE WHEN n_at_risk <= d THEN 1 ELSE 0 END)
           OVER (ORDER BY t) AS hit_zero
  FROM risk WHERE d > 0
)
SELECT CAST(t AS BIGINT) AS t_hours, d AS n_deaths, n_at_risk,
       CASE WHEN hit_zero = 1 THEN 0.0
            ELSE {r4_sql("EXP(lsum)")} END AS survival
FROM km WHERE t <= {_KM_CAP_HOURS}
"""


@query("kaplan_meier_retention", KM_ORACLE)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    us = e.select("user_id", "event_id", F.unix_micros("ts").alias("u"))
    hi = us.agg(F.max("u").alias("hi"))
    w = Window.partitionBy("user_id").orderBy("u", "event_id")
    gaps = (
        us.withColumn("nxt", F.lead("u").over(w))
        .crossJoin(F.broadcast(hi))
        .select(
            F.expr(
                f"CASE WHEN nxt IS NULL THEN (hi - u) div {_HOUR_US}"
                f" ELSE (nxt - u) div {_HOUR_US} END"
            ).alias("t"),
            F.when(F.col("nxt").isNull(), 0).otherwise(1).alias("death"),
        )
    )
    counts = gaps.groupBy("t").agg(
        F.sum("death").cast("bigint").alias("d"),
        F.count(F.lit(1)).alias("m"),
    )
    # Both windows run on the |distinct gap hours| frame — bounded by
    # the corpus hour span, never event-scale (see header).
    risk = counts.withColumn(
        "n_at_risk",
        F.sum("m").over(Window.orderBy(F.desc("t"))).cast("bigint"),
    ).filter(F.col("d") > 0)
    surviving = F.col("n_at_risk") > F.col("d")
    km = risk.withColumn(
        "lsum",
        F.sum(
            F.when(
                surviving,
                F.log(
                    (F.col("n_at_risk") - F.col("d")).cast("double")
                    / F.col("n_at_risk").cast("double")
                ),
            ).otherwise(0.0)
        ).over(Window.orderBy("t")),
    ).withColumn(
        "hit_zero",
        F.max(F.when(surviving, 0).otherwise(1)).over(Window.orderBy("t")),
    )
    return km.filter(F.col("t") <= _KM_CAP_HOURS).select(
        F.col("t").cast("bigint").alias("t_hours"),
        F.col("d").alias("n_deaths"),
        "n_at_risk",
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(r4(F.exp("lsum")))
        .alias("survival"),
    )

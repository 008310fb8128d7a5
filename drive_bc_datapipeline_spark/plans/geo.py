"""Geo / clustering plans (SURVEY §2 D): the reference's spatial surface
(cluster.py DBSCAN on event lat/lon), Spark-distributed.

The driver testdata has no coordinates, so events carry deterministic
pseudo-coordinates derived from (value, props.k):
``lat = value / 4 - 40`` (≈[-40, 42]), ``lon = k * 3.6 - 180``
([-180, 176.4]). Identical arithmetic on both engines → exact parity.

Reference parity: cluster.py:33-60 collects ALL points to the driver
and runs sklearn DBSCAN — a non-starter at scale. Here:
- D1 grid-cell density clustering: one shuffle on the cell key; cells
  with >= MIN_SAMPLES points are "core" clusters. This is the scalable
  stand-in with DBSCAN-like density semantics.
- D3 (operators/geo.py, tests-only) runs exact DBSCAN per spatial tile
  via applyInPandas — bounded worker memory, parallel across tiles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from drive_bc_datapipeline_spark.functions import geo as geo_fns
from drive_bc_datapipeline_spark.session import local_frame
from drive_bc_datapipeline_spark.tables import spread
from drive_bc_datapipeline_spark.plans.registry import (
    query,
    r2,
    r2_sql,
    r4,
    r4_sql,
    t,
)

EPS_DEG = 5.0
MIN_SAMPLES = 5

# Portable pseudo-coordinate fragments (valid Spark SQL AND DuckDB).
LAT_SQL = "(value / 4.0 - 40.0)"
LON_SQL = (
    "(TRY_CAST(regexp_extract(props, '\"k\":\\s*(-?\\d+)', 1) AS INTEGER)"
    " * 3.6 - 180.0)"
)


def _lat() -> Column:
    return F.expr("value / 4.0 - 40.0")


def _lon() -> Column:
    k = F.from_json("props", "k INT").getField("k")
    return k * 3.6 - 180.0


# --------------------------------------------------------------------------
# D1 — grid-cell density clustering (scalable DBSCAN stand-in).
# --------------------------------------------------------------------------

GRID_CLUSTER_ORACLE = f"""
SELECT CAST(floor({LON_SQL} / {EPS_DEG}) AS INTEGER) AS cell_x,
       CAST(floor({LAT_SQL} / {EPS_DEG}) AS INTEGER) AS cell_y,
       COUNT(*) AS n_points,
       CASE WHEN COUNT(*) >= {MIN_SAMPLES} THEN 1 ELSE 0 END AS is_core
FROM events
GROUP BY 1, 2
"""


@query("geo_grid_cluster", GRID_CLUSTER_ORACLE)
def geo_grid_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.select(
            F.floor(_lon() / EPS_DEG).cast("int").alias("cell_x"),
            F.floor(_lat() / EPS_DEG).cast("int").alias("cell_y"),
        )
        .groupBy("cell_x", "cell_y")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .withColumn(
            "is_core",
            F.when(F.col("n_points") >= MIN_SAMPLES, 1).otherwise(0),
        )
    )


# --------------------------------------------------------------------------
# D2 — haversine distance (native trig, no UDF — reference computed
# distances via sklearn's haversine metric) bucketed into range bands.
# --------------------------------------------------------------------------

REF_LAT, REF_LON = 49.25, -123.1  # reference point (Vancouver, BC)
EARTH_KM = 6371.0088  # cluster.py:9 KMS_PER_RADIAN
BUCKET_KM = 2000

HAVERSINE_SQL = f"""
(2.0 * {EARTH_KM} * asin(sqrt(
    pow(sin(radians(({LAT_SQL} - {REF_LAT}) / 2.0)), 2)
    + cos(radians({LAT_SQL})) * cos(radians({REF_LAT}))
      * pow(sin(radians(({LON_SQL} - {REF_LON}) / 2.0)), 2)
)))
"""

HAVERSINE_BUCKETS_ORACLE = f"""
SELECT CAST(floor({HAVERSINE_SQL} / {BUCKET_KM}) AS INTEGER) AS dist_bucket_km,
       COUNT(*) AS n_events,
       {r4_sql("AVG(value)")} AS avg_value
FROM events
GROUP BY 1
"""


def _haversine() -> Column:
    # reference point FIRST: (lat2-lat1) must match the oracle's
    # (LAT - REF_LAT) bit-exactly inside sin()
    return geo_fns.haversine_km(
        F.lit(REF_LAT), F.lit(REF_LON), _lat(), _lon()
    )


@query("haversine_distance_buckets", HAVERSINE_BUCKETS_ORACLE)
def haversine_distance_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.select(
            F.floor(_haversine() / BUCKET_KM).cast("int").alias("dist_bucket_km"),
            "value",
        )
        .groupBy("dist_bucket_km")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            r4(F.avg("value")).alias("avg_value"),
        )
    )


# --------------------------------------------------------------------------
# D4 — LineString centroid (etl-historical.py:17-52 parity, native agg
# instead of a Pandas UDF): each user's event trail is the LineString;
# the centroid is the mean of its vertices.
# --------------------------------------------------------------------------

CENTROID_ORACLE = f"""
SELECT user_id,
       COUNT(*) AS n_points,
       {r4_sql(f"AVG({LON_SQL})")} AS centroid_lon,
       {r4_sql(f"AVG({LAT_SQL})")} AS centroid_lat
FROM events
GROUP BY user_id
"""


@query("linestring_centroid", CENTROID_ORACLE)
def linestring_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.select("user_id", _lon().alias("lon"), _lat().alias("lat"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            r4(F.avg("lon")).alias("centroid_lon"),
            r4(F.avg("lat")).alias("centroid_lat"),
        )
    )


# --------------------------------------------------------------------------
# D5 — nearest-hub assignment (nearest-facility spatial join): each
# event point is assigned its closest "hub" (the points of the first 8
# event_ids — a deterministic stand-in for a facility table). Proximity
# is squared degree-space distance, NOT haversine: the argmin must be
# engine-exact, and (Δlat·Δlat + Δlon·Δlon) with identical operand
# order is bit-identical IEEE on both engines, while trig is libm-
# dependent and an ulp difference flips near-equidistant assignments.
# Ties break on hub_id.
#
# 100 TB: the hub table is broadcast (facility sets are dim-sized); the
# scored rows collapse map-side via partial min(struct) BEFORE the
# per-event exchange, so the shuffle moves one row per event, not one
# per (event, hub). The same shape serves geofencing / store-assignment
# at any corpus size.
# --------------------------------------------------------------------------

N_HUBS = 8

NEAREST_HUB_ORACLE = f"""
WITH pts AS (
  SELECT event_id, {LAT_SQL} AS lat, {LON_SQL} AS lon FROM events
),
hubs AS (
  SELECT event_id AS hub_id, lat AS h_lat, lon AS h_lon
  FROM pts WHERE event_id < {N_HUBS}
),
scored AS (
  SELECT p.event_id, h.hub_id,
         (p.lat - h.h_lat) * (p.lat - h.h_lat)
         + (p.lon - h.h_lon) * (p.lon - h.h_lon) AS d2,
         ROW_NUMBER() OVER (
           PARTITION BY p.event_id
           ORDER BY (p.lat - h.h_lat) * (p.lat - h.h_lat)
                    + (p.lon - h.h_lon) * (p.lon - h.h_lon), h.hub_id
         ) AS rnk
  FROM pts p CROSS JOIN hubs h
)
SELECT event_id, hub_id AS nearest_hub, {r4_sql("d2")} AS dist2
FROM scored WHERE rnk = 1
"""


@query("geo_nearest_hub", NEAREST_HUB_ORACLE)
def geo_nearest_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(by=event_id) r17: the per-(point, hub) trig chain — the
    # one CROSS-join-shaped geo key — otherwise runs on the scan's
    # single local partition (r17 interleaved A/B min-of-3: on 0.498
    # vs off 0.999; the other geo keys' per-row work is too light to
    # pay for the exchange and they stay unspread — same A/B). No-op
    # on multi-file corpora at 100 TB.
    e = spread(t(spark, sf_dir, "events"), by="event_id")
    pts = e.select("event_id", _lat().alias("lat"), _lon().alias("lon"))
    hubs = pts.filter(F.col("event_id") < N_HUBS).select(
        F.col("event_id").alias("hub_id"),
        F.col("lat").alias("h_lat"),
        F.col("lon").alias("h_lon"),
    )
    dlat = F.col("lat") - F.col("h_lat")
    dlon = F.col("lon") - F.col("h_lon")
    d2 = dlat * dlat + dlon * dlon
    best = (
        pts.crossJoin(F.broadcast(hubs))
        .select("event_id", F.struct(d2.alias("d2"), "hub_id").alias("c"))
        .groupBy("event_id")
        .agg(F.min("c").alias("c"))
    )
    return best.select(
        "event_id",
        F.col("c.hub_id").alias("nearest_hub"),
        r4(F.col("c.d2")).alias("dist2"),
    )


# --------------------------------------------------------------------------
# D6 — spatial containment join: events against a broadcast set of
# bounding boxes (geofences) — the region-assignment / geofence-alert
# primitive. Boxes are compile-time literals (six disjoint quadrants of
# the synthetic lat/lon domain) so both engines see identical
# geometry; points outside every box simply drop out (inner join).
#
# 100 TB: the fence table is dim-sized → broadcast nested-loop with a
# range predicate per (point, box) — no shuffle of the fact; the
# rollup collapses map-side. For thousands of fences you'd grid-index
# the boxes (bucket by covering cells → equi-join on cell, exact
# range check as residual) — the D1/C19 binning trick in 2-D.
# --------------------------------------------------------------------------

BOXES: list[tuple[int, float, float, float, float]] = [
    # (box_id, lat_lo, lat_hi, lon_lo, lon_hi)
    (0, -40.0, 0.0, -180.0, -60.0),
    (1, -40.0, 0.0, -60.0, 60.0),
    (2, -40.0, 0.0, 60.0, 180.0),
    (3, 0.0, 42.0, -180.0, -60.0),
    (4, 0.0, 42.0, -60.0, 60.0),
    (5, 0.0, 42.0, 60.0, 180.0),
]

_BOX_VALUES_SQL = ", ".join(
    f"({i}, {a}, {b}, {c}, {d})" for i, a, b, c, d in BOXES
)

BBOX_ORACLE = f"""
WITH pts AS (
  SELECT {LAT_SQL} AS lat, {LON_SQL} AS lon FROM events
),
boxes(box_id, lat_lo, lat_hi, lon_lo, lon_hi) AS (
  VALUES {_BOX_VALUES_SQL}
)
SELECT b.box_id,
       COUNT(*) AS n_events,
       {r4_sql("AVG(p.lat)")} AS mean_lat,
       {r4_sql("AVG(p.lon)")} AS mean_lon
FROM pts p
JOIN boxes b
  ON p.lat >= b.lat_lo AND p.lat < b.lat_hi
 AND p.lon >= b.lon_lo AND p.lon < b.lon_hi
GROUP BY b.box_id
"""


@query("geo_bbox_contains", BBOX_ORACLE)
def geo_bbox_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(by=event_id) r17: the broadcast range join fans each point
    # across the box table — the fan-out ran on the scan's single
    # local partition (r17 interleaved A/B min-of-3: on 0.864 vs off
    # 1.063). No-op on multi-file corpora at 100 TB.
    e = spread(t(spark, sf_dir, "events"), by="event_id")
    pts = e.select(_lat().alias("lat"), _lon().alias("lon"))
    boxes = local_frame(
        spark, BOXES, "box_id INT, lat_lo DOUBLE, lat_hi DOUBLE, "
        "lon_lo DOUBLE, lon_hi DOUBLE"
    )
    contained = pts.join(
        F.broadcast(boxes),
        (F.col("lat") >= F.col("lat_lo"))
        & (F.col("lat") < F.col("lat_hi"))
        & (F.col("lon") >= F.col("lon_lo"))
        & (F.col("lon") < F.col("lon_hi")),
    )
    return contained.groupBy("box_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        r4(F.avg("lat")).alias("mean_lat"),
        r4(F.avg("lon")).alias("mean_lon"),
    )


# --------------------------------------------------------------------------
# D7 — point-in-POLYGON containment via ray casting (crossing
# number): D6 handles axis-aligned boxes; real geofences are
# polygons. For each edge, a point crosses if the edge straddles the
# point's latitude and the point lies left of the edge's intersection
# with that latitude; odd total = inside. The polygon is a broadcast
# LITERAL, so the whole test is one codegen'd column expression per
# event — no join, no UDF, linear scan at any scale. The polygon has
# NO horizontal edges by construction: the (y2 - y1) divisor is never
# zero, so the expression is ANSI-mode safe without relying on AND
# short-circuit order.
# --------------------------------------------------------------------------

# (lon, lat) vertices; consecutive latitudes all distinct.
POLY = [(-120.0, -30.0), (-60.0, 10.0), (-100.0, 35.0),
        (-150.0, 20.0), (-170.0, -10.0)]


def _crossings_sql(px: str, py: str) -> str:
    terms = []
    n = len(POLY)
    for i in range(n):
        x1, y1 = POLY[i]
        x2, y2 = POLY[(i + 1) % n]
        terms.append(
            f"CASE WHEN (({y1!r} > {py}) <> ({y2!r} > {py}))"
            f" AND ({px} < ({x2!r} - {x1!r}) * ({py} - {y1!r})"
            f" / ({y2!r} - {y1!r}) + {x1!r}) THEN 1 ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


POINT_IN_POLYGON_ORACLE = f"""
WITH pts AS (
  SELECT event_type, {LAT_SQL} AS lat, {LON_SQL} AS lon FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(CASE WHEN {_crossings_sql("lon", "lat")} % 2 = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
       {r4_sql(
           "SUM(CASE WHEN " + _crossings_sql("lon", "lat")
           + " % 2 = 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)"
       )} AS inside_ratio
FROM pts
GROUP BY event_type
"""


@query("geo_point_in_polygon", POINT_IN_POLYGON_ORACLE)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crossing-number sum is plain column arithmetic over literal
    vertices — identical IEEE comparisons on both engines, summed as
    order-free integer CASE terms."""
    e = t(spark, sf_dir, "events")
    pts = e.select("event_type", _lat().alias("lat"), _lon().alias("lon"))
    inside = (
        F.expr(_crossings_sql("lon", "lat")) % 2 == 1
    ).cast("int")
    return pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum(inside).cast("bigint").alias("n_inside"),
        r4(
            F.sum(inside) / F.count(F.lit(1)).cast("double")
        ).alias("inside_ratio"),
    )


# --------------------------------------------------------------------------
# D8 — per-user trajectory statistics: order each user's events in
# time and sum the haversine hop distances — the sequential-geo shape
# (fleet telemetry, track mileage) that D1/D2's pointwise queries
# don't cover. One user-partitioned window (the same exchange any
# per-user op pays), then a per-user aggregate; nothing global.
# --------------------------------------------------------------------------


def _hav_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return (
        f"(2.0 * {EARTH_KM} * asin(sqrt("
        f"pow(sin(radians(({lat2} - {lat1}) / 2.0)), 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * pow(sin(radians(({lon2} - {lon1}) / 2.0)), 2))))"
    )


TRAJECTORY_ORACLE = f"""
WITH pts AS (
  SELECT user_id, event_id, ts, {LAT_SQL} AS lat, {LON_SQL} AS lon
  FROM events
),
hops AS (
  SELECT user_id, lat, lon,
         LAG(lat) OVER w AS plat,
         LAG(lon) OVER w AS plon
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(plat) AS BIGINT) AS n_hops,
       {r2_sql(
           "COALESCE(SUM(" + _hav_sql("plat", "plon", "lat", "lon")
           + "), 0)"
       )} AS total_km,
       {r2_sql(
           "COALESCE(MAX(" + _hav_sql("plat", "plon", "lat", "lon")
           + "), 0)"
       )} AS max_hop_km
FROM hops
GROUP BY user_id
"""


@query("user_trajectory_stats", TRAJECTORY_ORACLE)
def user_trajectory_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag window keyed (ts, event_id) for a reproducible event order;
    hop distances are the same trig chain as D2 evaluated on the
    lagged pair, summed per user with the r2 epsilon nudge."""
    e = t(spark, sf_dir, "events")
    pts = e.select(
        "user_id", "event_id", "ts", _lat().alias("lat"), _lon().alias("lon")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hops = pts.select(
        "user_id",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    )
    hop_km = geo_fns.haversine_km(
        F.col("plat"), F.col("plon"), F.col("lat"), F.col("lon")
    )
    return hops.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count("plat").cast("bigint").alias("n_hops"),
        r2(F.coalesce(F.sum(hop_km), F.lit(0.0))).alias("total_km"),
        r2(F.coalesce(F.max(hop_km), F.lit(0.0))).alias("max_hop_km"),
    )

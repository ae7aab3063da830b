"""Geofence alerting: a stream of events, each deterministically geocoded,
tested against a broadcast set of polygon fences, aggregated into
per-fence windowed alert counts.

This is the streaming composition of the engine's two halves — the
spatial surface (cell covering + exact point-in-polygon, operators/
spatial.py) and the streaming surface (watermarked tumbling windows,
streaming/windows.py). The reference's nearest behavior is its
notification pipeline (FV/Notifications.cs:96-110: batch changes, then
alert); here the "change" is a geofence entry.

Streaming-safety is the design constraint: the exact PIP test is the
*stateless* `pip_inside` Column, a crossing-parity fold over the edges
each covering row carries (no per-event groupBy, unlike `pip_join_sql`,
which needs an aggregation per candidate pair), so `geofence_hits` is a
pure map/filter over the stream — it chains onto any source and leaves
the single stateful operator to be the windowed count. Batch and stream
run the identical code path; the batch form is the DuckDB oracle and
tests pin availableNow == batch.

At 100 TB/day of events: the fence set is broadcast (small), the covering
prefilter drops events outside candidate cells before the exact test, and
the alert aggregation shuffles only (window, poly_id) — state is bounded
by |fences| x |open windows|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fileverification_spark import grid
from fileverification_spark.operators import spatial as S

WINDOW = "1 hour"
WATERMARK = "2 hours"


def with_geo(events: DataFrame) -> DataFrame:
    """Deterministic geocode: lat/lon from sha256(event_id), the same
    hash->uniform construction as sources.pages.with_derived (so the SQL
    oracle mirrors it bit-for-bit)."""
    h = F.sha2(F.col("event_id").cast("string"), 256)
    u_lat = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") / F.lit(4294967296.0)
    u_lon = F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint") / F.lit(4294967296.0)
    return events.withColumn(
        "lat", u_lat * F.lit(180.0) - F.lit(90.0)
    ).withColumn("lon", u_lon * F.lit(360.0) - F.lit(180.0))


def geofence_hits(
    events: DataFrame, polys: list[S.Polygon], res: int = 4
) -> DataFrame:
    """(event_id, ts, user_id, poly_id, lat, lon) for every event inside a
    fence. Stateless: broadcast covering equi-join + ``pip_inside`` exact
    test — safe to apply to a stream before any watermark/aggregation.
    Both stages are the public spatial primitives, so covering/prune
    behavior stays identical to the batch PIP path by construction."""
    geo = with_geo(events).withColumn(
        "cell", grid.cell_encode(F.col("lat"), F.col("lon"), res)
    )
    cand = S.pip_candidates(geo, polys, res)
    return cand.where(S.pip_inside(F.col("lat"), F.col("lon"))).select(
        "event_id", "ts", "user_id", "poly_id", "lat", "lon"
    )


def geofence_alerts(hits: DataFrame, streaming: bool = False) -> DataFrame:
    """Windowed alert counts per fence: (window_start, poly_id, n_events,
    n_users). The only stateful operator in the pipeline; watermarked in
    streaming mode so state is bounded. n_users is exact per (window,
    fence) — the cardinality is |fences| x |windows|, small."""
    src = hits.withWatermark("ts", WATERMARK) if streaming else hits
    return (
        src.groupBy(F.window("ts", WINDOW).alias("w"), "poly_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "poly_id",
            "n_events",
            "n_users",
        )
    )


def geofence_alerts_exact_users(hits: DataFrame) -> DataFrame:
    """Batch-only twin with EXACT distinct users (count_distinct is not
    incrementally maintainable under update-mode streaming; the streaming
    form uses HLL). This is the contract/oracle surface."""
    return (
        hits.groupBy(F.window("ts", WINDOW).alias("w"), "poly_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "poly_id",
            "n_events",
            "n_users",
        )
    )


def sql_geo_cte(events_rel: str = "events",
                cols: str = "event_id, ts, user_id") -> str:
    """The ONE DuckDB mirror of with_geo: ``geo`` CTE body deriving
    lat/lon from sha256(event_id). Every events-table oracle composes
    this helper so an edit to the derivation cannot de-sync a subset of
    oracles from the Spark side (review r02)."""
    return f"""geo AS (
  SELECT {cols},
         (CAST(('0x' || substr(h, 1, 8)) AS BIGINT) / 4294967296.0
          * 180.0 - 90.0) AS lat,
         (CAST(('0x' || substr(h, 9, 8)) AS BIGINT) / 4294967296.0
          * 360.0 - 180.0) AS lon
  FROM (SELECT *, sha256(CAST(event_id AS VARCHAR)) AS h FROM {events_rel})
)"""


def sql_geofence_alerts(polys: list[S.Polygon], events_rel: str = "events") -> str:
    """Oracle: geocode derivation + crossing-parity PIP + hourly counts,
    all in one query. Output canon: epoch-seconds window_start (BIGINT),
    BIGINT counts — driver-canon-proof."""
    return f"""
WITH {sql_geo_cte(events_rel)},
hits AS (
  SELECT p.event_id, p.ts, p.user_id, p.poly_id FROM (
    SELECT c.poly_id, g.event_id, g.ts, g.user_id, count(*) AS crossings
    FROM geo g,
         (VALUES {S.sql_polygon_edges_values(polys)})
           AS c(poly_id, y1, x1, y2, x2)
    WHERE ((c.y1 > g.lat) != (c.y2 > g.lat))
      AND (g.lon < (c.x2 - c.x1) * (g.lat - c.y1) / (c.y2 - c.y1) + c.x1)
    GROUP BY c.poly_id, g.event_id, g.ts, g.user_id
  ) p WHERE p.crossings % 2 = 1
)
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
       poly_id,
       count(*) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM hits
GROUP BY 1, 2"""

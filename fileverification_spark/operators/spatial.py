"""Spatial query surface (north_rule: point-in-polygon join, kNN, raster
<-> vector tile aggregation) over the geocoded pages table.

The reference has no spatial ops — this is the new surface the graft adds
on top of its verify/manifest substrate (SURVEY §2.4 "Absent in reference"
row). Design:

- **Point-in-polygon**: polygons are few and small → prepared on the
  driver (cell covering per polygon via grid.cells_covering_rect over the
  bbox) and **broadcast**; pages join the covering on `cell` (prefilter —
  this is the partition-pruning step; at 100 TB only the covering cells'
  partitions are read), then an exact ray-casting test runs on the
  surviving candidates. Two exact-test implementations with identical
  arithmetic, both in the JVM:
    * `pip_join` — the `pip_inside` Column: each covering row carries its
      polygon's edges, and an `aggregate` over them counts the crossings
      per candidate row. Stateless, so streams use it too (geofence). The
      canonical path;
    * `pip_join_sql` — join the polygon edges, crossing-parity groupBy:
      the shape of the DuckDB oracle, kept as a cross-check in tests.

- **Driver-built inputs** (coverings, ring disks, query points, labels)
  enter plans through `session.local_relation`, a JVM `LocalTableScan`,
  so no spatial query runs a Python worker.

- **kNN**: `knn_bruteforce` broadcasts the (tiny) query-point set, scores
  every page (one scan, no shuffle until the top-k window) — the exact
  baseline and the oracle. `knn_ring` prefilters candidates to
  grid_disk(query_cell, rings) before scoring — the 100-TB path: the disk
  is a static cell list per query, so the scan prunes to those cells'
  partitions; exactness holds whenever the k-th neighbour lies inside the
  ring (tests assert agreement with brute force, and the API exposes the
  guarantee radius).

- **Raster**: `raster_cells` aggregates per-cell page count + language
  histogram (two-level agg keeps the shuffle width at |cells|, map-side
  partial aggregation comes free from Catalyst); `raster_zoom` rolls a
  finer raster up the ladder *from the raster itself* (8x smaller input
  per level — never re-reads pages).

Distances use squared-euclidean degrees on (lat, lon): the geocoding is
synthetic-uniform by construction (sources/pages.py), so no great-circle
correction is warranted; the formula is documented and mirrored in the
oracle.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from fileverification_spark import grid
from fileverification_spark.session import local_relation

# ---------------------------------------------------------------------------
# Deterministic synthetic polygon + query-point sets (no external data).
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Polygon:
    poly_id: str
    vertices: list[tuple[float, float]]  # (lat, lon), open ring

    @property
    def bbox(self) -> tuple[float, float, float, float]:
        las = [v[0] for v in self.vertices]
        los = [v[1] for v in self.vertices]
        return min(las), max(las), min(los), max(los)


def default_polygons(n: int = 8) -> list[Polygon]:
    """n regular polygons (5..8 vertices) scattered deterministically."""
    polys = []
    for i in range(n):
        cy = -50.0 + 14.0 * i          # center lat
        cx = -160.0 + 41.0 * i         # center lon
        r = 12.0 + 3.0 * (i % 4)
        sides = 5 + (i % 4)
        verts = [
            (
                cy + r * math.cos(2.0 * math.pi * j / sides),
                cx + 1.3 * r * math.sin(2.0 * math.pi * j / sides),
            )
            for j in range(sides)
        ]
        polys.append(Polygon(f"poly{i}", verts))
    return polys


def poly_wkt(p: Polygon) -> str:
    """OGC WKT (lon lat order, closed ring) for a Polygon."""
    ring = list(p.vertices) + [p.vertices[0]]
    coords = ", ".join(f"{lon!r} {lat!r}" for lat, lon in ring)
    return f"POLYGON (({coords}))"


#: numeric literal inside WKT — identical PCRE in Spark and DuckDB
_WKT_NUM_RE = r"-?[0-9]+(?:\.[0-9]+)?(?:[eE][-+]?[0-9]+)?"


def polygon_stats(polys: DataFrame) -> DataFrame:
    """Per-polygon planar geometry over a (poly_id, wkt) table:
    (poly_id, n_vertices, area_deg2, centroid_lon, centroid_lat) via the
    shoelace formula — the vector-side rollup of the raster<->vector
    surface (what a geofence registry runs at load time).

    Scale notes: a pure per-row codegen'd expression chain (regexp parse
    -> fold), zero shuffle, so it runs at scan speed over a
    million-fence registry. Both engines fold the identical per-edge
    term list left-to-right from an exact 0.0 seed, so the doubles (and
    their 6-digit roundings) hash-match. Degenerate rings (|area| <
    1e-12) get NULL centroids rather than a 0/0 NaN."""
    nums = F.transform(
        F.regexp_extract_all(F.col("wkt"), F.lit(_WKT_NUM_RE), 0),
        lambda s: s.cast("double"),
    )
    npts = (F.size(nums) / 2).cast("int")

    def x(i):  # 1-based point index -> lon
        return F.element_at(nums, (2 * i - 1).cast("int"))

    def y(i):
        return F.element_at(nums, (2 * i).cast("int"))

    idx = F.sequence(F.lit(1), npts - 1)
    cross = lambda i: x(i) * y(i + 1) - x(i + 1) * y(i)  # noqa: E731

    def fold(terms):
        return F.aggregate(terms, F.lit(0.0), lambda a, t: a + t)

    signed2a = fold(F.transform(idx, cross))
    cx_sum = fold(F.transform(idx, lambda i: (x(i) + x(i + 1)) * cross(i)))
    cy_sum = fold(F.transform(idx, lambda i: (y(i) + y(i + 1)) * cross(i)))
    degenerate = F.abs(signed2a) < 1e-12
    return polys.select(
        "poly_id",
        (npts - 1).cast("bigint").alias("n_vertices"),
        F.round(F.abs(signed2a) / 2, 6).alias("area_deg2"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(F.round(cx_sum / (3 * signed2a), 6))
        .alias("centroid_lon"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(F.round(cy_sum / (3 * signed2a), 6))
        .alias("centroid_lat"),
    )


def sql_polygon_values(polys: list[Polygon]) -> str:
    """VALUES rows (poly_id, wkt) for the oracle — identical repr-float
    WKT strings to the Spark-side input, so the parse is byte-equal."""
    return ", ".join(f"('{p.poly_id}', '{poly_wkt(p)}')" for p in polys)


def sql_polygon_stats(polys_rel: str) -> str:
    """DuckDB mirror of polygon_stats: same term lists, same left fold
    seeded by the first term (exactly 0.0 + t1)."""
    nums = (
        f"list_transform(regexp_extract_all(wkt, '{_WKT_NUM_RE}'), "
        "s -> CAST(s AS DOUBLE))"
    )

    def x(i):
        return f"nums[2*({i}) - 1]"

    def y(i):
        return f"nums[2*({i})]"

    cross = lambda i: f"({x(i)} * {y(f'{i}+1')} - {x(f'{i}+1')} * {y(i)})"  # noqa: E731

    def fold(term):
        return (
            f"list_reduce(list_transform(range(1, npts), i -> {term}), "
            "(a, t) -> a + t)"
        )

    signed2a = fold(cross("i"))
    cx_sum = fold(f"({x('i')} + {x('i+1')}) * {cross('i')}")
    cy_sum = fold(f"({y('i')} + {y('i+1')}) * {cross('i')}")
    return f"""
WITH parsed AS (
  SELECT poly_id, {nums} AS nums FROM {polys_rel}
),
sized AS (SELECT poly_id, nums, CAST(len(nums) / 2 AS INT) AS npts FROM parsed),
folded AS (
  SELECT poly_id, npts,
         {signed2a} AS signed2a, {cx_sum} AS cx_sum, {cy_sum} AS cy_sum
  FROM sized
)
SELECT poly_id,
       CAST(npts - 1 AS BIGINT) AS n_vertices,
       round(abs(signed2a) / 2, 6) AS area_deg2,
       CASE WHEN abs(signed2a) < 1e-12 THEN NULL
            ELSE round(cx_sum / (3 * signed2a), 6) END AS centroid_lon,
       CASE WHEN abs(signed2a) < 1e-12 THEN NULL
            ELSE round(cy_sum / (3 * signed2a), 6) END AS centroid_lat
FROM folded"""


#: schema of a (query_id, lat, lon) query-point list as a relation
_QUERIES_DDL = "query_id bigint, qlat double, qlon double"


def default_query_points(n: int = 10) -> list[tuple[int, float, float]]:
    """(query_id, lat, lon) — deterministic spread."""
    return [(i, -60.0 + 13.0 * i, ((-150.0 + 37.0 * i + 180.0) % 360.0) - 180.0) for i in range(n)]


# ---------------------------------------------------------------------------
# Point-in-polygon
# ---------------------------------------------------------------------------


def polygon_covering(polys: list[Polygon], res: int) -> list[tuple[str, int]]:
    """(poly_id, cell) covering rows — driver-side prep, broadcast later.
    Conservative bbox covering: false positives removed by the exact test."""
    out = []
    for p in polys:
        la0, la1, lo0, lo1 = p.bbox
        for c in grid.cells_covering_rect(la0, la1, lo0, lo1, res):
            out.append((p.poly_id, c))
    return out


def prune_to_cells(
    pages: DataFrame, cells: "list[int] | set[int]", part_res: int
) -> DataFrame:
    """Static partition pruning: when the pages table carries the coarse
    ``part_cell`` layout column (sources.pages.write_cell_partitioned),
    map the candidate cells onto their ``part_res`` ancestors and apply a
    literal IN predicate. Unlike the broadcast candidate JOIN (which
    filters rows post-scan), a literal predicate on the partition column
    prunes DIRECTORIES before file listing — at 100 TB only candidate
    partitions are read. No-op when the column is absent."""
    if "part_cell" not in pages.columns:
        return pages
    parents = sorted({grid.py_cell_parent(c, part_res) for c in cells})
    return pages.where(F.col("part_cell").isin(parents))


def _edge_rows(polys: list[Polygon]) -> list[tuple[str, float, float, float, float]]:
    """(poly_id, y1, x1, y2, x2) per non-horizontal edge — the input of
    the engine's crossing-parity tests (``pip_inside``, ``pip_join_sql``)."""
    rows = []
    for p in polys:
        v = p.vertices
        for j in range(len(v)):
            y1, x1 = v[j]
            y2, x2 = v[(j + 1) % len(v)]
            if y1 != y2:  # horizontal edge never crosses
                rows.append((p.poly_id, y1, x1, y2, x2))
    return rows


#: one polygon's non-horizontal edges, as carried on its covering rows
_EDGES_DDL = "array<struct<y1: double, x1: double, y2: double, x2: double>>"


def _covering_relation(
    spark: SparkSession, polys: list[Polygon], covering: list[tuple[str, int]]
) -> DataFrame:
    """(poly_id, cov_cell, poly_edges): ``covering`` as a JVM local
    relation, each row carrying its polygon's edges for ``pip_inside``."""
    edges: dict[str, list[tuple[float, float, float, float]]] = {}
    for pid, *edge in _edge_rows(polys):
        edges.setdefault(pid, []).append(tuple(edge))
    return local_relation(
        spark,
        [(pid, c, edges.get(pid, [])) for pid, c in covering],
        f"poly_id string, cov_cell bigint, poly_edges {_EDGES_DDL}",
    )


def pip_candidates(
    pages: DataFrame, polys: list[Polygon], res: int, part_res: int = 2
) -> DataFrame:
    """Covering prefilter: the broadcast (poly_id, cov_cell, poly_edges)
    covering equi-joined on the input's `cell` column (works for any
    relation carrying one — pages, geocoded events). ``pip_inside`` is
    the exact test on the output."""
    covering = polygon_covering(polys, res)
    cov = _covering_relation(pages.sparkSession, polys, covering)
    pages = prune_to_cells(pages, {c for _, c in covering}, part_res)
    # broadcast: covering is tiny (|polys| x bbox cells) — the join prunes
    # pages to covered cells without a shuffle of the big side.
    return pages.join(F.broadcast(cov), pages["cell"] == cov["cov_cell"], "inner")


def pip_inside(lat: F.Column, lon: F.Column) -> F.Column:
    """Exact point-in-polygon test of (lat, lon) against the polygon whose
    ``poly_edges`` the row carries (every ``pip_candidates`` row does):
    ray-casting crossing parity, counted by a JVM ``aggregate`` over the
    edges, so it is stateless and runs in no Python worker. The per-edge
    arithmetic is the exact formula of ``pip_join_sql`` and of the
    ``sql_pip`` oracle, so the three agree bit-for-bit."""

    def crosses(e: F.Column) -> F.Column:
        return ((e["y1"] > lat) != (e["y2"] > lat)) & (
            lon < (e["x2"] - e["x1"]) * (lat - e["y1"]) / (e["y2"] - e["y1"]) + e["x1"]
        )

    crossings = F.aggregate(
        F.col("poly_edges"), F.lit(0), lambda n, e: n + crosses(e).cast("int")
    )
    return crossings % 2 == 1


def pip_join(
    pages: DataFrame,
    polys: list[Polygon],
    res: int,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(poly_id, url, lat, lon[, *keep]) for every page inside a polygon —
    cell-prefilter + exact ``pip_inside`` test (the canonical path)."""
    cand = pip_candidates(pages, polys, res)
    return cand.where(pip_inside(F.col("lat"), F.col("lon"))).select(
        "poly_id", "url", "lat", "lon", *keep
    )


def pip_join_sql(pages: DataFrame, polys: list[Polygon], res: int) -> DataFrame:
    """Same semantics as ``pip_join``, in the shape of the ``sql_pip``
    oracle: join the edges, crossing-parity groupBy.

    Broadcast edge table (|polys| x sides rows); candidate x edge rows stay
    bounded because the cell prefilter ran first. Arithmetic is the exact
    formula of ``pip_inside`` and of ``sql_pip`` (oracle).
    """
    edges = local_relation(
        pages.sparkSession,
        _edge_rows(polys),
        "e_poly string, y1 double, x1 double, y2 double, x2 double",
    )
    cand = pip_candidates(pages, polys, res)
    crossed = cand.join(
        F.broadcast(edges), cand["poly_id"] == edges["e_poly"], "inner"
    ).where(
        ((F.col("y1") > F.col("lat")) != (F.col("y2") > F.col("lat")))
        & (
            F.col("lon")
            < (F.col("x2") - F.col("x1"))
            * (F.col("lat") - F.col("y1"))
            / (F.col("y2") - F.col("y1"))
            + F.col("x1")
        )
    )
    odd = (
        crossed.groupBy("poly_id", "url", "lat", "lon")
        .agg(F.count(F.lit(1)).alias("crossings"))
        .where(F.col("crossings") % 2 == 1)
    )
    return odd.select("poly_id", "url", "lat", "lon")


def pip_counts(pip: DataFrame) -> DataFrame:
    return pip.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n_pages"))


# ---------------------------------------------------------------------------
# kNN
# ---------------------------------------------------------------------------


def _dist2(qlat: F.Column, qlon: F.Column) -> F.Column:
    dy = F.col("lat") - qlat
    dx = F.col("lon") - qlon
    return dy * dy + dx * dx


#: IUGG mean earth radius — the conventional haversine constant.
EARTH_RADIUS_KM = 6371.0088

#: digits kept on geodesic outputs: trig differs by ~1 ulp between the
#: JVM and libm, so raw doubles can't hash-match an oracle; at 6 digits
#: a mismatch needs the true value within ~1e-16·value of a rounding
#: boundary — negligible over any realistic row count.
GEO_ROUND = 6


def haversine_km(
    lat1: F.Column, lon1: F.Column, lat2: F.Column, lon2: F.Column
) -> F.Column:
    """Great-circle distance in km — the geodesic metric for rankings
    where the planar-degree approximation distorts (high latitudes,
    antimeridian-adjacent comparisons). Pure codegen'd trig; no UDF."""
    half_dlat = F.radians(lat2 - lat1) / 2
    half_dlon = F.radians(lon2 - lon1) / 2
    a = (
        F.sin(half_dlat) * F.sin(half_dlat)
        + F.cos(F.radians(lat1))
        * F.cos(F.radians(lat2))
        * F.sin(half_dlon)
        * F.sin(half_dlon)
    )
    # clamp: FP noise can push a to 1 + eps for antipodal pairs
    return 2 * F.lit(EARTH_RADIUS_KM) * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def sql_haversine_km(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """DuckDB mirror of haversine_km (same clamp, same constant)."""
    r = EARTH_RADIUS_KM
    return (
        f"2 * {r} * asin(sqrt(least("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * pow(sin(radians(({lon2}) - ({lon1})) / 2), 2), 1.0)))"
    )


def knn_geodesic(
    pages: DataFrame, queries: list[tuple[int, float, float]], k: int
) -> DataFrame:
    """Exact kNN under the great-circle metric: broadcast query points,
    score every page with haversine_km, window top-k. Same plan shape as
    knn_bruteforce (one scan, broadcast nested-loop, WindowGroupLimit
    rank pushdown); the ranking can differ from the planar form near the
    poles, where one degree of longitude is far shorter than one of
    latitude. dist_km is rounded (GEO_ROUND) for cross-engine parity —
    the RANKING itself compares unrounded doubles, where a flip would
    need two candidates within ~1 ulp of each other."""
    q = local_relation(pages.sparkSession, queries, _QUERIES_DDL)
    d = haversine_km(
        F.col("qlat"), F.col("qlon"), F.col("lat"), F.col("lon")
    )
    scored = pages.crossJoin(F.broadcast(q)).select(
        "query_id", "url", d.alias("d")
    )
    w = W.partitionBy("query_id").orderBy(F.col("d").asc(), F.col("url").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "rank", "url", F.round(F.col("d"), GEO_ROUND).alias("dist_km")
        )
    )


def knn_bruteforce(
    pages: DataFrame, queries: list[tuple[int, float, float]], k: int
) -> DataFrame:
    """Exact kNN: broadcast query points, score every page, window top-k.
    One full scan regardless of |queries| — the correctness baseline and
    the DuckDB oracle twin."""
    q = local_relation(pages.sparkSession, queries, _QUERIES_DDL)
    scored = pages.crossJoin(F.broadcast(q)).select(
        "query_id",
        "url",
        _dist2(F.col("qlat"), F.col("qlon")).alias("dist2"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("dist2").asc(), F.col("url").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "url")
    )


def ring_guarantee_radius(res: int, rings: int) -> float:
    """Degrees within which knn_ring is EXACT: any point closer than this
    to the query necessarily lies inside the (2*rings+1)^2 disk, because
    leaving the disk requires crossing at least ``rings`` full cell rows/
    columns. Callers verify ``sqrt(dist2_k) <= radius`` (dist2 is in
    squared degrees) to certify a result, or widen ``rings`` and retry —
    the bounded driver-side iteration of SURVEY §4."""
    dlat = 180.0 / (1 << res)
    dlon = 360.0 / (1 << (res + 1))
    return rings * min(dlat, dlon)


def knn_ring(
    pages: DataFrame,
    queries: list[tuple[int, float, float]],
    k: int,
    res: int,
    rings: int,
    keep_dist: bool = False,
) -> DataFrame:
    """Scale path: candidates restricted to grid_disk(query_cell, rings)
    before scoring. Exact iff the k-th neighbour lies within the disk's
    guaranteed radius (rings * cell_height deg); tests assert agreement
    with brute force at the chosen parameters.

    The disk is expanded on the driver (|queries| x (2r+1)^2 cells) and
    broadcast — the page side joins on `cell`, so at scale only candidate
    cells' partitions are scanned.
    """
    rows = []
    for qid, qla, qlo in queries:
        qcell = grid.py_cell_encode(qla, qlo, res)
        li = (qcell >> 29) & (grid.LAT_MULT - 1)
        lo = qcell & (grid.LAT_MULT - 1)
        nlat, nlon = 1 << res, 1 << (res + 1)
        for dy in range(-rings, rings + 1):
            r = li + dy
            if r < 0 or r >= nlat:
                continue
            for dx in range(-rings, rings + 1):
                c = res * grid.RES_MULT + r * grid.LAT_MULT + ((lo + dx) % nlon)
                rows.append((qid, qla, qlo, c))
    cand_cells = local_relation(
        pages.sparkSession, rows, f"{_QUERIES_DDL}, cand_cell bigint"
    )
    # static partition pruning when the table has the coarse layout column
    pages = prune_to_cells(pages, {r[3] for r in rows}, part_res=2)
    # page cell must be derived at the *disk's* resolution — pages.cell is
    # at the leaf res and would never match a coarser candidate cell.
    paged = pages.withColumn(
        "knn_cell", grid.cell_encode(F.col("lat"), F.col("lon"), res)
    )
    cand = paged.join(
        F.broadcast(cand_cells), F.col("knn_cell") == F.col("cand_cell"), "inner"
    )
    scored = cand.select(
        "query_id", "url", _dist2(F.col("qlat"), F.col("qlon")).alias("dist2")
    )
    w = W.partitionBy("query_id").orderBy(F.col("dist2").asc(), F.col("url").asc())
    cols = ["query_id", "rank", "url"] + (["dist2"] if keep_dist else [])
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*cols)
    )


def knn_adaptive(
    pages: DataFrame,
    queries: list[tuple[int, float, float]],
    k: int,
    res: int,
    rings: int = 2,
    max_rings: int = 64,
) -> DataFrame:
    """EXACT kNN with bounded ring widening (SURVEY §4: "ring expansion —
    bounded loop in driver"). Run knn_ring; certify each query against
    ring_guarantee_radius (k candidates found AND the k-th distance inside
    the radius ⇒ provably exact); double the rings for the uncertified
    remainder and retry; past ``max_rings`` fall back to brute force for
    the stragglers. Each pass prunes to candidate cells only, so total
    work stays far below one brute-force scan on any dense corpus.

    Cost bound: the driver loop holds k x |queries| rows per pass and
    runs at most log2(max_rings/rings)+1 passes; worst case (pathological
    sparse corpus) is |retries| x pruned-scan + one brute-force over the
    straggler set. Designed for interactive query-set sizes (|queries|
    up to ~10^4, the certified-exactness path) — bulk all-pages kNN
    belongs to knn_ring with a fixed ring radius instead."""
    import math

    remaining = list(queries)
    results: list[tuple[int, int, str]] = []
    while remaining:
        rows = knn_ring(
            pages, remaining, k, res=res, rings=rings, keep_dist=True
        ).collect()
        radius = ring_guarantee_radius(res, rings)
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        retry = []
        for q in remaining:
            got = by_q.get(q[0], [])
            # STRICT compare: a neighbour at exactly the guarantee radius
            # can lie outside the ring disk when the query sits on a cell
            # edge, so boundary-equal results are not provably exact —
            # they widen rings / fall through instead (ADVICE r01)
            if len(got) >= k and all(
                math.sqrt(r["dist2"]) < radius for r in got
            ):
                results.extend((r["query_id"], r["rank"], r["url"]) for r in got)
            else:
                retry.append(q)
        if not retry:
            break
        if rings >= max_rings:
            results.extend(
                (r["query_id"], r["rank"], r["url"])
                for r in knn_bruteforce(pages, retry, k).collect()
            )
            break
        remaining, rings = retry, rings * 2
    return local_relation(
        pages.sparkSession, results, "query_id bigint, rank int, url string"
    )


# ---------------------------------------------------------------------------
# Raster <-> vector tile aggregation
# ---------------------------------------------------------------------------


def raster_cells(pages: DataFrame, res: int) -> DataFrame:
    """Per-cell raster at ``res``: page count + sorted lang histogram.

    Derives the cell at ``res`` from lat/lon (narrow projection), then a
    two-level agg: (cell, lang) partial counts → per-cell fold. Histogram
    is a canonical sorted string so the layout is order-independent and
    oracle-comparable (map columns hash nondeterministically)."""
    at_res = pages.select(
        grid.cell_encode(F.col("lat"), F.col("lon"), res).alias("rcell"),
        "lang",
    )
    per_lang = at_res.groupBy("rcell", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_lang.groupBy("rcell")
        .agg(
            F.sum("cnt").alias("n_pages"),
            F.count(F.lit(1)).alias("n_langs"),
            F.concat_ws(
                ",",
                F.sort_array(
                    F.collect_list(F.concat(F.col("lang"), F.lit(":"), F.col("cnt")))
                ),
            ).alias("lang_hist"),
        )
        .withColumnRenamed("rcell", "cell")
    )


def raster_smooth(pages: DataFrame, res: int) -> DataFrame:
    """Focal 3x3 smoothing of the page-count raster: for every occupied
    cell, the sum of page counts over its Chebyshev-1 neighbourhood
    (self + up to 8 neighbours; lon wraps, lat edges clip) and the
    number of occupied neighbour cells contributing.

    Plan: one raster agg, then each occupied cell SCATTERS its count to
    its <=9 disk cells (codegen'd grid_disk explode — the stencil moves
    over the aggregated raster, never the pages), one hash-agg on the
    target cell, inner join back to occupied cells. Work is ~9x the
    OCCUPIED cell count regardless of corpus size — at 100 TB the raster
    relation is bounded by 2^(2*res+1) cells, so the stencil cost is a
    constant factor on a sublinear relation.

    ``res >= 1`` required: at res 0 nlon=2 and the +/-1 ring aliases mod
    2, double-counting a neighbour (same guard as distance_self_join)."""
    if res < 1:
        raise ValueError(f"raster_smooth requires res >= 1, got {res}")
    r = (
        pages.select(
            grid.cell_encode(F.col("lat"), F.col("lon"), res).alias("cell")
        )
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pages"))
    )
    contrib = r.select(
        F.explode(grid.grid_disk(F.col("cell"), res, 1)).alias("cell"),
        F.col("n_pages").alias("w"),
    )
    sm = contrib.groupBy("cell").agg(
        F.sum("w").alias("smooth_sum"),
        F.count(F.lit(1)).cast("bigint").alias("n_occupied_nbrs"),
    )
    return r.join(sm, "cell").select(
        "cell", "n_pages", "smooth_sum", "n_occupied_nbrs"
    )


def sql_raster_smooth(res: int, pages_rel: str = "pages") -> str:
    """Oracle: O(occupied^2) Chebyshev-1 pair join on decoded lat/lon
    indices (wrap-aware) — fine at oracle scale, the exact relation the
    scatter-gather stencil computes."""
    nlon = 1 << (res + 1)
    cell = grid.sql_cell_encode("lat", "lon", res)
    lat_mask = grid.LAT_MULT - 1
    # bare SELECT (no WITH) so it composes under the contract's shared
    # pages CTE; the decoded-index relation is inlined twice
    idx = f"""(
  SELECT cell, n_pages,
         (cell >> 29) & {lat_mask} AS la,
         cell & {lat_mask} AS lo
  FROM (
    SELECT cell, CAST(count(*) AS BIGINT) AS n_pages
    FROM (SELECT {cell} AS cell FROM {pages_rel}) GROUP BY cell
  ))"""
    return f"""
SELECT a.cell AS cell, a.n_pages AS n_pages,
       CAST(SUM(b.n_pages) AS BIGINT) AS smooth_sum,
       CAST(COUNT(*) AS BIGINT) AS n_occupied_nbrs
FROM {idx} a JOIN {idx} b
  ON abs(a.la - b.la) <= 1
 AND least((a.lo - b.lo + {nlon}) % {nlon},
           (b.lo - a.lo + {nlon}) % {nlon}) <= 1
GROUP BY a.cell, a.n_pages"""


def zoom_per_lang(per_lang_raster: DataFrame, res: int, out_res: int) -> DataFrame:
    """Roll a (cell, lang, cnt) raster up to ``out_res`` keeping the
    mergeable per-lang shape — counts are associative, so parent counts
    fold from child counts without touching pages."""
    parent = grid.cell_parent(F.col("cell"), res, out_res).alias("cell")
    return (
        per_lang_raster.select(parent, "lang", "cnt")
        .groupBy("cell", "lang")
        .agg(F.sum("cnt").alias("cnt"))
    )


def fold_lang_hist(per_lang_raster: DataFrame) -> DataFrame:
    """(cell, lang, cnt) → (cell, n_pages, n_langs, lang_hist): the
    per-cell histogram fold shared by raster_cells/raster_zoom/pyramid."""
    return per_lang_raster.groupBy("cell").agg(
        F.sum("cnt").alias("n_pages"),
        F.count(F.lit(1)).alias("n_langs"),
        F.concat_ws(
            ",",
            F.sort_array(
                F.collect_list(F.concat(F.col("lang"), F.lit(":"), F.col("cnt")))
            ),
        ).alias("lang_hist"),
    )


def raster_zoom(per_lang_raster: DataFrame, res: int, out_res: int) -> DataFrame:
    """Roll a (cell, lang, cnt) raster up to ``out_res`` without touching
    pages — the vector→raster zoom-out. 4x fewer cells per level."""
    return fold_lang_hist(zoom_per_lang(per_lang_raster, res, out_res))


def raster_pyramid(pages: DataFrame, finest: int, coarsest: int) -> DataFrame:
    """Tile pyramid: the raster at EVERY res in [coarsest..finest] —
    (cell, res, n_pages, n_langs, lang_hist) — built hierarchically.

    Pages are scanned and shuffled ONCE (per-lang counts at the finest
    res); every coarser level folds the PREVIOUS level's (cell, lang,
    cnt) relation, which shrinks ~4x per step. Total cost is one
    pages-sized shuffle plus a geometric series of tiny raster shuffles —
    vs L full scans for the naive per-res loop, which at 10^12 rows is
    the difference between one pass and a dozen. Each intermediate level
    feeds two consumers (its own histogram fold + the next zoom-out), so
    it is staged via :func:`_stage` (reliable checkpoint on a cluster,
    localCheckpoint locally) exactly like the nn_join ladder.

    This is the engine's hypertable-rollup analogue: the reference's
    recursive per-folder hash files aggregate child folders the same way
    (FV/PathInfo.cs:427-537 walks children once; parents reuse results).
    """
    if not (0 <= coarsest <= finest):
        raise ValueError("need 0 <= coarsest <= finest")
    cur = raster_per_lang(pages, finest)
    outs: list[DataFrame] = []
    for res in range(finest, coarsest - 1, -1):
        if res < finest:
            cur = zoom_per_lang(cur, res + 1, res)
        if res > coarsest:
            cur = _stage(cur)  # two consumers: fold below + next zoom
        outs.append(
            fold_lang_hist(cur).select(
                "cell", F.lit(res).cast("int").alias("res"),
                "n_pages", "n_langs", "lang_hist",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def sql_raster_pyramid(finest: int, coarsest: int, pages_rel: str = "pages") -> str:
    """Oracle: per-res direct aggregation over pages, UNION ALL — the
    flat O(L scans) form the hierarchical plan must agree with."""
    parts = [
        f"""
SELECT cell, CAST({res} AS INTEGER) AS res,
       CAST(sum(cnt) AS BIGINT) AS n_pages, count(*) AS n_langs,
       string_agg(lang || ':' || CAST(cnt AS VARCHAR), ','
                  ORDER BY lang || ':' || CAST(cnt AS VARCHAR)) AS lang_hist
FROM (
  SELECT {grid.sql_cell_encode("lat", "lon", res)} AS cell, lang, count(*) AS cnt
  FROM {pages_rel} GROUP BY 1, 2
) GROUP BY cell"""
        for res in range(finest, coarsest - 1, -1)
    ]
    return "\nUNION ALL\n".join(parts)


def raster_vectorize(raster: DataFrame, res: int) -> DataFrame:
    """Raster→vector: emit each cell as a WKT rectangle polygon with its
    measures — the tile-serving direction (cells become vector features).
    Pure bit-arithmetic bounds + string building, codegen'd; the oracle
    mirrors the formatting exactly."""
    la0, la1, lo0, lo1 = grid.cell_bounds(F.col("cell"), res)

    def pt(lo: F.Column, la: F.Column) -> F.Column:
        return F.concat(
            lo.cast("string"), F.lit(" "), la.cast("string")
        )

    wkt = F.concat(
        F.lit("POLYGON(("),
        pt(lo0, la0), F.lit(","),
        pt(lo1, la0), F.lit(","),
        pt(lo1, la1), F.lit(","),
        pt(lo0, la1), F.lit(","),
        pt(lo0, la0),
        F.lit("))"),
    )
    return raster.select(
        "cell", wkt.alias("wkt"), "n_pages", "n_langs", "lang_hist"
    )


def rasterize_polygons(
    spark: SparkSession, polys: list[Polygon], res: int
) -> DataFrame:
    """Vector→raster: burn polygon features into a cell mask at ``res``
    — (poly_id, cell, clat, clon) for every cell whose CENTER lies
    inside the polygon (center-sampling rasterization, the common GIS
    default). Completes the north-star raster<->vector pair:
    raster_vectorize emits cells as vector features; this takes vector
    features back to cells.

    Candidates are the conservative bbox covering (driver-side, tiny,
    broadcast-sized); the exact center test is ``pip_inside``, the test
    of pip_join, so both agree bit-for-bit with the SQL oracle. The
    covering and the test are folded on the driver's JVM when the plan is
    optimised (a filter over a local relation), so no task runs."""
    cov = _covering_relation(spark, polys, polygon_covering(polys, res))
    clat, clon = grid.cell_center(F.col("cov_cell"), res)
    centers = cov.select(
        "poly_id",
        F.col("cov_cell").alias("cell"),
        clat.alias("clat"),
        clon.alias("clon"),
        "poly_edges",
    )
    return centers.where(pip_inside(F.col("clat"), F.col("clon"))).select(
        "poly_id", "cell", "clat", "clon"
    )


def sql_rasterize(polys: list[Polygon], res: int) -> str:
    """Oracle for rasterize_polygons: same covering candidates (VALUES),
    same center arithmetic, same crossing parity."""
    mask = grid.LAT_MULT - 1
    dlat = 180.0 / (1 << res)
    dlon = 360.0 / (1 << (res + 1))
    vals = ",".join(
        f"('{pid}', {cell})" for pid, cell in polygon_covering(polys, res)
    )
    # mirror grid.cell_center EXACTLY: (lo_bound + hi_bound) * 0.5 —
    # algebraically equal to lo + d/2 but not bit-identical in IEEE
    la0 = f"(((cell >> 29) & {mask}) * {dlat!r} - 90.0)"
    lo0 = f"((cell & {mask}) * {dlon!r} - 180.0)"
    clat = f"(({la0} + ({la0} + {dlat!r})) * 0.5)"
    clon = f"(({lo0} + ({lo0} + {dlon!r})) * 0.5)"
    return f"""
WITH cov AS (SELECT * FROM (VALUES {vals}) AS t(poly_id, cell)),
centers AS (SELECT poly_id, cell, {clat} AS clat, {clon} AS clon FROM cov)
SELECT c.poly_id, c.cell, c.clat, c.clon
FROM centers c,
     (VALUES {sql_polygon_edges_values(polys)}) AS e(poly_id, y1, x1, y2, x2)
WHERE c.poly_id = e.poly_id
  AND ((e.y1 > c.clat) != (e.y2 > c.clat))
  AND (c.clon < (e.x2 - e.x1) * (c.clat - e.y1) / (e.y2 - e.y1) + e.x1)
GROUP BY c.poly_id, c.cell, c.clat, c.clon
HAVING count(*) % 2 = 1"""


def raster_per_lang(pages: DataFrame, res: int) -> DataFrame:
    """(cell, lang, cnt) — the mergeable raster primitive raster_zoom eats."""
    return (
        pages.select(
            grid.cell_encode(F.col("lat"), F.col("lon"), res).alias("cell"), "lang"
        )
        .groupBy("cell", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------------------
# DuckDB oracle mirrors
# ---------------------------------------------------------------------------


def sql_polygon_edges_values(polys: list[Polygon]) -> str:
    """VALUES list (poly_id, y1, x1, y2, x2) of DOUBLE columns holding the
    vertices' exact doubles. DuckDB types a bare ``-38.5870...`` literal
    as DECIMAL: its arithmetic is then exact decimal, and its cast back to
    DOUBLE can miss the vertex by an ulp, so the oracle would disagree
    with the engine's double arithmetic on points on an edge or at a
    vertex's latitude. A string cast parses the shortest repr exactly."""

    def d(x: float) -> str:
        return f"'{x!r}'::DOUBLE"

    rows = []
    for p in polys:
        v = p.vertices
        for j in range(len(v)):
            y1, x1 = v[j]
            y2, x2 = v[(j + 1) % len(v)]
            rows.append(f"('{p.poly_id}', {d(y1)}, {d(x1)}, {d(y2)}, {d(x2)})")
    return ",\n".join(rows)


def sql_pip(polys: list[Polygon], pages_rel: str = "pages") -> str:
    """SELECT body: (poly_id, url, lat, lon) via crossing parity."""
    return f"""
SELECT e.poly_id, p.url, p.lat, p.lon
FROM {pages_rel} p,
     (VALUES {sql_polygon_edges_values(polys)}) AS e(poly_id, y1, x1, y2, x2)
WHERE ((e.y1 > p.lat) != (e.y2 > p.lat))
  AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)
GROUP BY e.poly_id, p.url, p.lat, p.lon
HAVING count(*) % 2 = 1"""


def sql_query_points_values(queries: list[tuple[int, float, float]]) -> str:
    return ",".join(f"({i}, {la!r}, {lo!r})" for i, la, lo in queries)


def sql_knn(
    queries: list[tuple[int, float, float]], k: int, pages_rel: str = "pages"
) -> str:
    return f"""
SELECT query_id, rank, url FROM (
  SELECT q.query_id,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY (p.lat - q.qlat) * (p.lat - q.qlat)
                  + (p.lon - q.qlon) * (p.lon - q.qlon) ASC, p.url ASC
         ) AS rank,
         p.url
  FROM {pages_rel} p, (VALUES {sql_query_points_values(queries)}) AS q(query_id, qlat, qlon)
) WHERE rank <= {k}"""


def sql_knn_geodesic(
    queries: list[tuple[int, float, float]], k: int, pages_rel: str = "pages"
) -> str:
    d = sql_haversine_km("q.qlat", "q.qlon", "p.lat", "p.lon")
    return f"""
SELECT query_id, rank, url, dist_km FROM (
  SELECT q.query_id,
         row_number() OVER (
           PARTITION BY q.query_id ORDER BY {d} ASC, p.url ASC
         ) AS rank,
         p.url,
         round({d}, {GEO_ROUND}) AS dist_km
  FROM {pages_rel} p, (VALUES {sql_query_points_values(queries)}) AS q(query_id, qlat, qlon)
) WHERE rank <= {k}"""


def sql_raster_vectorize(res: int, raster_rel: str = "raster") -> str:
    """SELECT body mirroring raster_vectorize over a raster CTE."""
    dlat = 180.0 / (1 << res)
    dlon = 360.0 / (1 << (res + 1))
    mask = grid.LAT_MULT - 1
    la0 = f"(((cell >> 29) & {mask}) * {dlat!r} - 90.0)"
    lo0 = f"((cell & {mask}) * {dlon!r} - 180.0)"
    la1 = f"({la0} + {dlat!r})"
    lo1 = f"({lo0} + {dlon!r})"

    def pt(lo: str, la: str) -> str:
        return f"CAST({lo} AS VARCHAR) || ' ' || CAST({la} AS VARCHAR)"

    wkt = (
        f"'POLYGON((' || {pt(lo0, la0)} || ',' || {pt(lo1, la0)} || ',' || "
        f"{pt(lo1, la1)} || ',' || {pt(lo0, la1)} || ',' || {pt(lo0, la0)} || '))'"
    )
    return f"""
SELECT cell, {wkt} AS wkt, n_pages, n_langs, lang_hist
FROM {raster_rel}"""


def sql_raster(res: int, pages_rel: str = "pages") -> str:
    cell = grid.sql_cell_encode("lat", "lon", res)
    return f"""
SELECT cell, CAST(sum(cnt) AS BIGINT) AS n_pages, count(*) AS n_langs,
       string_agg(lang || ':' || CAST(cnt AS VARCHAR), ','
                  ORDER BY lang || ':' || CAST(cnt AS VARCHAR)) AS lang_hist
FROM (
  SELECT {cell} AS cell, lang, count(*) AS cnt
  FROM {pages_rel} GROUP BY 1, 2
) GROUP BY cell"""


# ---------------------------------------------------------------------------
# Distance join (all pairs within radius)
# ---------------------------------------------------------------------------


def distance_join_res(radius: float) -> int:
    """Finest grid resolution whose cell extent still covers ``radius``.

    Quadtree cells are square in degrees (lat extent 180/2^r == lon extent
    360/2^(r+1)), so one Chebyshev ring (k=1, 9 cells) around a point's
    cell is guaranteed to contain every point within ``radius`` when
    extent(res) >= radius. The finest such res keeps per-cell occupancy —
    and therefore the per-bucket pair blow-up — as small as the guarantee
    allows. Clamped to [1, MAX_RES] (res 0 has only 2 lon columns, where
    the wrap-around disk would duplicate keys)."""
    if radius <= 0:
        raise ValueError("radius must be positive")
    if radius > 90.0:
        # extent(1) = 90 is the coarsest usable level (res 0's two lon
        # columns would duplicate wrap-around disk keys), so no permitted
        # res covers a larger radius — and a >90-degree search on a
        # 360-degree world is a near-cross-join; express that explicitly.
        raise ValueError(
            "radius > 90 degrees exceeds the res-1 cell extent; use an "
            "explicit crossJoin for globe-scale radii"
        )
    res = int(math.floor(math.log2(180.0 / radius)))
    return max(1, min(grid.MAX_RES, res))


def distance_self_join(
    pages: DataFrame, radius: float, res: int | None = None
) -> DataFrame:
    """All unordered page pairs within Euclidean degree distance ``radius``:
    (l_url, r_url, dist2), l_url < r_url.

    The reference has no spatial surface; this is the 'verify every file
    against every nearby file' analogue of its per-folder O(n*m) scans
    (FileVerification/PathInfo.cs:427-537) re-expressed as a bucketed
    equi-join. Scale shape:

    - build side keyed by its own cell (1 row/point);
    - probe side exploded to the HALF Chebyshev disk (grid.grid_half_disk:
      self, E, NE, N, NW — 5 rows/point, not 9): for cells at Chebyshev
      distance 1 exactly one of the two contains the other's cell in its
      half-disk, so every cross-cell pair materialises ONCE (the full-disk
      form computes each twice and discards half post-join) — 4/9 less
      probe shuffle, ~2x less join output, zero semantic change;
    - exact ``dist2 <= radius^2`` re-check on bucket-mates only;
    - same-cell pairs (the only ones seen in both orders) dedupe via
      ``l_url < r_url``; cross-cell pairs are order-normalised on output
      with least/greatest (dist2 is bit-stable under operand swap: IEEE
      negation is exact and the square kills the sign).

    Skew: a hot cell with n points costs O(n^2) inside its bucket. The
    mitigation is a finer ``res`` (more, smaller buckets — still correct,
    disk stays k=1 only while extent(res) >= radius; below that callers
    must raise k), not salting — salting cannot split an all-pairs bucket
    without replicating the whole bucket anyway. ``distance_join_res``
    picks the finest guaranteed res.
    """
    if res is None:
        res = distance_join_res(radius)
    if res < 1:
        # res 0 has only two lon columns, so the +/-1 disk offsets alias
        # mod 2 and duplicate bucket keys (duplicated output pairs) —
        # same floor distance_join_res enforces, here for explicit res
        # (ADVICE r02 #1)
        raise ValueError("res must be >= 1 (res 0 wrap-around aliases)")
    extent = 180.0 / (1 << res)
    if extent < radius:
        raise ValueError(
            f"res {res} cell extent {extent} < radius {radius}: one ring "
            "no longer covers the radius; use a coarser res"
        )
    pts = pages.select("url", "lat", "lon")
    own = grid.cell_encode(F.col("lat"), F.col("lon"), res)
    left = pts.select(
        F.col("url").alias("l_url"),
        F.col("lat").alias("l_lat"),
        F.col("lon").alias("l_lon"),
        own.alias("l_cell"),
        F.explode(grid.grid_half_disk(own, res)).alias("bucket"),
    )
    right = pts.select(
        F.col("url").alias("r_url"),
        F.col("lat").alias("r_lat"),
        F.col("lon").alias("r_lon"),
        own.alias("bucket"),
    )
    dy = F.col("l_lat") - F.col("r_lat")
    dx = F.col("l_lon") - F.col("r_lon")
    dist2 = dy * dy + dx * dx
    same_cell = F.col("bucket") == F.col("l_cell")
    return (
        left.join(right, "bucket", "inner")
        .where(~same_cell | (F.col("l_url") < F.col("r_url")))
        .withColumn("dist2", dist2)
        .where(F.col("dist2") <= F.lit(radius * radius))
        .select(
            F.least(F.col("l_url"), F.col("r_url")).alias("l_url"),
            F.greatest(F.col("l_url"), F.col("r_url")).alias("r_url"),
            "dist2",
        )
    )


def sql_distance_self_join(radius: float, pages_rel: str = "pages") -> str:
    """Oracle twin: the O(n^2) cross-join form with the identical dist2
    arithmetic (same operand order, so IEEE doubles agree bit-for-bit)."""
    r2 = repr(radius * radius)
    return f"""
SELECT a.url AS l_url, b.url AS r_url,
       (a.lat - b.lat) * (a.lat - b.lat)
     + (a.lon - b.lon) * (a.lon - b.lon) AS dist2
FROM {pages_rel} a, {pages_rel} b
WHERE a.url < b.url
  AND (a.lat - b.lat) * (a.lat - b.lat)
    + (a.lon - b.lon) * (a.lon - b.lon) <= {r2}"""


# ---------------------------------------------------------------------------
# Cell-mask compaction (H3 compact/uncompact analogue)
# ---------------------------------------------------------------------------


def compact_cells(cells: DataFrame, res: int, col: str = "cell") -> DataFrame:
    """Minimal mixed-resolution cover of a cell mask: every complete
    4-sibling group is replaced by its parent, recursively to res 0.

    The folder-tree analogue: a directory whose children are all present
    is represented by the directory itself, not the leaf list — the same
    collapse the reference's per-folder hash files perform implicitly
    (FileVerification/PathInfo.cs:427-537). On a 10^12-row table a
    compacted polygon covering is what makes ``cell IN (...)`` partition
    pruning lists tractable at coarse partition resolutions.

    Fully lazy: ``res`` chained levels of (groupBy parent HAVING
    count=4) + anti-join, each level shrinking the live set 4x; no
    driver-side loop over data, no collect. Input cells must be at
    resolution ``res`` (ids carry their res, so output rows at different
    resolutions stay unambiguous)."""
    if res == 0:
        return cells.select(F.col(col).alias("cell")).distinct()
    # The leaf set is referenced by every level below; _stage (lazy)
    # truncates its lineage so the res+1 consumers share ONE
    # materialisation of the (tiny, |cells|-row) mask instead of res+1
    # copies of however expensive the producing plan was — reliable
    # checkpoint on the cluster, localCheckpoint in local/test runs.
    leaf = _stage(cells.select(F.col(col).alias("cell")).distinct())
    # Non-recursive: an ancestor at level r is FULL iff all 4^(res-r) of
    # its descendant slots are present, so every level aggregates straight
    # off the leaf set — each full[r] is leaf -> one groupBy, and the
    # compacted output at level r is full[r] minus cells whose parent is
    # itself full. A recursive promote-the-parents chain is semantically
    # identical but embeds level r's subtree in level r-1 TWICE, growing
    # the logical plan 2^res-fold (measured: 102 Exchange nodes at res 7
    # vs 15 here); with shared leaf lineage the duplicated aggregations
    # also canonicalize identically for exchange reuse.
    full: dict[int, DataFrame] = {}
    for r in range(0, res):
        cnt = (
            leaf.groupBy(
                grid.cell_parent(F.col("cell"), res, r).alias("cell")
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )
        full[r] = cnt.where(F.col("n") == 4 ** (res - r)).select("cell")
    outs = []
    outs.append(
        leaf.withColumn("p", grid.cell_parent(F.col("cell"), res, res - 1))
        .join(
            full[res - 1].select(F.col("cell").alias("p")), "p", "left_anti"
        )
        .select("cell")
    )
    for r in range(res - 1, 0, -1):
        outs.append(
            full[r]
            .withColumn("p", grid.cell_parent(F.col("cell"), r, r - 1))
            .join(
                full[r - 1].select(F.col("cell").alias("p")), "p", "left_anti"
            )
            .select("cell")
        )
    outs.append(full[0])
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def uncompact_cells(
    compacted: DataFrame, target_res: int, col: str = "cell"
) -> DataFrame:
    """Inverse of compact_cells: expand every cell to its descendants at
    ``target_res`` (a cell at res r has 4^(target-r) of them). Pure
    codegen'd sequence/explode — row count grows exactly by the
    descendant factor, no Python, no shuffle."""
    # alias first so the arithmetic below can safely name "cell"
    base = compacted.select(F.col(col).alias("cell"))
    src = base.select(
        F.col("cell"),
        grid.cell_lat_idx(F.col("cell")).alias("la"),
        grid.cell_lon_idx(F.col("cell")).alias("lo"),
        (F.lit(target_res) - grid.cell_res(F.col("cell")).cast("int")).alias("d"),
    ).select(
        "cell", "la", "lo",
        # a cell FINER than target_res cannot be expanded; failing loud
        # beats silently dropping it (an inverse that loses rows isn't one)
        F.when(
            F.col("d") >= 0, F.expr("shiftleft(CAST(1 AS BIGINT), d)")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("uncompact_cells: input cell at res "),
                    (F.lit(target_res) - F.col("d")).cast("string"),
                    F.lit(f" is finer than target_res {target_res}"),
                )
            ).cast("bigint")
        ).alias("n"),
    )
    out = (
        src.select(
            "cell", "la", "lo", "n",
            F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("di"),
        )
        .select(
            "la", "lo", "n", "di",
            F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("dj"),
        )
        .select(
            (
                F.lit(target_res).cast("bigint") * F.lit(grid.RES_MULT)
                + (F.col("la") * F.col("n") + F.col("di")) * F.lit(grid.LAT_MULT)
                + (F.col("lo") * F.col("n") + F.col("dj"))
            ).alias("cell")
        )
    )
    return out


def sql_compact(res: int, cells_rel: str = "cells") -> str:
    """Oracle twin of compact_cells: the identical level chain as CTEs.
    Returns a full query (chain of WITH clauses over ``cells_rel``)."""
    ctes = [f"cur{res} AS (SELECT DISTINCT cell FROM {cells_rel})"]
    selects = []
    for r in range(res, 0, -1):
        parent = grid.sql_cell_parent("cell", r, r - 1)
        ctes.append(
            f"p{r} AS (SELECT cell, {parent} AS parent FROM cur{r})"
        )
        ctes.append(
            f"full{r} AS (SELECT parent FROM p{r} "
            f"GROUP BY parent HAVING count(*) = 4)"
        )
        ctes.append(
            f"keep{r} AS (SELECT cell FROM p{r} "
            f"WHERE parent NOT IN (SELECT parent FROM full{r}))"
        )
        ctes.append(f"cur{r-1} AS (SELECT parent AS cell FROM full{r})")
        selects.append(f"SELECT cell FROM keep{r}")
    selects.append("SELECT cell FROM cur0")
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


# ---------------------------------------------------------------------------
# BBox range query + zonal statistics + per-cell heavy hitter
# ---------------------------------------------------------------------------


def bbox_query(
    pages: DataFrame,
    lat_min: float,
    lat_max: float,
    lon_min: float,
    lon_max: float,
    res: int = 4,
    part_res: int = 2,
) -> DataFrame:
    """Pages inside a lat/lon rectangle: cell-covering prefilter (and,
    on the cell-partitioned layout, a literal partition-prune via
    prune_to_cells) then the exact bounds test. The covering predicate is
    redundant with the exact test — it exists purely so the scan can skip
    non-candidate partitions/row-groups at 100 TB; Catalyst pushes both
    into the parquet scan."""
    cover = grid.cells_covering_rect(lat_min, lat_max, lon_min, lon_max, res)
    pruned = prune_to_cells(pages, cover, part_res)
    cell = grid.cell_encode(F.col("lat"), F.col("lon"), res)
    return (
        pruned.where(cell.isin(cover))
        .where(
            (F.col("lat") >= lat_min)
            & (F.col("lat") <= lat_max)
            & (F.col("lon") >= lon_min)
            & (F.col("lon") <= lon_max)
        )
        .select("url", "lat", "lon", "lang")
    )


def sql_bbox(
    lat_min: float, lat_max: float, lon_min: float, lon_max: float,
    pages_rel: str = "pages",
) -> str:
    """Oracle twin: the exact bounds test alone (the covering prefilter is
    semantics-free by construction, so the oracle omits it — any covering
    bug shows up as a row diff)."""
    return f"""
SELECT url, lat, lon, lang FROM {pages_rel}
WHERE lat >= {lat_min!r} AND lat <= {lat_max!r}
  AND lon >= {lon_min!r} AND lon <= {lon_max!r}"""


def zonal_stats(pip: DataFrame) -> DataFrame:
    """Per-polygon aggregates over a pip_join result — page count,
    distinct langs, and the sorted lang:count histogram string (the
    vector-side twin of raster_cells' per-cell stats). One partial-agg
    shuffle on poly_id; |polys| output rows."""
    # NULL lang folds to '' BEFORE grouping: concat_ws would silently skip
    # a null operand (bare count entry) while the SQL twin's `lang || ':'`
    # nulls the whole element and string_agg drops it — coalescing on both
    # sides keeps the histograms identical on NULL-lang rows (ADVICE r02 #2)
    per_lang = pip.groupBy(
        "poly_id", F.coalesce(F.col("lang"), F.lit("")).alias("lang")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return per_lang.groupBy("poly_id").agg(
        F.sum("cnt").cast("bigint").alias("n_pages"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.concat_ws(
            ",",
            F.sort_array(
                F.collect_list(
                    F.concat_ws(":", F.col("lang"), F.col("cnt").cast("string"))
                )
            ),
        ).alias("lang_hist"),
    )


def sql_zonal_stats(polys: list[Polygon], pages_rel: str = "pages") -> str:
    """Oracle: PIP subquery (shared predicate) + the same two-level agg."""
    return f"""
SELECT poly_id,
       CAST(sum(cnt) AS BIGINT) AS n_pages,
       CAST(count(*) AS BIGINT) AS n_langs,
       string_agg(lang || ':' || CAST(cnt AS VARCHAR), ','
                  ORDER BY lang || ':' || CAST(cnt AS VARCHAR)) AS lang_hist
FROM (
  SELECT poly_id, coalesce(lang, '') AS lang, count(*) AS cnt
  FROM ({sql_pip_with_lang(polys, pages_rel)}) AS _pip
  GROUP BY 1, 2
) GROUP BY poly_id"""


def sql_pip_with_lang(polys: list[Polygon], pages_rel: str = "pages") -> str:
    """sql_pip variant that also carries lang through (for zonal stats)."""
    return f"""
SELECT p.poly_id, p.url, p.lat, p.lon, p.lang FROM (
  SELECT c.poly_id, g.url, g.lat, g.lon, g.lang, count(*) AS crossings
  FROM {pages_rel} g,
       (VALUES {sql_polygon_edges_values(polys)}) AS c(poly_id, y1, x1, y2, x2)
  WHERE ((c.y1 > g.lat) != (c.y2 > g.lat))
    AND (g.lon < (c.x2 - c.x1) * (g.lat - c.y1) / (c.y2 - c.y1) + c.x1)
  GROUP BY c.poly_id, g.url, g.lat, g.lon, g.lang
) p WHERE p.crossings % 2 = 1"""


def top_lang_per_cell(pages: DataFrame, res: int) -> DataFrame:
    """Heavy hitter per tile: the most frequent lang in each cell at
    ``res`` (ties broken lexicographically) — (cell, top_lang, cnt).
    groupBy + WindowGroupLimit: the rank-1 filter is pushed into the
    window operator, so only one row per cell survives the final sort."""
    per = (
        pages.select(
            grid.cell_encode(F.col("lat"), F.col("lon"), res).alias("cell"),
            "lang",
        )
        .groupBy("cell", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = W.partitionBy("cell").orderBy(F.col("cnt").desc(), F.col("lang").asc())
    return (
        per.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("cell", F.col("lang").alias("top_lang"), "cnt")
    )


def sql_top_lang_per_cell(res: int, pages_rel: str = "pages") -> str:
    cell = grid.sql_cell_encode("lat", "lon", res)
    return f"""
SELECT cell, lang AS top_lang, cnt FROM (
  SELECT cell, lang, cnt,
         row_number() OVER (PARTITION BY cell
                            ORDER BY cnt DESC, lang ASC) AS rk
  FROM (
    SELECT {cell} AS cell, lang, count(*) AS cnt
    FROM {pages_rel} GROUP BY 1, 2
  )
) WHERE rk = 1"""


# ---------------------------------------------------------------------------
# Nearest-neighbor join (both sides distributed)
# ---------------------------------------------------------------------------


def _stage(df: DataFrame, eager: bool = False) -> DataFrame:
    """Lineage barrier for multi-consumer intermediates: a RELIABLE
    checkpoint when the session has a checkpoint dir configured (the
    cluster deployment — survives executor loss and truncates lineage in
    the persisted plan, the staged-table materialisation between passes),
    else a localCheckpoint (the local/test default, executor-local
    blocks only). ``eager=True`` for iterate-to-fixpoint loops where the
    sweep must materialise before the convergence probe reads it."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _argmin_pair(cand: DataFrame) -> DataFrame:
    """rank-1 by (dist2, nn_url) per url — as min(struct(...)), NOT a
    row_number window: struct-min is partial-aggregatable, so the shuffle
    carries one candidate per (url, map partition) instead of sorting the
    full candidate set. The struct field order IS the tie-break."""
    return cand.groupBy("url").agg(
        F.min(F.struct(F.col("dist2"), F.col("nn_url"))).alias("b")
    ).select("url", F.col("b.nn_url").alias("nn_url"), F.col("b.dist2").alias("dist2"))


def nn_probe_res(
    right: DataFrame,
    target: float = 2.0,
    fraction: float = 1.0 / 64.0,
    key: str = "url",
    finest: int = 9,
) -> int:
    """Density-adaptive finest resolution for nn_join's ladder (VERDICT
    r3 "Next round" #5): the finest res whose estimated mean occupancy
    of OCCUPIED cells is >= ``target`` rows/cell — cheap to join (a 3x3
    disk carries ~9*target candidates) yet dense enough that the ring
    guarantee certifies almost every row at the first level
    (P(uncertified) ~ e^(-3*lambda) under the uniform model).

    Cost: ONE deterministic hash_sample scan of (key, lat, lon) + one
    groupBy at ``finest`` over the sampled rows + one tiny rollup agg —
    no driver iteration over data. The per-res occupied-cell counts are
    derived from the finest grouping via cell_parent (pure bit
    arithmetic), so the rollup's multi-distinct Expand runs over the
    <=|sample| aggregated relation, never the corpus.

    The sample thins each cell's count Binomial(fraction); the observed
    mean occupancy of cells *seen in the sample* therefore overestimates
    nothing but UNDERCOUNTS cells (a cell is invisible iff all its rows
    were dropped). Under a Poisson(lambda*fraction) occupancy model the
    observed mean is m/(1-e^(-m)) with m = lambda*fraction — inverted
    driver-side (scalar bisection) to de-bias lambda. Exact for the
    synthetic sha256-uniform geocode; an approximation on clustered
    corpora (documented, and the explicit res0/resolutions overrides
    remain).
    """
    from fileverification_spark.operators.sampling import hash_sample

    grid._check_res(finest)
    sample = hash_sample(right.select(key, "lat", "lon"), key, fraction)
    per_cell = sample.groupBy(
        grid.cell_encode(F.col("lat"), F.col("lon"), finest).alias("c")
    ).agg(F.count(F.lit(1)).alias("n"))
    aggs = [F.sum("n").alias("n_s")] + [
        F.countDistinct(
            grid.cell_parent(F.col("c"), finest, r)
        ).alias(f"d{r}")
        for r in range(1, finest + 1)
    ]
    row = per_cell.agg(*aggs).collect()[0]
    n_s = row["n_s"] or 0
    if n_s < 256 and fraction < 1.0:
        # sample too thin to estimate occupancy (tiny right side):
        # re-probe unsampled — the relation is small, so the full
        # scan costs less than the mis-picked ladder would
        return nn_probe_res(
            right, target=target, fraction=1.0, key=key, finest=finest
        )
    if n_s == 0:
        return 5  # empty/degenerate right side: the historical default

    def _invert(occ: float) -> float:
        # solve occ = m / (1 - e^(-m)) for m (monotone, occ >= 1)
        if occ <= 1.0 + 1e-9:
            return max(2.0 * (occ - 1.0), 1e-12)  # Taylor: occ ~ 1 + m/2
        lo, hi = 1e-12, occ + 60.0  # g(m) ~ m for large m
        for _ in range(80):
            mid = (lo + hi) / 2.0
            if mid / (1.0 - math.exp(-mid)) < occ:
                lo = mid
            else:
                hi = mid
        return (lo + hi) / 2.0

    for r in range(finest, 0, -1):
        occ_s = n_s / row[f"d{r}"]
        lam = _invert(occ_s) / fraction
        if lam >= target:
            return r
    return 1


def nn_join_with_tail(
    left: DataFrame,
    right: DataFrame,
    resolutions: "tuple[int, ...] | None" = None,
    res0: int | None = None,
    exclude_same_key: bool = True,
    escalate_k: "tuple[int, ...]" = (4,),
) -> "tuple[DataFrame, DataFrame]":
    """For every left point, its single nearest right point:
    (url, nn_url, dist2). Both sides can be arbitrarily large — unlike
    knn_* (whose query list is a driver-side broadcast), this is a true
    table-to-table NN join.

    Plan shape (fully lazy, no driver iteration over data). For each
    level in ``resolutions`` (finest first; default (5, 3, 1), or
    (res0, res0-2, res0-4 floored at 1) when ``res0`` is given):

      - the still-unmatched left rows explode to their 3x3 cell disk;
      - equi-join against right keyed by its own cell at that res;
      - per-left-point rank-1 window picks the closest candidate;
      - the match is CERTIFIED iff sqrt(dist2) < ring_guarantee_radius
        (strict: a tie exactly on the guarantee circle could sit outside
        the disk — ADVICE r01 on knn_adaptive applies here too);
      - certified rows exit; the rest fall to the next (coarser) level,
        where the guarantee radius is 4x larger.

    Rows uncertified after the last level escalate to WIDER disks at the
    coarsest resolution (k in ``escalate_k``, guarantee radius grows
    linearly in k) before conceding to a cartesian re-scan — so the
    crossJoin population is the truly pathological remainder (nearest
    neighbor beyond ~4 coarse cells, or an empty right side), not merely
    sparse regions. On a skewed corpus (huge empty oceans) this is the
    difference between a bounded escalation join and re-scanning the full
    right side for a material fraction of ``left``. The default is ONE
    wide jump (k=4), not a k=2,4 ladder: every escalation level re-joins
    (and so re-shuffles) the bucketed right side, so measured at the
    bench density the single k=4 level beats both no-escalation (33-row
    tail x 400k crossJoin) and the two-step ladder (7.7 s vs 8.8 s vs
    9.9 s min-of-3 at sf0.1x80, local[32]).

    ``exclude_same_key=True`` (default) drops candidates whose url equals
    the query's — correct for the self-join reading ("nearest OTHER
    page"). For a cross-table join where both sides can legitimately
    carry the same key (e.g. epoch A vs epoch B of one corpus), pass
    False, or the true nearest would be silently skipped.

    The level count is a FIXED short ladder, not a loop-to-convergence:
    each level's ``remaining`` embeds the previous level's subtree twice
    (anti-join of its own derivative), so lineage grows 2^levels — three
    levels is cheap, ten would double the optimizer's input a thousandfold.
    Choose the finest level so mean cell occupancy is O(1..100) rows
    (res ~ log2(sqrt(area/n_right)) finer side); the coarser levels exist
    only to certify sparse regions.

    Ladder selection (r4, VERDICT r3 "Next round" #5):

    - ``resolutions`` given → used verbatim (full control).
    - ``res0`` given → the documented 3-level (res0, res0-2, res0-4)
      ladder (explicit override, unchanged semantics).
    - neither → **density-adaptive**: ``nn_probe_res(right)`` picks the
      finest res with estimated occupancy >= ~2 rows/cell, and the
      ladder is that SINGLE level + the k=4 wide-disk escalation —
      measured fastest at bench density (every extra level re-keys and
      re-scans the right side even when its input is empty; the k
      escalation covers sparse regions the way coarser levels did).
      The old density-blind default was (5, 3, 1) regardless of the
      right side.
    """
    if resolutions is None:
        if res0 is None:
            resolutions = (nn_probe_res(right),)
        else:
            resolutions = tuple(
                dict.fromkeys(max(1, res0 - 2 * i) for i in range(3))
            )
    if not resolutions or any(r < 1 for r in resolutions):
        raise ValueError("resolutions must be >= 1")
    # escalation levels: widen the disk at the coarsest res before the
    # cartesian fallback; k is capped so the (2k+1)-wide disk never wraps
    # past the full longitude ring (nlon = 2^(res+1)), which would alias
    # bucket keys (harmless for argmin correctness, pointless for work).
    r_last = resolutions[-1]
    k_cap = ((1 << (r_last + 1)) - 1) // 2
    levels = [(r, 1) for r in resolutions] + [
        (r_last, k) for k in escalate_k if 1 < k <= k_cap
    ]
    remaining = left.select("url", "lat", "lon")
    rights = right.select(
        F.col("url").alias("nn_url"),
        F.col("lat").alias("r_lat"),
        F.col("lon").alias("r_lon"),
    )
    dy = F.col("lat") - F.col("r_lat")
    dx = F.col("lon") - F.col("r_lon")
    dist2 = dy * dy + dx * dx
    certified_parts: list[DataFrame] = []
    for res, k in levels:
        guard = ring_guarantee_radius(res, k)
        cand = remaining.withColumn(
            "bucket",
            F.explode(
                grid.grid_disk(
                    grid.cell_encode(F.col("lat"), F.col("lon"), res), res, k
                )
            ),
        ).join(
            rights.withColumn(
                "bucket", grid.cell_encode(F.col("r_lat"), F.col("r_lon"), res)
            ),
            "bucket",
            "inner",
        )
        if exclude_same_key:
            cand = cand.where(F.col("url") != F.col("nn_url"))
        best = _argmin_pair(cand.withColumn("dist2", dist2))
        # certified feeds BOTH the output union and the next level's
        # anti-join; staging it (lazy, bounded by |left| rows) stops the
        # level's join+argmin from recomputing once per consumer —
        # measured 3x on the tail path.
        certified = _stage(best.where(F.col("dist2") < F.lit(guard * guard)))
        certified_parts.append(certified)
        remaining = remaining.join(certified, "url", "left_anti")
    # pathological tail: cartesian re-scan of whatever survived every level
    # the remaining side is the pathological remainder (nearest neighbor
    # beyond the widest escalation disk) — empirically empty at sane
    # ladder choices, tiny otherwise. BROADCAST it so the tail streams
    # `rights` once against an in-memory table (measured: 2.6 s -> 0.7 s
    # per pass at bench scale even when remaining is EMPTY, because the
    # plain crossJoin still duplicates/shuffles the right side per
    # remaining-partition). If the tail is ever large enough to break
    # the broadcast (~GBs), the resolution ladder was mis-chosen for the
    # density and failing loud beats silently running a quadratic
    # re-scan of `rights` — same fail-loud discipline as hotspots'
    # driver cap and the fixpoint max_iters.
    tail_cand = F.broadcast(remaining).crossJoin(rights)
    if exclude_same_key:
        tail_cand = tail_cand.where(F.col("url") != F.col("nn_url"))
    tail = _argmin_pair(tail_cand.withColumn("dist2", dist2))
    out = certified_parts[0]
    for part in certified_parts[1:]:
        out = out.unionByName(part)
    return out, tail


def nn_join(
    left: DataFrame,
    right: DataFrame,
    resolutions: "tuple[int, ...] | None" = None,
    res0: int | None = None,
    exclude_same_key: bool = True,
) -> DataFrame:
    """See nn_join_with_tail — this is the user-facing union of the
    certified ladder output and the cartesian tail."""
    out, tail = nn_join_with_tail(
        left, right, resolutions=resolutions, res0=res0,
        exclude_same_key=exclude_same_key,
    )
    return out.unionByName(tail)


def sql_nn_join(pages_rel: str = "pages") -> str:
    """Oracle: the O(n^2) window form with identical dist2 arithmetic and
    the same (dist2, nn_url) tie-break."""
    d2 = "(a.lat - b.lat) * (a.lat - b.lat) + (a.lon - b.lon) * (a.lon - b.lon)"
    return f"""
SELECT url, nn_url, dist2 FROM (
  SELECT a.url, b.url AS nn_url, {d2} AS dist2,
         row_number() OVER (PARTITION BY a.url
                            ORDER BY {d2} ASC, b.url ASC) AS rk
  FROM {pages_rel} a, {pages_rel} b
  WHERE a.url != b.url
) WHERE rk = 1"""


# ---------------------------------------------------------------------------
# Raster algebra: change detection between two rasters
# ---------------------------------------------------------------------------


def raster_diff(raster_a: DataFrame, raster_b: DataFrame) -> DataFrame:
    """Per-cell change detection between two page-count rasters (same
    res): (cell, n_a, n_b, delta). Full-outer on the cell key — a cell
    present in only one epoch reports the other side as 0, the exact
    analogue of verify_tree's ADDED/MISSING split (FV/PathInfo.cs:427-537)
    lifted from files to tiles. One shuffle on cell; inputs are already
    aggregated so the join is |cells| x |cells|-bounded, never |pages|."""
    a = raster_a.select("cell", F.col("n_pages").alias("n_a"))
    b = raster_b.select("cell", F.col("n_pages").alias("n_b"))
    return (
        a.join(b, "cell", "full_outer")
        .select(
            "cell",
            F.coalesce(F.col("n_a"), F.lit(0)).cast("bigint").alias("n_a"),
            F.coalesce(F.col("n_b"), F.lit(0)).cast("bigint").alias("n_b"),
        )
        .withColumn("delta", (F.col("n_a") - F.col("n_b")).cast("bigint"))
    )


def sql_raster_diff(res: int, pred_a: str, pred_b: str,
                    pages_rel: str = "pages") -> str:
    """Oracle: two grouped subqueries full-outer-joined, same coalesce."""
    cell = grid.sql_cell_encode("lat", "lon", res)
    return f"""
SELECT COALESCE(a.cell, b.cell) AS cell,
       CAST(COALESCE(a.n, 0) AS BIGINT) AS n_a,
       CAST(COALESCE(b.n, 0) AS BIGINT) AS n_b,
       CAST(COALESCE(a.n, 0) - COALESCE(b.n, 0) AS BIGINT) AS delta
FROM      (SELECT {cell} AS cell, count(*) AS n FROM {pages_rel}
           WHERE {pred_a} GROUP BY 1) a
FULL JOIN (SELECT {cell} AS cell, count(*) AS n FROM {pages_rel}
           WHERE {pred_b} GROUP BY 1) b
ON a.cell = b.cell"""


# ---------------------------------------------------------------------------
# Hotspot detection (grid clustering via connected components)
# ---------------------------------------------------------------------------


def _hot_raster(pages: DataFrame, res: int, min_count: int) -> DataFrame:
    """(cell, n_pages) for cells with >= min_count pages: the heavy,
    fully distributed partial-agg shared by both hotspot paths."""
    return (
        pages.select(
            grid.cell_encode(F.col("lat"), F.col("lon"), res).alias("cell")
        )
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .where(F.col("n_pages") >= min_count)
    )


# Driver-side union-find is O(|hot cells|) driver memory; past this many
# hot cells the caller must use hotspots_distributed (ADVICE r02 #3:
# res 12+/min_count 1 could otherwise OOM the driver silently).
HOTSPOTS_MAX_DRIVER_CELLS = 2_000_000


def hotspots(
    pages: DataFrame,
    res: int,
    min_count: int,
    max_driver_cells: int = HOTSPOTS_MAX_DRIVER_CELLS,
) -> DataFrame:
    """Spatial clusters of activity: cells with >= min_count pages,
    merged into connected components over 8-neighborhood adjacency
    (longitude wraps) — (cell, n_pages, hotspot_id), hotspot_id = the
    smallest cell id in the component.

    Scale split mirrors knn_adaptive/ivf_centroids: the heavy part (per-
    cell counts) is a distributed partial-agg; the component merge runs
    driver-side union-find over the HOT CELLS ONLY — a relation bounded
    by |cells at res| and in practice tiny next to |pages| (hotspots are
    by definition rare). Labels broadcast back onto the raster. The
    DuckDB oracle computes the identical components with a recursive-CTE
    transitive closure, so the component semantics are pinned end-to-end,
    not just the counts.

    The hot set is NOT bounded by the input size: at a fine ``res`` with
    a low ``min_count`` a 100x corpus makes more cells hot at a fixed
    threshold. The driver path therefore fails loud past
    ``max_driver_cells`` and points at :func:`hotspots_distributed`
    (min-label propagation, no driver collect), which is the scale path."""
    raster = _hot_raster(pages, res, min_count)
    # limit(N+1) bounds the collect itself, so the guard cannot OOM the
    # driver on the way to raising
    hot_rows = raster.select("cell").limit(max_driver_cells + 1).collect()
    if len(hot_rows) > max_driver_cells:
        raise ValueError(
            f"hotspots: >{max_driver_cells} hot cells exceeds the driver "
            "union-find bound; use hotspots_distributed() or raise "
            "min_count / coarsen res"
        )
    hot = [r["cell"] for r in hot_rows]
    nlon = 1 << (res + 1)
    mask = grid.LAT_MULT - 1
    parent = {c: c for c in hot}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-root union keeps the label = smallest cell id
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb

    hotset = set(hot)
    for c in hot:
        la, lo = (c >> 29) & mask, c & mask
        for dla in (-1, 0, 1):
            for dlo in (-1, 0, 1):
                if dla == 0 and dlo == 0:
                    continue
                n = (
                    res * grid.RES_MULT
                    + (la + dla) * grid.LAT_MULT
                    + (lo + dlo) % nlon
                )
                if 0 <= la + dla < (1 << res) and n in hotset:
                    union(c, n)
    labels = [(c, find(c)) for c in hot]
    lab_df = local_relation(
        pages.sparkSession, labels, "cell bigint, hotspot_id bigint"
    )
    return raster.join(F.broadcast(lab_df), "cell", "inner").select(
        "cell", "n_pages", "hotspot_id"
    )


def hotspots_distributed(
    pages: DataFrame,
    res: int,
    min_count: int,
    max_iters: int = 64,
) -> DataFrame:
    """Scale path for :func:`hotspots`: identical output (cell, n_pages,
    hotspot_id), NO driver-side collect of the hot set (VERDICT r02 #4).

    Connected components by min-label propagation over the hot-cell
    relation:

    - hot raster = the same distributed partial-agg as the driver path;
    - edge relation built once: each hot cell explodes its 3x3 Chebyshev
      disk (grid_disk k=1, longitude wraps) and semi-joins back to the
      hot set — |edges| <= 8|hot|, shuffled on the cell key;
    - iterate label(cell) <- min(label(cell), min label over neighbors)
      to fixpoint. Each sweep is one equi-join + one partial-agg min on
      the TINY hot relation (never |pages|); the loop runs O(component
      diameter) sweeps, each eagerly staged (reliable checkpoint on the
      cluster, localCheckpoint locally) so lineage stays flat instead of
      doubling per iteration (same staging discipline as nn_join levels). Convergence is detected with a changed-row count
      — one driver-side scalar per sweep, never row data.

    The driver path (:func:`hotspots`) stays preferable interactively at
    coarse res: label propagation pays ~diameter shuffle rounds where
    union-find pays one collect. At fine res / low min_count — where the
    hot set is unbounded in the input and the driver path fails loud —
    this form is the only safe one. ``max_iters`` bounds pathological
    snake-shaped components; it raises rather than returning unconverged
    labels (a wrong component id is a correctness bug, not a timeout)."""
    raster = _hot_raster(pages, res, min_count).persist()
    hot = raster.select("cell")
    # symmetric adjacency: (cell, nbr) with both endpoints hot
    nbrs = hot.select(
        "cell",
        F.explode(grid.grid_disk(F.col("cell"), res, 1)).alias("nbr"),
    ).where(F.col("cell") != F.col("nbr"))
    edges = nbrs.join(
        hot.select(F.col("cell").alias("nbr")), "nbr", "left_semi"
    ).persist()

    labels = _stage(hot.select("cell", F.col("cell").alias("label")), eager=True)
    for _ in range(max_iters):
        msgs = edges.join(labels, "cell", "inner").select(
            F.col("nbr").alias("cell"), "label"
        )
        new_labels = _stage(
            labels.unionByName(msgs)
            .groupBy("cell")
            .agg(F.min("label").alias("label")),
            eager=True,
        )
        n_changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "cell")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if n_changed == 0:
            break
    else:
        raster.unpersist()
        edges.unpersist()
        raise RuntimeError(
            f"hotspots_distributed: labels not converged after {max_iters} "
            "sweeps (component diameter exceeds max_iters)"
        )
    out = _stage(
        raster.join(labels, "cell", "inner").select(
            "cell", "n_pages", F.col("label").alias("hotspot_id")
        ),
        eager=True,
    )
    raster.unpersist()
    edges.unpersist()
    return out


def sql_hotspots(res: int, min_count: int, pages_rel: str = "pages") -> str:
    """Oracle: hot cells + recursive-CTE transitive closure; hotspot_id =
    min reachable cell. The closure is over hot cells only, so the
    recursion is tiny, like the driver-side union-find it mirrors."""
    cell = grid.sql_cell_encode("lat", "lon", res)
    nlat = 1 << res
    nlon = 1 << (res + 1)
    mask = grid.LAT_MULT - 1
    la = f"((cell >> 29) & {mask})"
    lo = f"(cell & {mask})"
    # CTE LIST ONLY (no WITH keyword): the caller splices this into its
    # own WITH RECURSIVE clause (e.g. after the pages CTE)
    return f"""hot AS (
  SELECT cell, count(*) AS n_pages FROM (
    SELECT {cell} AS cell FROM {pages_rel}
  ) GROUP BY cell HAVING count(*) >= {min_count}
),
edges AS (
  SELECT a.cell AS b1, b.cell AS b2
  FROM hot a, hot b
  WHERE a.cell != b.cell
    AND abs(({la.replace('cell', 'a.cell')}) - ({la.replace('cell', 'b.cell')})) <= 1
    AND (abs(({lo.replace('cell', 'a.cell')}) - ({lo.replace('cell', 'b.cell')})) <= 1
         OR abs(({lo.replace('cell', 'a.cell')}) - ({lo.replace('cell', 'b.cell')})) = {nlon - 1})
    AND ({la.replace('cell', 'a.cell')}) < {nlat}
),
reach AS (
  SELECT cell AS a, cell AS b FROM hot
  UNION
  SELECT r.a, e.b2 FROM reach r JOIN edges e ON r.b = e.b1
)
SELECT h.cell, h.n_pages, m.hotspot_id
FROM hot h JOIN (
  SELECT a AS cell, min(b) AS hotspot_id FROM reach GROUP BY a
) m ON h.cell = m.cell"""


# ---------------------------------------------------------------------------
# Polygon x polygon intersection join (registry vs registry)
# ---------------------------------------------------------------------------


def poly_intersection_join(
    spark: SparkSession,
    polys_a: "list[Polygon]",
    polys_b: "list[Polygon]",
    res: int,
) -> DataFrame:
    """Registry-vs-registry spatial join: (poly_a, poly_b,
    n_shared_cells, iou) for every pair of features whose center-sampled
    cell masks at ``res`` share >= 1 cell — the polygon-polygon
    intersection test, grid-approximate at the stated resolution (both
    sides rasterized with the same center-sampling rule as
    rasterize_polygons, so the result is DEFINED exactly and refines
    monotonically with res; the common GIS mask-overlap join).

    iou = |A mask ∩ B mask| / |A mask ∪ B mask| ranks the pairs.

    Scale shape: each registry rasterizes independently (broadcast bbox
    covering + codegen'd crossing parity — no Python), then ONE
    equi-join on the cell key and a pair-key hash-agg. At millions of
    features per side this stays bucketed by cell where the naive
    bbox-pairs test is quadratic in the registries; hot cells (many
    overlapping features) are the join's skew axis, and AQE skew-join is
    the backstop exactly as for the point-side distance join.

    Reference analogue: verify_tree's two-sided reconcile
    (FV/PathInfo.cs:427-537) lifted from (live, stored) file sets to
    (registry A, registry B) geometry sets."""
    ma = rasterize_polygons(spark, polys_a, res).select(
        F.col("poly_id").alias("poly_a"), "cell"
    )
    mb = rasterize_polygons(spark, polys_b, res).select(
        F.col("poly_id").alias("poly_b"), "cell"
    )
    na = ma.groupBy("poly_a").agg(F.count(F.lit(1)).alias("n_a"))
    nb = mb.groupBy("poly_b").agg(F.count(F.lit(1)).alias("n_b"))
    shared = (
        ma.join(mb, "cell")
        .groupBy("poly_a", "poly_b")
        .agg(F.count(F.lit(1)).alias("n_shared_cells"))
    )
    iou = F.round(
        F.col("n_shared_cells")
        / (F.col("n_a") + F.col("n_b") - F.col("n_shared_cells")),
        6,
    )
    return (
        shared.join(na, "poly_a")
        .join(nb, "poly_b")
        .select("poly_a", "poly_b", "n_shared_cells", iou.alias("iou"))
    )


def sql_poly_intersection_join(
    polys_a: "list[Polygon]", polys_b: "list[Polygon]", res: int
) -> str:
    """Oracle: the same two rasterizations (sql_rasterize verbatim, as
    nested-WITH subqueries) + cell equi-join + pair aggregation; iou is
    exact-integer arithmetic rounded identically."""
    qa = sql_rasterize(polys_a, res)
    qb = sql_rasterize(polys_b, res)
    return f"""
WITH ma AS (SELECT poly_id AS poly_a, cell FROM ({qa}) qa),
mb AS (SELECT poly_id AS poly_b, cell FROM ({qb}) qb),
na AS (SELECT poly_a, count(*) AS n_a FROM ma GROUP BY poly_a),
nb AS (SELECT poly_b, count(*) AS n_b FROM mb GROUP BY poly_b),
shared AS (
  SELECT ma.poly_a, mb.poly_b, count(*) AS n_shared_cells
  FROM ma JOIN mb USING (cell) GROUP BY ma.poly_a, mb.poly_b
)
SELECT s.poly_a, s.poly_b, s.n_shared_cells,
       round(s.n_shared_cells / (na.n_a + nb.n_b - s.n_shared_cells), 6) AS iou
FROM shared s JOIN na USING (poly_a) JOIN nb USING (poly_b)"""


# ---------------------------------------------------------------------------
# Spatial autocorrelation: Moran's I sufficient statistics (round 4)
# ---------------------------------------------------------------------------

def moran_stats(cells: DataFrame) -> DataFrame:
    """One-row EXACT sufficient statistics of global Moran's I over a
    ``(x, y, n)`` tile-count grid under rook adjacency (binary weights,
    4-neighborhood — Moran 1950; Cliff & Ord 1981 notation):

        n_cells, s_x = sum(n), s_xx = sum(n^2)       over cells
        w_pairs  = ordered adjacent pairs (= 2 * undirected edges)
        s_adj_xy  = sum(n_i * n_j)  over ordered adjacent pairs
        s_adj_sum = sum(n_i + n_j)  over ordered adjacent pairs

    Moran's I assembles downstream in one float step:
    with mu = s_x/n_cells,
    num = s_adj_xy - mu*s_adj_sum + w_pairs*mu^2,
    den = s_xx - 2*mu*s_x + n_cells*mu^2,
    I = (n_cells / w_pairs) * num / den — every input to that formula
    is a BIGINT here, so the distributed part is float-free and
    order-independent (the hash-canon requirement).

    Adjacency is found with an EQUI-join: each cell explodes into its 4
    neighbor coordinates and hash-joins back onto the grid — never a
    theta-join/BNL over cell pairs, so the plan is two shuffles on the
    (x, y) key regardless of grid size. Ordered pairs appear exactly
    once per direction (cell a exploded toward b, matched at b), giving
    the symmetric-weight W without a dedup. int64 headroom: holds while
    max_cell_count^2 * w_pairs < 2^63 — counts are per-tile page
    totals, so a 1e6-max-count, 1e9-pair grid is still 1e21-safe only
    per-term; the SUM preflights nothing because tile counts at any
    realistic zoom are << 2^31 (the contract zoom keeps them < 1e5).
    """
    offs = F.array(
        F.struct(F.lit(1).alias("dx"), F.lit(0).alias("dy")),
        F.struct(F.lit(-1).alias("dx"), F.lit(0).alias("dy")),
        F.struct(F.lit(0).alias("dx"), F.lit(1).alias("dy")),
        F.struct(F.lit(0).alias("dx"), F.lit(-1).alias("dy")),
    )
    shifted = cells.select(
        F.col("n").alias("na"), F.explode(offs).alias("o"), "x", "y"
    ).select(
        (F.col("x") + F.col("o.dx")).alias("x"),
        (F.col("y") + F.col("o.dy")).alias("y"),
        "na",
    )
    pairs = shifted.join(
        cells.select("x", "y", F.col("n").alias("nb")), ["x", "y"]
    )
    g = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("n").cast("long").alias("s_x"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s_xx"),
    )
    h = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("w_pairs"),
        F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
        .cast("long")
        .alias("s_adj_xy"),
        F.coalesce(F.sum(F.col("na") + F.col("nb")), F.lit(0))
        .cast("long")
        .alias("s_adj_sum"),
    )
    return g.crossJoin(h)


def sql_moran_stats(cells_rel: str) -> str:
    """Oracle for :func:`moran_stats` over a ``(x, y, n)`` relation
    (full WITH statement)."""
    return f"""WITH mtc AS (SELECT x, y, n FROM {cells_rel}),
madj AS (
  SELECT a.n AS na, b.n AS nb
  FROM mtc a
  CROSS JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) d(dx, dy)
  JOIN mtc b ON b.x = a.x + d.dx AND b.y = a.y + d.dy
)
SELECT g.n_cells, g.s_x, g.s_xx, h.w_pairs, h.s_adj_xy, h.s_adj_sum
FROM (SELECT CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(n) AS BIGINT) AS s_x,
             CAST(sum(n * n) AS BIGINT) AS s_xx FROM mtc) g,
     (SELECT CAST(count(*) AS BIGINT) AS w_pairs,
             CAST(COALESCE(sum(na * nb), 0) AS BIGINT) AS s_adj_xy,
             CAST(COALESCE(sum(na + nb), 0) AS BIGINT) AS s_adj_sum
      FROM madj) h"""


# ---------------------------------------------------------------------------
# Local hotspot statistic: Getis-Ord Gi* sufficient statistics (round 4)
# ---------------------------------------------------------------------------

def getis_ord_stats(cells: DataFrame) -> DataFrame:
    """Per-cell EXACT sufficient statistics of the Getis-Ord Gi* local
    hotspot statistic (Getis & Ord 1992; Ord & Getis 1995) over a
    ``(x, y, n)`` tile-count grid with binary queen weights (the 3x3
    kernel INCLUDING self, the standard Gi* convention).

    Output per occupied cell (all BIGINT, order-independent):

        x, y, n         — the cell and its own count
        nbrs            — occupied kernel cells (weight sum W_i*)
        local_sum       — sum(n_j) over the occupied kernel
        n_cells, s_x, s_xx — global grid cardinality / sum / sum-sq

    The z-score assembles downstream in one float step per cell:
    with nn = n_cells, mu = s_x/nn, S = sqrt(s_xx/nn - mu^2),
    z_i = (local_sum - mu*nbrs) / (S * sqrt((nn*nbrs - nbrs^2)/(nn-1)))
    — every input is exact here, so the distributed plan is float-free
    (hash-canon requirement), like :func:`moran_stats`.

    Plan shape: kernel adjacency is an EQUI-join (each cell explodes
    into its 9 kernel coordinates and hash-joins back onto the grid),
    then ONE hash-groupBy on (x, y) and a broadcast of the 1-row global
    agg — three shuffles total on the (x, y) key regardless of grid
    size, never a theta-join over cell pairs. Empty kernel cells
    contribute nothing, exactly the "occupied neighbours only" sparse
    form that keeps the shuffle proportional to occupied tiles (at
    10^12 pages / zoom-12 that is <= 2^24 rows x 9 — trivially
    shuffle-able). int64 headroom: local_sum <= 9 * max tile count.
    """
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    shifted = cells.select(
        F.col("n").alias("na"), F.explode(offs).alias("o"), "x", "y"
    ).select(
        (F.col("x") + F.col("o.dx")).alias("x"),
        (F.col("y") + F.col("o.dy")).alias("y"),
        "na",
    )
    local = (
        shifted.join(cells.select("x", "y", F.col("n").alias("nb")), ["x", "y"])
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nbrs"),
            F.sum("na").cast("long").alias("local_sum"),
        )
    )
    g = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("n").cast("long").alias("s_x"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s_xx"),
    )
    return (
        cells.select("x", "y", F.col("n").cast("long").alias("n"))
        .join(local, ["x", "y"])
        .crossJoin(F.broadcast(g))
    )


def sql_getis_ord_stats(cells_rel: str) -> str:
    """Oracle for :func:`getis_ord_stats` over a ``(x, y, n)`` relation
    (full WITH statement)."""
    return f"""WITH gtc AS (SELECT x, y, n FROM {cells_rel}),
glocal AS (
  SELECT b.x, b.y,
         CAST(count(*) AS BIGINT) AS nbrs,
         CAST(sum(a.n) AS BIGINT) AS local_sum
  FROM gtc a
  CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                     (1,-1),(1,0),(1,1)) d(dx, dy)
  JOIN gtc b ON b.x = a.x + d.dx AND b.y = a.y + d.dy
  GROUP BY b.x, b.y
),
gglob AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(n) AS BIGINT) AS s_x,
         CAST(sum(n * n) AS BIGINT) AS s_xx FROM gtc
)
SELECT c.x, c.y, CAST(c.n AS BIGINT) AS n, l.nbrs, l.local_sum,
       g.n_cells, g.s_x, g.s_xx
FROM gtc c JOIN glocal l ON l.x = c.x AND l.y = c.y, gglob g"""


# ---------------------------------------------------------------------------
# Z-order layout: linearization audit + range-pruned bbox scan
# ---------------------------------------------------------------------------


def zorder_layout_stats(
    pages: DataFrame,
    level: int = grid.ZORDER_LEVEL,
    prefix_level: int = 4,
) -> DataFrame:
    """Per-bucket audit of the Morton-sorted physical layout: bucket =
    the top ``2*prefix_level`` key bits (one bucket = one quadtree node =
    one file-sized contiguous run once the table is written sorted by
    ``zkey``). Emits exactly the statistics min/max file pruning consumes
    — (bucket, n_pages, z_min, z_max) — so a skew/coverage problem in the
    layout is visible BEFORE a 100 TB rewrite: a bucket with a huge
    n_pages is a hot file cluster (split it deeper), and z_min/z_max
    spans confirm buckets are disjoint key ranges (they are, by
    construction — the assertion the oracle hash-checks).

    One scan + one partial-agg shuffle at 4^prefix_level output rows.
    """
    xy = grid.zorder_xy(F.col("lat"), F.col("lon"), level)
    z = grid.morton_key(xy["x"], xy["y"], level)
    shift = 2 * (level - prefix_level)
    return (
        pages.select(z.alias("zkey"))
        .groupBy(F.shiftright(F.col("zkey"), shift).alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pages"),
            F.min("zkey").alias("z_min"),
            F.max("zkey").alias("z_max"),
        )
    )


def sql_zorder_layout_stats(
    level: int = grid.ZORDER_LEVEL,
    prefix_level: int = 4,
    pages_rel: str = "pages",
) -> str:
    """Oracle for :func:`zorder_layout_stats` (same unrolled interleave)."""
    xs, ys = grid.sql_zorder_xy("lat", "lon", level)
    zk = grid.sql_morton_key("zx", "zy", level)
    shift = 2 * (level - prefix_level)
    return f"""
SELECT zkey >> {shift} AS bucket,
       CAST(count(*) AS BIGINT) AS n_pages,
       min(zkey) AS z_min, max(zkey) AS z_max
FROM (SELECT {zk} AS zkey
      FROM (SELECT {xs} AS zx, {ys} AS zy FROM {pages_rel}) q) zz
GROUP BY 1"""


def zorder_bbox_query(
    pages: DataFrame,
    lat_min: float,
    lat_max: float,
    lon_min: float,
    lon_max: float,
    level: int = grid.ZORDER_LEVEL,
    max_ranges: int = 64,
    key_col: str | None = None,
) -> DataFrame:
    """Rectangle query as the Morton-sorted layout executes it: the box
    decomposes driver-side into <= max_ranges contiguous key intervals
    (:func:`grid.morton_ranges`), the scan filter is the OR-of-BETWEEN
    over those intervals (pure min/max-stat pruning on the layout key —
    at 10^12 rows this is the difference between reading the planet and
    reading the box), and the exact bounds test cleans up the superset.
    Semantically identical to :func:`bbox_query` (same oracle); the two
    differ only in WHICH physical prefilter they hand the scan — cell
    isin() on the cell-partitioned layout vs key ranges on the
    Morton-sorted one."""
    ranges = grid.morton_ranges(
        lat_min, lat_max, lon_min, lon_max, level, max_ranges
    )
    exact = (
        (F.col("lat") >= lat_min)
        & (F.col("lat") <= lat_max)
        & (F.col("lon") >= lon_min)
        & (F.col("lon") <= lon_max)
    )
    out_cols = ["url", "lat", "lon", "lang"]
    if key_col is not None:
        # The real Morton-sorted layout: the caller names a STORED key
        # column (which MUST have been written with morton_key at this
        # same ``level`` — explicit opt-in, never sniffed, because e.g.
        # write_zordered's cell-derived zkey uses a different encoding).
        # The OR-of-BETWEEN then lands on a plain attribute and pushes
        # all the way into the parquet scan (min/max row-group pruning)
        # — the whole point of the layout.
        pred = F.lit(False)
        for lo, hi in ranges:
            pred = pred | F.col(key_col).between(F.lit(lo), F.lit(hi))
        return pages.where(pred).where(exact).select(*out_cols)
    # Derived-key path (no stored zkey): the key must be computed from
    # lat/lon, and a plain where(OR-of-BETWEEN) would let Catalyst push
    # the predicate through any projection and inline the full Morton
    # bit-interleave once PER RANGE — 64x blows janino's 64 KB method
    # limit and whole-stage codegen silently falls back to interpreted
    # eval, the exact scan-throughput loss this operator exists to
    # avoid. Joining against the <= max_ranges driver-computed intervals
    # instead makes the predicate reference BOTH sides, so it cannot be
    # pushed below the key projection: the Morton key is evaluated once
    # per row, then probed against the 64-row broadcast (a bounded
    # BroadcastNestedLoopJoin, not a cartesian product). Quadtree
    # intervals are disjoint, so the inner join cannot duplicate rows;
    # an empty decomposition (degenerate / antimeridian-crossing box)
    # yields an empty broadcast side and hence the same empty result as
    # bbox_query.
    xy = grid.zorder_xy(F.col("lat"), F.col("lon"), level)
    z = grid.morton_key(xy["x"], xy["y"], level)
    ranges_df = local_relation(
        pages.sparkSession,
        [(int(lo), int(hi)) for lo, hi in ranges],
        "z_lo bigint, z_hi bigint",
    )
    zk = F.col("__zkey")
    return (
        pages.withColumn("__zkey", z)
        .join(
            F.broadcast(ranges_df),
            (zk >= F.col("z_lo")) & (zk <= F.col("z_hi")),
            "inner",
        )
        .where(exact)
        .select(*out_cols)
    )


# ---------------------------------------------------------------------------
# Focal (neighborhood) raster statistics — 3x3 integer-kernel convolution
# ---------------------------------------------------------------------------

#: 3x3 binomial kernel (integer Gaussian approximation), weights sum 16
FOCAL_KERNEL: tuple[tuple[int, int, int], ...] = (
    (-1, -1, 1), (-1, 0, 2), (-1, 1, 1),
    (0, -1, 2), (0, 0, 4), (0, 1, 2),
    (1, -1, 1), (1, 0, 2), (1, 1, 1),
)


def focal_stats(cells: DataFrame, z: int) -> DataFrame:
    """Focal (moving-window) statistics over a ``(x, y, n)`` tile-count
    raster: for every cell within one step of an occupied cell, the
    3x3 binomial-weighted count sum (exact BIGINT — the smoothed
    heat-map every tile renderer ships), the neighborhood max, and the
    occupied-contributor count. Output cells include the one-cell halo
    around occupied tiles (sparse dilation — empty cells two+ steps out
    never materialize).

    Distinct from :func:`raster_smooth` (unweighted box sum on the
    quadtree grid, lon-wrapping, occupied cells only): this is the
    WEIGHTED kernel on the XYZ tile grid with the one-cell halo a tile
    renderer needs (smoothed values exist at blob edges), plus the
    neighborhood max.

    Plan: scatter-gather convolution — each occupied cell EXPLODES into
    its 9 (target, weight*n) contributions (plan-time-unrolled array,
    zero Python), then ONE hash-groupBy on the target coordinate. Shuffle
    volume is 9x occupied tiles regardless of raster size; at zoom 12
    over 10^12 pages that is <= 9 * 2^24 rows. Grid edges clip (no
    wraparound) — both engines apply the identical bounds filter."""
    n_side = 1 << z
    contribs = F.array(
        *[
            F.struct(
                (F.col("x") + F.lit(dx)).alias("tx"),
                (F.col("y") + F.lit(dy)).alias("ty"),
                (F.col("n") * F.lit(w)).alias("wn"),
                F.col("n").alias("src_n"),
            )
            for dx, dy, w in FOCAL_KERNEL
        ]
    )
    return (
        cells.select(F.explode(contribs).alias("c"))
        .select("c.*")
        .where(
            (F.col("tx") >= 0)
            & (F.col("tx") <= n_side - 1)
            & (F.col("ty") >= 0)
            & (F.col("ty") <= n_side - 1)
        )
        .groupBy(F.col("tx").alias("x"), F.col("ty").alias("y"))
        .agg(
            F.sum("wn").cast("long").alias("focal_wsum"),
            F.max("src_n").cast("long").alias("focal_max"),
            F.count(F.lit(1)).cast("long").alias("n_contrib"),
        )
    )


def sql_focal_stats(cells_rel: str, z: int) -> str:
    """Oracle for :func:`focal_stats` over a ``(x, y, n)`` relation —
    the same convolution as an offsets CROSS JOIN (full WITH statement)."""
    n_side = 1 << z
    values = ",".join(f"({dx},{dy},{w})" for dx, dy, w in FOCAL_KERNEL)
    return f"""WITH fc AS (SELECT x, y, n FROM {cells_rel})
SELECT c.x + d.dx AS x, c.y + d.dy AS y,
       CAST(sum(c.n * d.w) AS BIGINT) AS focal_wsum,
       CAST(max(c.n) AS BIGINT) AS focal_max,
       CAST(count(*) AS BIGINT) AS n_contrib
FROM fc c CROSS JOIN (VALUES {values}) d(dx, dy, w)
WHERE c.x + d.dx BETWEEN 0 AND {n_side - 1}
  AND c.y + d.dy BETWEEN 0 AND {n_side - 1}
GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# Coverage gaps — the cells of a rectangle with NO pages (universe anti-join)
# ---------------------------------------------------------------------------


def coverage_gaps(
    pages: DataFrame,
    lat_min: float,
    lat_max: float,
    lon_min: float,
    lon_max: float,
    res: int,
) -> DataFrame:
    """Every grid cell of the rectangle at ``res`` that contains NO page —
    the crawl-coverage hole report (the geospatial twin of the
    reference's missing-file anti-join, FileVerification/PathInfo.cs:
    the files the manifest names that the tree no longer has; here, the
    cells the tiling names that the corpus never touched).

    The cell universe is GENERATED distributed — ``spark.range`` on each
    axis, cross-joined (|rows| x |cols| output, never collected, never a
    Python loop) — then LEFT ANTI joined against the occupied-cell set.
    At res 10 a whole-planet universe is ~2M rows — trivial next to the
    pages scan, which remains the only big input and aggregates down to
    occupied cells before the join."""
    import math

    n_lat, n_lon = 1 << res, 1 << (res + 1)
    y0 = min(max(int(math.floor((lat_min + 90.0) / 180.0 * n_lat)), 0), n_lat - 1)
    y1 = min(max(int(math.floor((lat_max + 90.0) / 180.0 * n_lat)), 0), n_lat - 1)
    x0 = min(max(int(math.floor((lon_min + 180.0) / 360.0 * n_lon)), 0), n_lon - 1)
    x1 = min(max(int(math.floor((lon_max + 180.0) / 360.0 * n_lon)), 0), n_lon - 1)
    spark = pages.sparkSession
    ys = spark.range(y0, y1 + 1).select(F.col("id").alias("lat_idx"))
    xs = spark.range(x0, x1 + 1).select(F.col("id").alias("lon_idx"))
    universe = ys.crossJoin(xs).select(
        (
            F.lit(res).cast("long") * F.lit(grid.RES_MULT)
            + F.col("lat_idx") * F.lit(grid.LAT_MULT)
            + F.col("lon_idx")
        ).alias("cell"),
        "lat_idx",
        "lon_idx",
    )
    occupied = pages.select(
        grid.cell_encode(F.col("lat"), F.col("lon"), res).alias("cell")
    ).distinct()
    return universe.join(occupied, "cell", "left_anti").select(
        "cell", "lat_idx", "lon_idx"
    )


def sql_coverage_gaps(
    lat_min: float,
    lat_max: float,
    lon_min: float,
    lon_max: float,
    res: int,
    pages_rel: str = "pages",
) -> str:
    """Oracle for :func:`coverage_gaps` (generate_series universe)."""
    import math

    n_lat, n_lon = 1 << res, 1 << (res + 1)
    y0 = min(max(int(math.floor((lat_min + 90.0) / 180.0 * n_lat)), 0), n_lat - 1)
    y1 = min(max(int(math.floor((lat_max + 90.0) / 180.0 * n_lat)), 0), n_lat - 1)
    x0 = min(max(int(math.floor((lon_min + 180.0) / 360.0 * n_lon)), 0), n_lon - 1)
    x1 = min(max(int(math.floor((lon_max + 180.0) / 360.0 * n_lon)), 0), n_lon - 1)
    cell = grid.sql_cell_encode("lat", "lon", res)
    return f"""
SELECT u.cell, u.lat_idx, u.lon_idx
FROM (SELECT CAST({res} AS BIGINT) * {grid.RES_MULT}
             + yy.lat_idx * {grid.LAT_MULT} + xx.lon_idx AS cell,
             yy.lat_idx, xx.lon_idx
      FROM generate_series({y0}, {y1}) yy(lat_idx)
      CROSS JOIN generate_series({x0}, {x1}) xx(lon_idx)) u
LEFT JOIN (SELECT DISTINCT {cell} AS cell FROM {pages_rel}) o
  ON o.cell = u.cell
WHERE o.cell IS NULL"""


# ---------------------------------------------------------------------------
# Space-time tile activity: daily tile series + burst detection
# ---------------------------------------------------------------------------


def tile_bursts(pages: DataFrame, z: int) -> DataFrame:
    """Per-tile DAILY capture counts with the previous observed day's
    count and an exact-integer burst flag — the space-time churn signal
    a recrawl scheduler reads per region (the spatio-temporal twin of
    :func:`captures.capture_churn`, which keys on url).

    Output per (x, y, day): ``n`` captures that epoch-day, ``prev_n``
    the tile's previous OBSERVED day's count (0 on its first day — days
    with zero captures don't materialize, so "previous" is previous in
    the tile's capture sequence, not calendar-adjacent), and ``burst`` =
    prev_n > 0 AND n >= 2*prev_n. All integers — float-free.

    Plan: one pages scan → (tile, day) hash-agg (partial map-side
    combine), then ONE lag window partitioned by tile — bounded rows
    per partition (<= days in the corpus, <= 366/year) regardless of
    corpus size, so the window never sees a skewed partition."""
    t = grid.tile_xyz(F.col("lat"), F.col("lon"), z)
    day = F.floor(F.unix_timestamp(F.col("warc_ts")) / F.lit(86400)).cast(
        "bigint"
    )
    daily = (
        pages.select(t["x"].alias("x"), t["y"].alias("y"), day.alias("day"))
        .groupBy("x", "y", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = W.partitionBy("x", "y").orderBy("day")
    prev = F.coalesce(F.lag("n").over(w), F.lit(0)).cast("long")
    return daily.select(
        "x",
        "y",
        "day",
        "n",
        prev.alias("prev_n"),
        ((prev > 0) & (F.col("n") >= 2 * prev)).alias("burst"),
    )


def sql_tile_bursts(z: int, pages_rel: str = "pages") -> str:
    """DuckDB mirror of :func:`tile_bursts` (same lag window)."""
    xs, ys = grid.sql_tile_xyz("lat", "lon", z)
    return f"""
SELECT x, y, day, n,
       CAST(coalesce(lag(n) OVER w, 0) AS BIGINT) AS prev_n,
       (coalesce(lag(n) OVER w, 0) > 0
        AND n >= 2 * coalesce(lag(n) OVER w, 0)) AS burst
FROM (
  SELECT x, y, day, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT {xs} AS x, {ys} AS y,
               CAST(floor(epoch(warc_ts) / 86400) AS BIGINT) AS day
        FROM {pages_rel}) q
  GROUP BY 1, 2, 3) d
WINDOW w AS (PARTITION BY x, y ORDER BY day)"""


# ---------------------------------------------------------------------------
# Language-region affinity — exact PMI sufficient statistics
# ---------------------------------------------------------------------------


def lang_cell_affinity(pages: DataFrame, res: int) -> DataFrame:
    """Exact-integer sufficient statistics of the language↔region PMI
    (pointwise mutual information — the collocation statistic of
    curation.collocations_topk applied to the (lang, cell) pair space):
    per observed (lang, cell@res), the joint count ``n_lc``, the
    marginals ``n_l`` / ``n_c``, and the grand total ``n_tot``.
    PMI = log(n_lc * n_tot / (n_l * n_c)) assembles in one downstream
    float step; everything distributed here is BIGINT (hash-canon
    float-free, like moran_stats / getis_ord_stats).

    Plan: ONE pages scan → one (lang, cell) hash-agg with map-side
    combine; the marginals are window sums over the AGGREGATED relation
    (|langs| x |cells at res| rows — a few thousand at any res this is
    used at — so the unpartitioned total window is over a relation 6+
    orders smaller than the corpus, never over pages)."""
    joint = (
        pages.select(
            "lang",
            grid.cell_encode(F.col("lat"), F.col("lon"), res).alias("cell"),
        )
        .groupBy("lang", "cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n_lc"))
    )
    return joint.select(
        "lang",
        "cell",
        "n_lc",
        F.sum("n_lc").over(W.partitionBy("lang")).cast("long").alias("n_l"),
        F.sum("n_lc").over(W.partitionBy("cell")).cast("long").alias("n_c"),
        F.sum("n_lc").over(W.partitionBy()).cast("long").alias("n_tot"),
    )


def sql_lang_cell_affinity(res: int, pages_rel: str = "pages") -> str:
    """DuckDB mirror of :func:`lang_cell_affinity` (same window sums)."""
    cell = grid.sql_cell_encode("lat", "lon", res)
    return f"""
SELECT lang, cell, n_lc,
       CAST(sum(n_lc) OVER (PARTITION BY lang) AS BIGINT) AS n_l,
       CAST(sum(n_lc) OVER (PARTITION BY cell) AS BIGINT) AS n_c,
       CAST(sum(n_lc) OVER () AS BIGINT) AS n_tot
FROM (
  SELECT lang, {cell} AS cell, CAST(count(*) AS BIGINT) AS n_lc
  FROM {pages_rel} GROUP BY 1, 2) j"""


# ---------------------------------------------------------------------------
# Per-cell extent + centroid state — the tile-metadata rollup
# ---------------------------------------------------------------------------


def cell_extent(pages: DataFrame, res: int) -> DataFrame:
    """Per-cell tile metadata: page count, exact lat/lon bounding box
    (min/max of the stored doubles — order-independent), and MERGEABLE
    centroid state (DECIMAL(24,6) sums of the 6-dp-rounded coordinates,
    the cell_embeddings float canon; mean = s/n at the consumer, and two
    cells' states merge by addition — the property a hierarchical rollup
    needs). What a tile server precomputes per tile: where the data in
    this tile actually sits, vs the tile's nominal frame.

    One scan, one partial-aggregatable hash-agg, output = occupied
    cells."""
    dsum = lambda c: F.sum(  # noqa: E731
        F.round(F.col(c), 6).cast("decimal(24,6)")
    ).cast("string")
    return (
        pages.select(
            grid.cell_encode(F.col("lat"), F.col("lon"), res).alias("cell"),
            "lat",
            "lon",
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("lat").alias("lat_min"),
            F.max("lat").alias("lat_max"),
            F.min("lon").alias("lon_min"),
            F.max("lon").alias("lon_max"),
            dsum("lat").alias("s_lat"),
            dsum("lon").alias("s_lon"),
        )
    )


def sql_cell_extent(res: int, pages_rel: str = "pages") -> str:
    """DuckDB mirror of :func:`cell_extent` (same DECIMAL canon)."""
    cell = grid.sql_cell_encode("lat", "lon", res)
    return f"""
SELECT {cell} AS cell, CAST(count(*) AS BIGINT) AS n,
       min(lat) AS lat_min, max(lat) AS lat_max,
       min(lon) AS lon_min, max(lon) AS lon_max,
       CAST(sum(CAST(round(lat, 6) AS DECIMAL(24,6))) AS VARCHAR) AS s_lat,
       CAST(sum(CAST(round(lon, 6) AS DECIMAL(24,6))) AS VARCHAR) AS s_lon
FROM {pages_rel}
GROUP BY 1"""


# ---------------------------------------------------------------------------
# Ripley's K pair counts — point-pattern statistics over the page cloud
# ---------------------------------------------------------------------------


def ripley_pair_counts(
    pages: DataFrame, radii: tuple[float, ...], res: int | None = None
) -> DataFrame:
    """Cumulative pair counts at each radius of ``radii`` — the exact
    sufficient statistics of Ripley's K function (Ripley 1976; in
    degree-space Euclidean distance, the :func:`distance_self_join`
    metric, so every comparison is +,*,<= on IEEE doubles — bit-exact
    across engines, no trig). K(r) = area * 2*n_pairs(r) / n_points^2
    assembles downstream; here everything is BIGINT.

    Output: one row per radius — (band, radius, n_band, n_pairs) where
    ``n_band`` counts pairs whose distance lands in (radii[i-1],
    radii[i]] and ``n_pairs`` is the cumulative count <= radii[i] — plus
    ``n_points`` (broadcast 1-row join) for the normalization.

    Plan: the bucketed pair join runs ONCE at max(radii); each pair maps
    to its band via a plan-time CASE chain, ONE |bands|-row hash-agg,
    then a cumulative window over the |bands|-row relation. No
    pairs-times-radii explode; shuffle beyond the pair join is O(bands).
    Skew/scale properties are :func:`distance_self_join`'s."""
    rs = list(radii)
    if rs != sorted(rs) or len(set(rs)) != len(rs) or not rs:
        raise ValueError("radii must be non-empty, strictly ascending")
    pairs = distance_self_join(pages, rs[-1], res=res)
    band = F.lit(len(rs) - 1)
    for i in range(len(rs) - 2, -1, -1):
        band = F.when(
            F.col("dist2") <= F.lit(rs[i] * rs[i]), F.lit(i)
        ).otherwise(band)
    per_band = (
        pairs.select(band.alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_band"))
    )
    # densify: every requested band appears even with zero pairs
    bands = local_relation(
        pages.sparkSession,
        [(i, float(r)) for i, r in enumerate(rs)],
        "band int, radius double",
    )
    n_points = pages.select(
        F.count(F.lit(1)).cast("long").alias("n_points")
    )
    w = W.orderBy("band").rowsBetween(W.unboundedPreceding, 0)
    return (
        bands.join(per_band, "band", "left")
        .select(
            "band",
            "radius",
            F.coalesce("n_band", F.lit(0)).cast("long").alias("n_band"),
        )
        .withColumn("n_pairs", F.sum("n_band").over(w).cast("long"))
        .crossJoin(F.broadcast(n_points))
    )


def sql_ripley_pair_counts(
    radii: tuple[float, ...], pages_rel: str = "pages"
) -> str:
    """Oracle for :func:`ripley_pair_counts`: brute-force cross-join
    pairs with the identical dist2 arithmetic + CASE band chain."""
    rs = list(radii)
    r2max = repr(rs[-1] * rs[-1])
    case = "CASE " + " ".join(
        f"WHEN dist2 <= {repr(r * r)} THEN {i}" for i, r in enumerate(rs)
    ) + " END"
    values = ", ".join(f"({i}, {repr(float(r))})" for i, r in enumerate(rs))
    return f"""
SELECT b.band, b.radius,
       CAST(coalesce(p.n_band, 0) AS BIGINT) AS n_band,
       CAST(sum(coalesce(p.n_band, 0)) OVER
            (ORDER BY b.band ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_pairs,
       np.n_points
FROM (VALUES {values}) b(band, radius)
LEFT JOIN (
  SELECT {case} AS band, CAST(count(*) AS BIGINT) AS n_band
  FROM (
    SELECT (a.lat - bb.lat) * (a.lat - bb.lat)
         + (a.lon - bb.lon) * (a.lon - bb.lon) AS dist2
    FROM {pages_rel} a, {pages_rel} bb
    WHERE a.url < bb.url
      AND (a.lat - bb.lat) * (a.lat - bb.lat)
        + (a.lon - bb.lon) * (a.lon - bb.lon) <= {r2max}) d
  GROUP BY 1) p ON p.band = b.band
CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_points
            FROM {pages_rel}) np"""


# ---------------------------------------------------------------------------
# DBSCAN — density-based clustering over the page point cloud
# ---------------------------------------------------------------------------


def dbscan(
    pages: DataFrame,
    eps: float,
    min_pts: int,
    res: int | None = None,
    max_iters: int = 64,
) -> DataFrame:
    """DBSCAN (Ester, Kriegel, Sander & Xu, KDD 1996) over the page
    cloud in degree space: ``(url, role, cluster)`` with role
    core/border/noise and cluster = min member url of the density-
    connected component (NULL for noise).

    Canonical-determinism note: textbook DBSCAN assigns a border point
    reachable from two clusters to whichever was scanned first; here it
    attaches to the MIN cluster label — a deterministic canon both
    engines replay exactly (same spirit as paragraph_dedup's min-struct
    keeper). Core/noise labels are order-free in the original too.

    Plan: neighbor pairs come from :func:`distance_self_join` (bucketed
    half-disk join — never all-pairs); degrees are one partial-agg
    hash-agg; core-core edges feed the shared min-label fixpoint
    (graph.connected_components — sweeps = cluster diameter in graph
    hops); isolated cores self-label; borders attach via one semi-join
    + min-agg. Everything shuffles on point keys or bounded pair
    relations; nothing ever collects to the driver."""
    from fileverification_spark.operators import graph as GR

    pts = pages.select("url").distinct()
    pairs = distance_self_join(pages, eps, res=res)
    sym = pairs.select(
        F.col("l_url").alias("a"), F.col("r_url").alias("b")
    ).unionByName(
        pairs.select(F.col("r_url").alias("a"), F.col("l_url").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("nbrs"))
    # |N_eps(p)| counts p itself (the KDD-96 convention): nbrs + 1
    core = (
        pts.join(deg, pts["url"] == deg["a"], "left")
        .where(F.coalesce(F.col("nbrs"), F.lit(0)) + 1 >= min_pts)
        .select("url")
    )
    core_a = core.select(F.col("url").alias("a"))
    core_b = core.select(F.col("url").alias("b"))
    core_edges = (
        sym.join(core_a, "a", "left_semi").join(core_b, "b", "left_semi")
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    comp = GR.connected_components(core_edges, max_iters=max_iters)
    singles = core.join(
        comp, core["url"] == comp["node"], "left_anti"
    ).select(F.col("url").alias("node"), F.col("url").alias("component"))
    core_labels = comp.unionByName(singles)
    core_rows = core_labels.select(
        F.col("node").alias("url"),
        F.lit("core").alias("role"),
        F.col("component").alias("cluster"),
    )
    # border: non-core with >= 1 core neighbor -> min core-cluster label
    nbr_core = (
        sym.join(core, sym["a"] == core["url"], "left_anti")
        .join(core_labels, sym["b"] == core_labels["node"])
        .groupBy("a")
        .agg(F.min("component").alias("cluster"))
    )
    border_rows = nbr_core.select(
        F.col("a").alias("url"), F.lit("border").alias("role"), "cluster"
    )
    noise_rows = (
        pts.join(core_rows.select("url"), "url", "left_anti")
        .join(border_rows.select("url"), "url", "left_anti")
        .select(
            "url",
            F.lit("noise").alias("role"),
            F.lit(None).cast("string").alias("cluster"),
        )
    )
    return core_rows.unionByName(border_rows).unionByName(noise_rows)


def sql_dbscan(eps: float, min_pts: int, pages_rel: str = "pages") -> str:
    """Oracle for :func:`dbscan`: brute-force eps-pairs + recursive-CTE
    density closure + identical min-label canon."""
    r2 = repr(eps * eps)
    return f"""
WITH RECURSIVE pts AS (SELECT DISTINCT url FROM {pages_rel}),
sym AS (
  SELECT a.url AS a, b.url AS b
  FROM {pages_rel} a, {pages_rel} b
  WHERE a.url <> b.url
    AND (a.lat - b.lat) * (a.lat - b.lat)
      + (a.lon - b.lon) * (a.lon - b.lon) <= {r2}
),
core AS (
  SELECT p.url FROM pts p
  WHERE (SELECT count(*) FROM sym s WHERE s.a = p.url) + 1 >= {min_pts}
),
core_edges AS (
  SELECT s.a AS src, s.b AS dst FROM sym s
  WHERE s.a IN (SELECT url FROM core) AND s.b IN (SELECT url FROM core)
),
reach(a, b) AS (
  SELECT url, url FROM core
  UNION
  SELECT r.a, e.dst FROM reach r JOIN core_edges e ON r.b = e.src
),
core_labels AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a),
border AS (
  SELECT s.a AS url, min(cl.component) AS cluster
  FROM sym s JOIN core_labels cl ON cl.node = s.b
  WHERE s.a NOT IN (SELECT url FROM core)
  GROUP BY s.a
)
SELECT node AS url, 'core' AS role, component AS cluster FROM core_labels
UNION ALL
SELECT url, 'border' AS role, cluster FROM border
UNION ALL
SELECT p.url, 'noise' AS role, CAST(NULL AS VARCHAR) AS cluster
FROM pts p
WHERE p.url NOT IN (SELECT node FROM core_labels)
  AND p.url NOT IN (SELECT url FROM border)"""


def tile_trend(pages: DataFrame, z: int) -> DataFrame:
    """Per-tile linear growth trend of daily capture counts as EXACT
    integer OLS sufficient statistics: with t = epoch day and y = that
    day's captures, emits per tile (n_days, s_t, s_y, s_tt, s_ty) — the
    normal-equation inputs; slope = (n*s_ty - s_t*s_y) /
    (n*s_tt - s_t^2) assembles in one downstream float step (numerator
    and denominator are exact BIGINTs here, so even the SIGN of the
    trend — the recrawl scheduler's grow/shrink bit — is available
    without any float at all).

    Epoch days are rebased to the corpus minimum (one 1-row broadcast)
    before squaring: day ~ 20k, day^2 * count summed over a year ~ 1e11
    per tile unrebased — safe, but rebasing keeps s_tt small enough
    that the downstream float step is exact too. Plan: (tile, day)
    hash-agg -> 1-row min broadcast -> per-tile hash-agg; both aggs
    partial, no windows."""
    t = grid.tile_xyz(F.col("lat"), F.col("lon"), z)
    day = F.floor(F.unix_timestamp(F.col("warc_ts")) / F.lit(86400)).cast(
        "bigint"
    )
    daily = (
        pages.select(t["x"].alias("x"), t["y"].alias("y"), day.alias("day"))
        .groupBy("x", "y", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    day0 = daily.select(F.min("day").alias("day0"))
    reb = daily.crossJoin(F.broadcast(day0)).select(
        "x", "y", (F.col("day") - F.col("day0")).alias("t"), "n"
    )
    return reb.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("t").cast("long").alias("s_t"),
        F.sum("n").cast("long").alias("s_y"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("s_tt"),
        F.sum(F.col("t") * F.col("n")).cast("long").alias("s_ty"),
    )


def sql_tile_trend(z: int, pages_rel: str = "pages") -> str:
    """DuckDB mirror of :func:`tile_trend` (same rebased integer sums)."""
    xs, ys = grid.sql_tile_xyz("lat", "lon", z)
    return f"""
SELECT x, y,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(t) AS BIGINT) AS s_t,
       CAST(sum(n) AS BIGINT) AS s_y,
       CAST(sum(t * t) AS BIGINT) AS s_tt,
       CAST(sum(t * n) AS BIGINT) AS s_ty
FROM (
  SELECT x, y, day - (min(day) OVER ()) AS t, n
  FROM (
    SELECT x, y, day, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT {xs} AS x, {ys} AS y,
                 CAST(floor(epoch(warc_ts) / 86400) AS BIGINT) AS day
          FROM {pages_rel}) q
    GROUP BY 1, 2, 3) d) r
GROUP BY 1, 2"""


def cell_extent_rollup(
    pages: DataFrame, res: int, parent_res: int
) -> DataFrame:
    """:func:`cell_extent` at ``parent_res`` computed FROM the
    ``res``-level states, never from pages — the hierarchical-rollup
    property made an operator: counts and DECIMAL centroid sums merge by
    addition, bounds by min/max, so a pyramid of extent layers costs one
    pages scan total (the raster_pyramid discipline applied to the
    metadata rollup; at 10^12 rows re-scanning pages per level is the
    difference between 1 scan and #levels scans).

    Output schema == cell_extent(parent_res); the oracle runs the DIRECT
    form at parent_res, so the test IS the merge-associativity proof."""
    child = cell_extent(pages, res)
    parent = grid.cell_parent(F.col("cell"), res, parent_res)
    return (
        child.select(
            parent.alias("cell"),
            "n",
            "lat_min", "lat_max", "lon_min", "lon_max",
            # decimal(32,6): headroom over the children's (24,6) states so
            # the merge never narrows — Spark's non-ANSI cast NULLs on
            # precision overflow where the DuckDB oracle's DECIMAL(38,6)
            # sum would not (ADVICE r4). sum(decimal(32,6)) infers
            # decimal(38,6), the same scale the oracle stringifies.
            F.col("s_lat").cast("decimal(32,6)").alias("_s_lat"),
            F.col("s_lon").cast("decimal(32,6)").alias("_s_lon"),
        )
        .groupBy("cell")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.min("lat_min").alias("lat_min"),
            F.max("lat_max").alias("lat_max"),
            F.min("lon_min").alias("lon_min"),
            F.max("lon_max").alias("lon_max"),
            F.sum("_s_lat").cast("string").alias("s_lat"),
            F.sum("_s_lon").cast("string").alias("s_lon"),
        )
    )


# ---------------------------------------------------------------------------
# Choropleth quantile classification (equal-frequency map classes)
# ---------------------------------------------------------------------------


def tile_quantile_classes(tiles: DataFrame, n_classes: int = 5) -> DataFrame:
    """(x, y, n_pages, cls) — equal-frequency (quantile) choropleth
    classification of a tile raster: ntile(``n_classes``) over
    (n_pages, x, y) ascending, the standard cartographic class scheme
    (GIS "quantile breaks"; vs equal-interval, it is robust to the
    heavy-tailed counts web corpora produce — a linear scale would put
    every tile except the megacity hubs in class 1). The (x, y)
    tie-break makes equal-count tiles classify identically in both
    engines (ntile splits ties by position; an undetermined order would
    be engine-dependent).

    Scale note: the window is global BY DESIGN — its input is the
    ALREADY-AGGREGATED tile relation, bounded by 4^z at plan time
    (z=6 -> <= 4096 rows; z=12 -> <= 16.7M, still one executor's
    work), never the page corpus. The corpus-sized work is the
    upstream tile count hash-agg, which partials map-side."""
    from pyspark.sql.window import Window

    if n_classes < 1:
        raise ValueError("n_classes must be >= 1")
    w = Window.orderBy("n_pages", "x", "y")
    return tiles.select(
        "x", "y", "n_pages",
        F.ntile(n_classes).over(w).cast("bigint").alias("cls"),
    )


def sql_tile_quantile_classes(tiles_rel: str, n_classes: int = 5) -> str:
    """Oracle: identical ntile window (SQL-standard equal-frequency
    semantics in both engines)."""
    return f"""
SELECT x, y, n_pages,
       CAST(ntile({n_classes}) OVER (ORDER BY n_pages, x, y) AS BIGINT)
         AS cls
FROM ({tiles_rel}) t"""


# ---------------------------------------------------------------------------
# Hilbert layout audit (the locality-optimal companion of zorder_layout)
# ---------------------------------------------------------------------------


def hilbert_layout_stats(
    pages: DataFrame,
    level: int = grid.HILBERT_LEVEL,
    prefix_level: int = 4,
) -> DataFrame:
    """Per-bucket audit of the Hilbert-sorted physical layout — the
    exact twin of :func:`zorder_layout_stats` with the Morton key
    swapped for the Hilbert d-index (bucket = top ``2*prefix_level``
    key bits; Hilbert is hierarchical, so a bucket is one level-
    ``prefix_level`` curve quadrant and buckets are disjoint key
    ranges). Sorting the 100 TB table by ``hkey`` instead of ``zkey``
    keeps every consecutive key pair grid-adjacent (pytest-pinned), so
    bbox range scans touch fewer false-positive row groups than
    Z-order's quadrant-seam jumps; this audit emits the same
    (bucket, n_pages, h_min, h_max) stats min/max pruning consumes so
    the two layouts are comparable bucket-for-bucket BEFORE a rewrite.

    One scan -> level fused zero-shuffle projections (the unrolled
    xy->d ladder, no UDF) -> one partial-agg shuffle at
    4^prefix_level output rows.
    """
    keyed = grid.attach_hilbert_key(
        pages, F.col("lat"), F.col("lon"), level, out="hkey"
    )
    shift = 2 * (level - prefix_level)
    return (
        keyed.select("hkey")
        .groupBy(F.shiftright(F.col("hkey"), shift).alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pages"),
            F.min("hkey").alias("h_min"),
            F.max("hkey").alias("h_max"),
        )
    )


def sql_hilbert_layout_stats(
    level: int = grid.HILBERT_LEVEL,
    prefix_level: int = 4,
) -> str:
    """Oracle SELECT for :func:`hilbert_layout_stats`; the caller
    composes the CTE side as ``_with(grid.sql_hilbert_ladder(level))``
    (the same unrolled xy->d ladder, one CTE per level)."""
    shift = 2 * (level - prefix_level)
    return f"""
SELECT hkey >> {shift} AS bucket,
       CAST(count(*) AS BIGINT) AS n_pages,
       min(hkey) AS h_min, max(hkey) AS h_max
FROM hl0
GROUP BY 1"""

"""Geospatial primitives: geohash cells, haversine distance, kNN join.

EXT training-pipeline coverage (the reference ships no geo surface):
location-tagged corpora (POI text, imagery metadata, check-in events)
need spatial bucketing for dedup/sharding and nearest-site joins for
enrichment. Built Spark-first:

- **geohash** is pure integer/Column arithmetic (bit interleaving of
  quantized lat/lon), fully inside whole-stage codegen — the cell id is
  the shuffle/partition key that makes spatial joins equi-joins.
- **haversine** is the textbook great-circle formula on built-in trig
  Columns (JVM-side, no UDF).
- **kNN join** here is the broadcast small-site-table shape (sites:
  thousands; points: billions): the site table collapses to ONE row
  holding an array of site structs, broadcast to every task; each
  point scores the array with `transform`, sorts, and slices its
  top-k — the big side never shuffles AT ALL (a windowed
  `row_number` over the crossed pairs would shuffle |points|x|sites|
  rows; this plan shuffles zero). When BOTH sides are large, bucket
  each by geohash prefix and equi-join on the cell (+neighbor cells)
  instead — the geohash operator above is that path's key generator.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import RELEASE_DP

GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"

__all__ = ["geohash_encode", "haversine_km", "geo_knn_join",
           "geo_radius_join", "point_in_polygon", "GEOHASH_BASE32"]


def geohash_encode(
    lat: Column | str, lon: Column | str, precision: int = 6
) -> Column:
    """Standard geohash (Niemeyer) of ``precision`` base32 chars, as a
    single Column expression: quantize lon/lat to their bit budgets
    (lon takes the extra bit at odd totals — bit 0 is a longitude
    bit), interleave with shift/mask arithmetic, emit base32 chars.
    ``5*precision`` bit terms, all codegen; no UDF, no loop at run
    time. Top-edge inputs (lat=90, lon=180) clamp into the last cell.
    """
    if not 1 <= precision <= 12:
        raise ValueError(f"precision must be in [1, 12], got {precision}")
    la = F.col(lat) if isinstance(lat, str) else lat
    lo = F.col(lon) if isinstance(lon, str) else lon
    total = 5 * precision
    lon_bits = (total + 1) // 2
    lat_bits = total // 2
    # clamp BOTH edges: top-edge inputs (lat=90, lon=180) land in the
    # last cell; below-range garbage (lat < -90, lon < -180) lands in
    # the first instead of producing a NEGATIVE index, whose
    # sign-preserving % 2 bits drove element_at to index 0 — an ANSI
    # runtime error that would kill a whole job on one bad row
    # (probe batch 5)
    lon_idx = F.greatest(
        F.least(
            F.floor((lo + F.lit(180.0)) / F.lit(360.0)
                    * F.lit(float(1 << lon_bits))).cast("long"),
            F.lit((1 << lon_bits) - 1),
        ),
        F.lit(0),
    )
    lat_idx = F.greatest(
        F.least(
            F.floor((la + F.lit(90.0)) / F.lit(180.0)
                    * F.lit(float(1 << lat_bits))).cast("long"),
            F.lit((1 << lat_bits) - 1),
        ),
        F.lit(0),
    )
    g = F.lit(0).cast("long")
    for i in range(lon_bits):
        # lon bit i (MSB-first) lands at interleaved position 2i
        g = g + F.shiftleft(
            F.shiftright(lon_idx, lon_bits - 1 - i) % 2,
            total - 1 - 2 * i,
        )
    for i in range(lat_bits):
        # lat bit i lands at interleaved position 2i + 1
        g = g + F.shiftleft(
            F.shiftright(lat_idx, lat_bits - 1 - i) % 2,
            total - 2 - 2 * i,
        )
    chars = F.array(*[F.lit(ch) for ch in GEOHASH_BASE32])
    out = [
        F.element_at(chars, (F.shiftright(g, total - 5 * (k + 1)) % 32
                             + 1).cast("int"))
        for k in range(precision)
    ]
    # least/greatest SKIP nulls, so without this guard a NULL
    # coordinate would silently encode as the top cell — a fabricated
    # location (probe batch 5, the point_in_polygon NULL class).
    # NULL in -> NULL out.
    return F.when(
        la.isNotNull() & lo.isNotNull(), F.concat(*out))


def haversine_km(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column,
    radius_km: float = 6371.0,
) -> Column:
    """Great-circle distance in km — built-in trig Columns only. The
    expression is spelled once and reused verbatim in SQL oracles;
    callers that RANK on it should round first (cross-engine libm can
    differ in the last ulp)."""
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(rl1) * F.cos(rl2) * F.sin(dlon) * F.sin(dlon)
    )
    return F.lit(2.0 * radius_km) * F.asin(F.sqrt(a))


def geo_knn_join(
    points: DataFrame,
    sites: DataFrame,
    k: int = 1,
    point_key: str = "point_id",
    site_key: str = "site_id",
    dp: int = 6,
) -> DataFrame:
    """k nearest ``sites`` for every point, with ZERO shuffle of the
    point side: the site table aggregates into a single row carrying
    an ``array<struct<lat,lon,site>>``, which broadcasts to every
    task; each point scores the whole array with ``transform`` (the
    haversine stays a JVM Column inside the lambda), ``array_sort``
    orders by (rounded distance, site key) — struct comparison is
    field-order lexicographic, so the tie-break is built into the
    element layout — and ``slice`` keeps k. Distances round to ``dp``
    decimals BEFORE ranking so the selection is deterministic across
    engines and partitionings. Expects both frames to carry ``lat``/
    ``lon``; returns point columns + ``rank``, ``site_id``,
    ``dist_km``. Contract: sites is the SMALL side (it is collected
    into one array row); for large-x-large, bucket by geohash cell
    and equi-join instead."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    sites_arr = sites.agg(
        F.collect_list(
            F.struct(
                F.col("lat").alias("lat"), F.col("lon").alias("lon"),
                F.col(site_key).alias("site"),
            )
        ).alias("__sites")
    )
    scored = F.transform(
        F.col("__sites"),
        lambda s: F.struct(
            F.round(
                haversine_km(F.col("lat"), F.col("lon"),
                             s["lat"], s["lon"]), dp
            ).alias("dist_km"),
            s["site"].alias("site"),
        ),
    )
    topk = F.slice(F.array_sort(scored), 1, k)
    return (
        points.crossJoin(F.broadcast(sites_arr))
        .select("*", F.posexplode(topk).alias("__pos", "__hit"))
        .select(
            *points.columns,
            (F.col("__pos") + 1).alias("rank"),
            F.col("__hit.site").alias(site_key),
            F.col("__hit.dist_km").alias("dist_km"),
        )
    )


def geo_radius_join(
    points: DataFrame,
    radius_km: float,
    key: str = "point_id",
    lat_max: float = 80.0,
) -> DataFrame:
    """All unordered pairs of ``points`` within ``radius_km`` of each
    other — the LARGE-x-LARGE spatial join (the kNN join's broadcast
    contract doesn't apply when both sides are big). Plan shape:

    1. Quantize every point to a (lat_cell, lon_cell) grid cell sized
       so one cell always covers the radius: lat cells are
       ``radius/110 km`` degrees tall (a latitude degree is ~111.2 km
       everywhere); lon cells are widened by ``1/cos(lat_max)`` so the
       guarantee holds out to ``lat_max`` (poleward of that a fixed
       lon grid cannot cover the radius — the documented domain
       contract, checked nowhere because checking costs a pass).
    2. Explode each point to its 3x3 neighbor cells ON ONE SIDE ONLY
       and equi-join on the cell struct — the cell id is the shuffle
       key, so this is a plain hash join: no cross product, no
       nested-loop, ~9x amplification of one side, and skew follows
       spatial density (salt hot cells upstream if needed).
    3. Exact haversine filter, rounded to 4 dp BEFORE the compare so
       the predicate is engine-portable.

    Longitude cells live on a ring (``% n_lon``) so pairs straddling
    the antimeridian are found; the +/-1 offsets are deduplicated mod
    ``n_lon`` so tiny rings never double-count a pair. Emits
    ``key_a < key_b`` once per pair with ``dist_km``.
    """
    if radius_km <= 0:
        raise ValueError(f"radius_km must be > 0, got {radius_km}")
    if not 0.0 < lat_max < 90.0:
        raise ValueError(f"lat_max must be in (0, 90), got {lat_max}")
    cell_lat = radius_km / 110.0
    lon_span = radius_km / (110.0 * math.cos(math.radians(lat_max)))
    n_lon = max(1, int(360.0 // lon_span))
    width = 360.0 / n_lon
    lat_cell = F.floor((F.col("lat") + F.lit(90.0)) / F.lit(cell_lat)).cast(
        "long"
    )
    # lon=180.0 quantizes to n_lon and wraps to 0 — the seam is a ring.
    lon_cell = (
        F.floor((F.col("lon") + F.lit(180.0)) / F.lit(width)).cast("long")
        % n_lon
    )
    lon_offsets = sorted({o % n_lon for o in (-1, 0, 1)})
    base = points.select(
        F.col(key), F.col("lat"), F.col("lon"),
        lat_cell.alias("__latc"), lon_cell.alias("__lonc"),
    )
    probe = base.select(
        F.col(key).alias("key_a"),
        F.col("lat").alias("__alat"), F.col("lon").alias("__alon"),
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("__latc") + F.lit(i)).alias("latc"),
                    ((F.col("__lonc") + F.lit(j)) % n_lon).alias("lonc"),
                )
                for i in (-1, 0, 1)
                for j in lon_offsets
            ])
        ).alias("__cell"),
    )
    build = base.select(
        F.col(key).alias("key_b"),
        F.col("lat").alias("__blat"), F.col("lon").alias("__blon"),
        F.struct(
            F.col("__latc").alias("latc"), F.col("__lonc").alias("lonc")
        ).alias("__cell"),
    )
    d = F.round(
        haversine_km(F.col("__alat"), F.col("__alon"),
                     F.col("__blat"), F.col("__blon")), 4
    )
    return (
        probe.join(
            build,
            (probe["__cell"] == build["__cell"])
            & (probe["key_a"] < build["key_b"]),
        )
        .withColumn("dist_km", d)
        .filter(F.col("dist_km") <= radius_km)
        .select("key_a", "key_b", "dist_km")
    )


def point_in_polygon(
    lon: Column | str,
    lat: Column | str,
    vertices: list[tuple[float, float]],
) -> Column:
    """Point-in-polygon test (ray casting / even-odd rule, Shimrat
    1962): cast a ray from the point toward +x and count edge
    crossings — odd means inside. ``vertices`` is the simple polygon
    as (lon, lat) pairs, closed implicitly (last connects to first).

    Built as one sum of per-edge crossing predicates — pure codegen,
    no UDF, broadcast-free (the polygon is a plan literal; geofencing
    against a FEW regions composes with `geohash_encode` cell
    pre-filters; thousands of polygons want an R-tree join, which is a
    different operator). Each edge term replays verbatim in SQL:
    ``((y1 > y) != (y2 > y)) AND (x < (x2-x1)*(y-y1)/(y2-y1) + x1)``
    — the half-open vertex rule every even-odd implementation uses, so
    a ray through a vertex counts once. Boundary-exact points follow
    raw double compares: callers wanting epsilon semantics snap
    coordinates first (the gates use off-grid vertices so no input
    lies on an edge).

    NULL coordinates return NULL (SQL semantics, r11 probe): each
    edge's ``F.when`` otherwise-0 used to swallow the NULL predicate
    and classify a NULL-lat/lon point as "outside" — membership of an
    unknown location is unknown, not false. Degenerate polygons are
    well-defined by the even-odd rule itself: zero-area (collinear)
    polygons contain nothing, self-intersecting ones alternate, and
    duplicate/horizontal edges drop at plan time."""
    if len(vertices) < 3:
        raise ValueError("polygon needs >= 3 vertices")
    x = F.col(lon) if isinstance(lon, str) else lon
    y = F.col(lat) if isinstance(lat, str) else lat
    crossings = F.lit(0)
    n = len(vertices)
    for i in range(n):
        x1, y1 = (float(v) for v in vertices[i])
        x2, y2 = (float(v) for v in vertices[(i + 1) % n])
        if y1 == y2:
            # a horizontal edge never straddles the ray — dropping it at
            # PLAN time (vertices are literals) also keeps the slope
            # division from ever seeing a zero denominator under ANSI
            continue
        straddles = (F.lit(y1) > y) != (F.lit(y2) > y)
        xint = (
            F.lit(x2 - x1) * (y - F.lit(y1)) / F.lit(y2 - y1) + F.lit(x1)
        )
        crossings = crossings + F.when(
            straddles & (x < xint), F.lit(1)
        ).otherwise(F.lit(0))
    return F.when(
        x.isNull() | y.isNull(), F.lit(None).cast("boolean")
    ).otherwise(crossings % 2 == 1)


def trajectory_stats(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    lat_col: str,
    lon_col: str,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-entity trajectory rollup over timestamped GPS points — the
    telemetry-curation primitive (drive logs, fleet traces, mobility
    corpora): order each entity's points by time, measure consecutive
    great-circle legs, and aggregate

    ``(entity, n_points, total_km, max_leg_km, duration_s,
    lat_min/lat_max/lon_min/lon_max)``

    — total path length, the longest single hop (the GPS-glitch /
    teleport detector a cleaning pass thresholds on), elapsed seconds,
    and the bounding box.

    Float policy (the geo_q convention): haversine is trig, so every
    LEG snaps to 4-dp decimal (0.1 m — the module's documented
    trig-rounding grain; finer grains hit cross-engine libm-ulp
    rounding boundaries measurably often) before the per-entity sum
    (exact, order-independent); released kilometers round at 4 dp.
    ``order_tiebreak`` (default: the entity's own point column order
    is undefined on ties — pass a unique column) joins ``ts_col`` in
    the window order so the leg sequence is a total order.

    Scale shape: ONE keyed window (partitioned by entity — per-entity
    point counts are bounded, no global funnel) + one keyed
    aggregation, both map-side combinable after the shuffle; nothing
    driver-side. Single-point entities emit zero legs (total 0.0,
    NULL max leg)."""
    from pyspark.sql.window import Window

    order = [F.col(ts_col)]
    if order_tiebreak is not None:
        order.append(F.col(order_tiebreak))
    else:
        # ADVICE r12: tied timestamps make the leg sequence — and so
        # total_km/max_leg_km — partition-order-dependent; every gate
        # and test passes a tiebreak, so an omission is almost surely
        # an oversight. Warn loudly rather than silently drift.
        from . import warn_missing_tiebreak

        warn_missing_tiebreak("trajectory_stats")
    w = Window.partitionBy(entity_col).orderBy(*order)
    lat, lon = F.col(lat_col), F.col(lon_col)
    leg = haversine_km(
        F.lag(lat).over(w), F.lag(lon).over(w), lat, lon)
    legd = F.round(leg, 4).cast("decimal(20,4)")
    pts = df.select(
        F.col(entity_col).alias("__e"), F.col(ts_col).alias("__ts"),
        lat.alias("__lat"), lon.alias("__lon"),
        legd.alias("__leg"))
    return (
        pts.groupBy(F.col("__e").alias(entity_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.round(F.coalesce(
                F.sum("__leg").cast("double"), F.lit(0.0)), 4)
            .alias("total_km"),
            F.round(F.max("__leg").cast("double"), 4)
            .alias("max_leg_km"),
            (F.unix_timestamp(F.max("__ts"))
             - F.unix_timestamp(F.min("__ts"))).cast("long")
            .alias("duration_s"),
            F.min("__lat").alias("lat_min"),
            F.max("__lat").alias("lat_max"),
            F.min("__lon").alias("lon_min"),
            F.max("__lon").alias("lon_max")))


def polygon_area_centroid(
    df: DataFrame,
    xs_col: str,
    ys_col: str,
) -> DataFrame:
    """Planar polygon area and centroid via the shoelace formula
    (Gauss) over parallel vertex-coordinate ARRAY columns — the
    geometry rollup for geofence catalogs (area-weighted dedup, tiny-
    or degenerate-fence audits) beside :func:`point_in_polygon`'s
    membership test:

        2A  = Σ_i (x_i·y_{i+1} - x_{i+1}·y_i)      (signed, wrapped)
        C_x = Σ_i (x_i + x_{i+1})·cross_i / (6A)    (ditto C_y)

    Vertices are an OPEN ring (no repeated last point) in either
    winding; ``area`` releases unsigned, ``winding`` +1/-1 exposes
    orientation (counter-clockwise positive). Fewer than 3 vertices
    or zero signed area (degenerate/self-cancelling ring) emit NULL
    area/centroid rather than a divide-by-zero.

    Determinism: for INTEGER-valued coordinates every term is exact
    long arithmetic (bound: |coord| < ~1e6 keeps n·c² under LONG —
    document larger domains); for float coordinates the fold is
    ORDER-FIXED (one pass over the vertex sequence), so both engines
    produce identical bits from identical arrays. Row-local, zero
    shuffle, whole-stage codegen.

    Returns input columns plus ``(n_vertices, area, winding,
    centroid_x, centroid_y)``, rounded at 6 dp."""
    xs, ys = F.col(xs_col), F.col(ys_col)
    n = F.size(xs)
    idx = F.sequence(F.lit(0), n - 1)

    def at(arr, i):
        return F.element_at(arr, i + 1)

    def nxt(arr, i):
        return F.element_at(arr, (i + 1) % n + 1)

    cross = lambda i: (at(xs, i) * nxt(ys, i)      # noqa: E731
                       - nxt(xs, i) * at(ys, i))
    a2 = F.aggregate(
        idx, F.lit(0).cast("double"),
        lambda acc, i: acc + cross(i).cast("double"))
    sx = F.aggregate(
        idx, F.lit(0).cast("double"),
        lambda acc, i: acc + ((at(xs, i) + nxt(xs, i))
                              * cross(i)).cast("double"))
    sy = F.aggregate(
        idx, F.lit(0).cast("double"),
        lambda acc, i: acc + ((at(ys, i) + nxt(ys, i))
                              * cross(i)).cast("double"))
    ok = (n >= 3) & (a2 != 0)
    return df.select(
        "*",
        n.cast("int").alias("n_vertices"),
        F.when(n >= 3, F.round(F.abs(a2) / 2.0, RELEASE_DP)).alias("area"),
        F.when(ok, F.signum(a2).cast("int")).alias("winding"),
        F.when(ok, F.round(sx / (3.0 * a2), RELEASE_DP)).alias("centroid_x"),
        F.when(ok, F.round(sy / (3.0 * a2), RELEASE_DP)).alias("centroid_y"))

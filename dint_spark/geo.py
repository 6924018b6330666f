"""Geo search over doc-values sidecars — the ES ``geo_point`` surface
class (geo_bounding_box / geo_distance filters, sort by geo_distance).

Representation: a geo_point is TWO i64 fixed-point doc-values sidecars,
latitude and longitude at 1e-7 degree granularity (the ES/Lucene
encoding class — Lucene packs geo_points to ~1e-7 deg ints). They ride
the existing doc-values machinery (facets.build_doc_values): one dense
i64 array per shard, shipped once per worker like norm_lens, so at
10^12 docs the footprint is per-shard-bounded exactly like every other
sidecar. A doc missing EITHER coordinate is missing the geo_point.

Query surface, all composed from already-verified kernels:
  * geo_bounding_box -> a DocMask (1 bit/doc) through the standard
    filtered-search path (run_queries(doc_filter=...)); boxes crossing
    the antimeridian (west > east) wrap, the ES contract.
  * geo_distance filter -> the same DocMask path with a precomputed
    haversine threshold.
  * sort by geo_distance -> facets.run_sorted_queries over a per-origin
    i64 ordinate array (missing geo_points never rank — the ES
    ``ignore_unmapped`` / missing-last behavior, here missing-never).

Exactness: ordering and filtering use the HAVERSINE ORDINATE
a = sin^2(dLat/2) + cos(lat1) cos(lat2) sin^2(dLon/2), which is
strictly monotone in great-circle distance (d = 2 R asin(sqrt(a))), so
sorting/thresholding by floor(a * 1e15) is exactly sorting by distance.
The ordinate uses only +, *, /, sin, cos — operations that are
bit-identical between numpy and the SQL oracle's libm (verified in
tests) — where asin/atan2 are NOT, which is why the meters conversion
(haversine_meters) is presentation-only and never gated.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from dint_spark.facets import _DV_MISSING, build_doc_values
from dint_spark.queries import DocMask

GEO_SCALE = 10_000_000          # 1e-7 degree fixed point
DEG_TO_RAD = 0.017453292519943295   # float64 nearest pi/180
HAV_QUANT = 1e15                # ordinate quantum (a is in [0, 1])
EARTH_RADIUS_M = 6371000.0


def build_geo_values(spark: SparkSession, docs: DataFrame, num_docs: int,
                     lat_q_col: str, lon_q_col: str
                     ) -> tuple[np.ndarray, np.ndarray]:
    """Materialize the two fixed-point sidecars from i64 columns already
    quantized to GEO_SCALE (floor(deg * 1e7)). Docs missing either
    column become missing in BOTH (one geo_point, not two numbers).
    Out-of-range coordinates raise."""
    lat = build_doc_values(spark, docs, num_docs, lat_q_col)
    lon = build_doc_values(spark, docs, num_docs, lon_q_col)
    valid = (lat != _DV_MISSING) & (lon != _DV_MISSING)
    if (np.abs(lat[valid]) > 90 * GEO_SCALE).any() or (
            np.abs(lon[valid]) > 180 * GEO_SCALE).any():
        raise ValueError("geo_point out of range: |lat| <= 90e7 and "
                         "|lon| <= 180e7 required")
    lat, lon = lat.copy(), lon.copy()
    lat[~valid] = _DV_MISSING
    lon[~valid] = _DV_MISSING
    return lat, lon


def geo_bbox_mask(lat_q: np.ndarray, lon_q: np.ndarray,
                  south_q: int, west_q: int, north_q: int, east_q: int
                  ) -> DocMask:
    """geo_bounding_box as a DocMask: inclusive fixed-point bounds;
    west > east wraps across the antimeridian (the ES contract). Missing
    geo_points never match a geo query."""
    if south_q > north_q:
        raise ValueError("south > north")
    valid = (lat_q != _DV_MISSING) & (lon_q != _DV_MISSING)
    m = valid & (lat_q >= south_q) & (lat_q <= north_q)
    if west_q <= east_q:
        m &= (lon_q >= west_q) & (lon_q <= east_q)
    else:  # crossing the antimeridian
        m &= (lon_q >= west_q) | (lon_q <= east_q)
    return DocMask.from_mask(m)


def haversine_ordinate(lat_q: np.ndarray, lon_q: np.ndarray,
                       origin_lat_deg: float, origin_lon_deg: float
                       ) -> np.ndarray:
    """floor(a * 1e15) per doc, where a is the haversine of the central
    angle to the origin — strictly monotone in great-circle distance.
    Missing geo_points map to the missing sentinel. The float expression
    tree here MUST stay operation-identical to geo_ordinate_sql()."""
    valid = (lat_q != _DV_MISSING) & (lon_q != _DV_MISSING)
    lat = lat_q / 1e7
    lon = lon_q / 1e7
    olat, olon = float(origin_lat_deg), float(origin_lon_deg)
    s1 = np.sin(((lat - olat) * DEG_TO_RAD) / 2)
    s2 = np.sin(((lon - olon) * DEG_TO_RAD) / 2)
    a = s1 * s1 + np.cos(lat * DEG_TO_RAD) * np.cos(olat * DEG_TO_RAD) \
        * (s2 * s2)
    out = np.floor(a * HAV_QUANT).astype(np.int64)
    out[~valid] = _DV_MISSING
    return out


def geo_ordinate_sql(lat_expr: str, lon_expr: str,
                     origin_lat_deg: float, origin_lon_deg: float) -> str:
    """The SQL twin of haversine_ordinate over fixed-point i64 columns —
    same constants, same operation order, so the doubles (and the floor)
    are bit-identical (sin/cos/+/*// are libm-stable across numpy and
    DuckDB; asin/atan2 are not, and never appear here)."""
    olat, olon = repr(float(origin_lat_deg)), repr(float(origin_lon_deg))
    C = repr(DEG_TO_RAD)
    s1 = f"sin((({lat_expr} / 1e7 - {olat}) * {C}) / 2)"
    s2 = f"sin((({lon_expr} / 1e7 - {olon}) * {C}) / 2)"
    a = (f"({s1} * {s1} + cos({lat_expr} / 1e7 * {C}) * cos({olat} * {C})"
         f" * ({s2} * {s2}))")
    return f"floor({a} * {HAV_QUANT!r})::BIGINT"


def distance_threshold_ordinate(radius_m: float) -> int:
    """The inclusive ordinate threshold for 'within radius_m meters':
    a_r = sin^2(r / (2R)). Docs at ordinate <= floor(a_r * 1e15) are
    within the radius (floor on both sides keeps the comparison exact
    against engine ordinates). Computed ONCE driver-side and embedded in
    the oracle as an integer literal, so engine and oracle share the
    same threshold bit-exactly."""
    if radius_m < 0:
        raise ValueError("radius must be >= 0")
    # past the antipodal distance pi*R every point is within the radius;
    # unclamped, sin(r / 2R) would fall again and shrink the threshold
    radius_m = min(radius_m, np.pi * EARTH_RADIUS_M)
    s = np.sin(radius_m / (2.0 * EARTH_RADIUS_M))
    return int(np.floor(s * s * HAV_QUANT))


def geo_distance_mask(lat_q: np.ndarray, lon_q: np.ndarray,
                      origin_lat_deg: float, origin_lon_deg: float,
                      radius_m: float) -> DocMask:
    """ES geo_distance filter: docs whose great-circle distance to the
    origin is <= radius_m, via the ordinate threshold (monotonicity makes
    the integer comparison exact). Missing geo_points never match."""
    ords = haversine_ordinate(lat_q, lon_q, origin_lat_deg, origin_lon_deg)
    thr = distance_threshold_ordinate(radius_m)
    return DocMask.from_mask((ords != _DV_MISSING) & (ords <= thr))


def run_geo_distance_sorted(spark: SparkSession, index, queries,
                            lat_q: np.ndarray, lon_q: np.ndarray,
                            origin_lat_deg: float, origin_lon_deg: float,
                            k: int = 10, mode: str = "and",
                            doc_filter: DocMask | None = None) -> DataFrame:
    """ES ``sort: [{_geo_distance: {...}}]``: boolean match + top-k by
    (distance asc, doc_id asc), riding the sort-by-field kernel over the
    per-origin ordinate array (one vectorized driver-side pass over the
    sidecars, then the standard one-kernel-pass retrieval). Returns
    (query_id, rank, doc_id, val) with val = the i64 ordinate."""
    from dint_spark.facets import run_sorted_queries

    ords = haversine_ordinate(lat_q, lon_q, origin_lat_deg, origin_lon_deg)
    return run_sorted_queries(spark, index, queries, ords, k=k, mode=mode,
                              descending=False, doc_filter=doc_filter)


def haversine_meters(ordinate: np.ndarray) -> np.ndarray:
    """Presentation-only meters conversion d = 2 R asin(sqrt(a)).
    asin is not libm-stable across engines, so this NEVER participates
    in gated comparisons — sort/filter exactness lives on the ordinate."""
    a = np.clip(ordinate.astype(np.float64) / HAV_QUANT, 0.0, 1.0)
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))

"""Geo search pins: fixed-point geo_point sidecars, bounding-box /
distance DocMasks, and distance-sorted retrieval — each against a local
brute force with an INDEPENDENT great-circle computation (asin-based
meters, not the engine's ordinate algebra), so the monotone-ordinate
trick is itself under test, not assumed.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from dint_spark.facets import _DV_MISSING
from dint_spark.geo import (build_geo_values, distance_threshold_ordinate,
                            geo_bbox_mask, geo_distance_mask,
                            haversine_ordinate, run_geo_distance_sorted)
from dint_spark.queries import DocMask

from test_facets_rerank import (_tok_matrix, _vocab_map,  # noqa: F401
                                docs_pdf, sidx)

N_DOCS = 300


def _coords(n):
    """Deterministic scattered fixed-point coords; every 7th missing lat,
    every 11th missing lon (so either-missing -> both-missing is hit)."""
    d = np.arange(n, dtype=np.int64)
    lat = (d * 2654435761 + 99) % 1800000001 - 900000000
    lon = (d * 1103515245 + 7) % 3600000001 - 1800000000
    lat_n = [None if i % 7 == 3 else int(v) for i, v in enumerate(lat)]
    lon_n = [None if i % 11 == 5 else int(v) for i, v in enumerate(lon)]
    return lat_n, lon_n


def _dist_m(lat1, lon1, lat2, lon2):
    """Independent great-circle meters (asin form, math library)."""
    C = math.pi / 180
    p1, p2 = lat1 * C, lat2 * C
    a = (math.sin((p2 - p1) / 2) ** 2
         + math.cos(p1) * math.cos(p2) * math.sin((lon2 - lon1) * C / 2) ** 2)
    return 2 * 6371000.0 * math.asin(math.sqrt(a))


@pytest.fixture(scope="module")
def geo(spark, sidx, docs_pdf):
    import pandas as pd

    lat_n, lon_n = _coords(N_DOCS)
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "lat_q": pd.array(lat_n, dtype="Int64"),
        "lon_q": pd.array(lon_n, dtype="Int64"),
    }))
    return build_geo_values(spark, docs, sidx.num_docs, "lat_q", "lon_q")


def test_build_geo_values_missing_and_range(spark, sidx, geo):
    import pandas as pd

    lat, lon = geo
    lat_n, lon_n = _coords(N_DOCS)
    for d in range(N_DOCS):
        missing = lat_n[d] is None or lon_n[d] is None
        assert (lat[d] == _DV_MISSING) == missing
        assert (lon[d] == _DV_MISSING) == missing
        if not missing:
            assert (lat[d], lon[d]) == (lat_n[d], lon_n[d])
    bad = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0], "lat_q": [91 * 10_000_000], "lon_q": [0]}))
    with pytest.raises(ValueError):
        build_geo_values(spark, bad, sidx.num_docs, "lat_q", "lon_q")


def test_geo_bbox_mask_matches_brute(geo):
    lat, lon = geo
    valid = lat != _DV_MISSING
    # plain box and an antimeridian-crossing box, inclusive bounds
    for (s, w, n, e) in [(-450000000, -300000000, 450000000, 900000000),
                         (-600000000, 1500000000, 600000000, -1500000000),
                         (int(lat[valid][0]), int(lon[valid][0]),
                          int(lat[valid][0]), int(lon[valid][0]))]:
        m = geo_bbox_mask(lat, lon, s, w, n, e).mask
        for d in range(N_DOCS):
            if not valid[d]:
                want = False
            else:
                in_lat = s <= lat[d] <= n
                in_lon = (w <= lon[d] <= e if w <= e
                          else (lon[d] >= w or lon[d] <= e))
                want = in_lat and in_lon
            assert m[d] == want, (d, s, w, n, e)
    with pytest.raises(ValueError):
        geo_bbox_mask(lat, lon, 10, 0, -10, 0)


def test_ordinate_orders_like_true_distance(geo):
    """Sorting by the i64 ordinate == sorting by independent asin-based
    meters (strict monotonicity), and the zero point is exact."""
    lat, lon = geo
    valid = lat != _DV_MISSING
    olat, olon = 12.5, 42.25
    o = haversine_ordinate(lat, lon, olat, olon)
    dist = np.array([
        _dist_m(lat[d] / 1e7, lon[d] / 1e7, olat, olon)
        for d in np.flatnonzero(valid)])
    ords = o[valid]
    by_ord = np.argsort(ords, kind="stable")
    by_dist = np.argsort(dist, kind="stable")
    assert (by_ord == by_dist).all()
    assert (o[~valid] == _DV_MISSING).all()
    # a doc exactly at the origin has ordinate 0
    lat2 = lat.copy(); lon2 = lon.copy()
    lat2[0], lon2[0] = int(olat * 1e7), int(olon * 1e7)
    assert haversine_ordinate(lat2, lon2, olat, olon)[0] == 0


def test_geo_distance_mask_matches_brute(geo):
    lat, lon = geo
    valid = lat != _DV_MISSING
    olat, olon = -33.9, 151.2
    for radius in (0.0, 1_000_000.0, 8_000_000.0):
        m = geo_distance_mask(lat, lon, olat, olon, radius).mask
        for d in range(N_DOCS):
            if not valid[d]:
                assert not m[d]
                continue
            dist = _dist_m(lat[d] / 1e7, lon[d] / 1e7, olat, olon)
            # compare away from the quantization boundary: brute meters
            # and the ordinate threshold agree except within float noise
            # of the radius itself, which the deterministic fixture avoids
            assert m[d] == (dist <= radius), (d, radius, dist)
    with pytest.raises(ValueError):
        distance_threshold_ordinate(-1.0)


def test_run_geo_distance_sorted_matches_brute(spark, sidx, docs_pdf, geo):
    lat, lon = geo
    valid = lat != _DV_MISSING
    olat, olon = 12.5, 42.25
    o = haversine_ordinate(lat, lon, olat, olon)
    vocab = _vocab_map(spark, sidx)
    tm = _tok_matrix(docs_pdf, vocab)
    mask = np.zeros(sidx.num_docs, dtype=bool)
    mask[::2] = True
    dm = DocMask.from_mask(mask)
    specs = [[0], [1, 2], [0, 3, 5], [4]]
    k = 6
    for filt in (None, dm):
        got = {
            (r["query_id"], r["rank"]): (r["doc_id"], r["val"])
            for r in run_geo_distance_sorted(
                spark, sidx, specs, lat, lon, olat, olon, k=k,
                doc_filter=filt).collect()
        }
        want = {}
        for qid, terms in enumerate(specs):
            rows = [(int(o[d]), d) for d, ts in enumerate(tm)
                    if set(terms) <= ts and valid[d]
                    and (filt is None or mask[d])]
            rows.sort()
            for rank, (v, d) in enumerate(rows[:k], 1):
                want[(qid, rank)] = (d, v)
        assert got == want, filt is None


def test_geo_rings_bucketing_matches_brute(spark, sidx, docs_pdf, geo):
    """Distance-ring aggregation == brute force: ordinate edges from
    thresholds bucket exactly like true-distance rings (monotonicity),
    missing geo_points bucket nowhere, empty rings are omitted."""
    from dint_spark.facets import run_range_facet_queries
    from dint_spark.geo import (distance_threshold_ordinate,
                                haversine_ordinate)

    lat, lon = geo
    valid = lat != _DV_MISSING
    olat, olon = 12.5, 42.25
    o = haversine_ordinate(lat, lon, olat, olon)
    rings_m = (0.0, 2_000_000.0, 6_000_000.0, 12_000_000.0, 21_000_000.0)
    edges = [0] + [distance_threshold_ordinate(m) + 1 for m in rings_m[1:]]
    vocab = _vocab_map(spark, sidx)
    tm = _tok_matrix(docs_pdf, vocab)
    specs = [[0], [1, 2], [38, 39]]
    got = {
        (r["query_id"], r["bucket"]): r["n_docs"]
        for r in run_range_facet_queries(
            spark, sidx, specs, o, edges, mode="and").collect()
    }
    want: dict = {}
    for qid, terms in enumerate(specs):
        for d, ts in enumerate(tm):
            if not (set(terms) <= ts) or not valid[d]:
                continue
            dist = _dist_m(lat[d] / 1e7, lon[d] / 1e7, olat, olon)
            for b in range(len(rings_m) - 1):
                # ring b covers (rings_m[b], rings_m[b+1]] in distance
                lo_ok = b == 0 or dist > rings_m[b]
                if lo_ok and dist <= rings_m[b + 1]:
                    want[(qid, b)] = want.get((qid, b), 0) + 1
                    break
    assert got == want


def test_distance_threshold_clamped_past_antipode():
    """Past pi*R (~20,015 km) every point is within the radius: the
    threshold stays monotone and saturates at HAV_QUANT."""
    from dint_spark.geo import EARTH_RADIUS_M, HAV_QUANT

    radii = [19_000e3, 20_000e3, 20_015e3, np.pi * EARTH_RADIUS_M,
             20_100e3, 21_000e3, 40_000e3]
    thr = [distance_threshold_ordinate(r) for r in radii]
    assert thr == sorted(thr)
    assert distance_threshold_ordinate(21_000e3) == HAV_QUANT

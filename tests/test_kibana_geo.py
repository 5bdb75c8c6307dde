"""ES geo agg family (round 16 — the last documented exclusion):
geohash_grid / geotile_grid / geo_distance buckets, geo_bounds /
geo_centroid metrics.  Every key/distance is pinned against an
independent pure-Python reference implementation of the public
algorithms plus classic hand-known values (the Wikipedia geohash
examples, zoom-0 tile, haversine London–Paris)."""

from __future__ import annotations

import json
import math

import pytest
from pyspark.sql import functions as F

from kafka_metrics_exporter_spark.kibana.compiler import (
    compile_visualization,
    parse_vis_state,
)


def _vis(aggs):
    return {"visState": json.dumps({"title": "t", "type": "table", "aggs": aggs})}


# -- pure-Python references (textbook algorithms, no engine code) -----
_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def ref_geohash(lat, lon, precision):
    lat_lo, lat_hi, lon_lo, lon_hi = -90.0, 90.0, -180.0, 180.0
    bits, even, ch, out = 0, True, 0, []
    while len(out) < precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                ch = (ch << 1) | 1
                lon_lo = mid
            else:
                ch = ch << 1
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                ch = (ch << 1) | 1
                lat_lo = mid
            else:
                ch = ch << 1
                lat_hi = mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(_B32[ch])
            bits, ch = 0, 0
    return "".join(out)


def ref_geotile(lat, lon, zoom):
    lat = max(min(lat, 85.0511287798066), -85.0511287798066)
    n = 1 << zoom
    x = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
    y = min(
        max(
            int(
                math.floor(
                    (1.0 - math.asinh(math.tan(math.radians(lat))) / math.pi)
                    / 2.0
                    * n
                )
            ),
            0,
        ),
        n - 1,
    )
    return f"{zoom}/{x}/{y}"


def ref_haversine_m(lat1, lon1, lat2, lon2):
    R = 6371008.7714
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp, dl = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * R * math.asin(math.sqrt(a))


@pytest.fixture(scope="module")
def spark():
    from kafka_metrics_exporter_spark.session import get_spark

    return get_spark(
        app_name="kibana-geo-test", master="local[4]", shuffle_partitions=4
    )


def _points_df(spark, pts):
    rows = [((float(la), float(lo)), float(v)) for la, lo, v in pts]
    return spark.createDataFrame(
        rows, "loc struct<lat:double, lon:double>, v double"
    )


def test_geohash_key_matches_reference(spark):
    """Engine geohash == the textbook bisection encoder for a spread of
    points and precisions, including the classic pins ezs42 /
    u4pruydqqvj and the +90/+180 clamp edge."""
    pts = [
        (42.605, -5.603), (57.64911, 10.40744), (0.0, 0.0),
        (-33.8688, 151.2093), (40.7128, -74.0060), (-89.9, -179.9),
        (89.9, 179.9), (90.0, 180.0), (-90.0, -180.0), (0.0001, -0.0001),
    ]
    assert ref_geohash(42.605, -5.603, 5) == "ezs42"  # classic
    assert ref_geohash(57.64911, 10.40744, 11) == "u4pruydqqvj"
    d = _points_df(spark, [(la, lo, 1.0) for la, lo in pts])
    for prec in (1, 5, 7, 12):
        out = compile_visualization(_vis([
            {"id": "1", "type": "geohash_grid", "schema": "bucket",
             "params": {"field": "loc", "precision": prec,
                        "customLabel": "g"}},
        ])).evaluate(d)
        got = {r["g"] for r in out.collect()}
        want = {ref_geohash(la, lo, prec) for la, lo in pts}
        assert got == want, (prec, got, want)


def test_geotile_key_matches_reference(spark):
    pts = [
        (0.0, 0.0), (40.7128, -74.0060), (-33.8688, 151.2093),
        (85.0511287798066, 179.999), (-85.06, -179.999), (51.5074, -0.1278),
        (89.9, 0.0),  # above the Mercator clamp: clamps, still buckets
    ]
    d = _points_df(spark, [(la, lo, 1.0) for la, lo in pts])
    for z in (0, 3, 7, 15):
        out = compile_visualization(_vis([
            {"id": "1", "type": "geotile_grid", "schema": "bucket",
             "params": {"field": "loc", "precision": z,
                        "customLabel": "t"}},
        ])).evaluate(d)
        got = {r["t"] for r in out.collect()}
        want = {ref_geotile(la, lo, z) for la, lo in pts}
        assert got == want, (z, got, want)
    assert ref_geotile(0.0, 0.0, 0) == "0/0/0"


def test_geo_grid_size_cut_and_invalid_drop(spark):
    """The size cut keeps the top cells by doc_count (key asc tiebreak)
    through the terms ranking machinery; out-of-range/null coordinates
    drop like ES index rejection."""
    pts = (
        [(10.0, 10.0, 1.0)] * 5
        + [(20.0, 20.0, 1.0)] * 3
        + [(30.0, 30.0, 1.0)] * 2
        + [(40.0, 40.0, 1.0)]
        + [(91.0, 0.0, 1.0), (0.0, 181.0, 1.0)]  # invalid: dropped
    )
    d = _points_df(spark, pts)
    d = d.unionByName(
        d.sparkSession.createDataFrame(
            [(None, 1.0)], "loc struct<lat:double, lon:double>, v double"
        )
    )
    out = compile_visualization(_vis([
        {"id": "1", "type": "geohash_grid", "schema": "bucket",
         "params": {"field": "loc", "precision": 3, "size": 2,
                    "customLabel": "g"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
        {"id": "3", "type": "sum", "schema": "metric",
         "params": {"field": "v", "customLabel": "sv"}},
    ])).evaluate(d)
    rows = {r["g"]: (r["n"], r["sv"]) for r in out.collect()}
    assert rows == {
        ref_geohash(10.0, 10.0, 3): (5, 5.0),
        ref_geohash(20.0, 20.0, 3): (3, 3.0),
    }


def test_geo_grid_nested_under_terms(spark):
    """A grid nests under a terms bucket: per-parent dense_rank size
    cut (the nested-terms path)."""
    rows = [
        ("a", (10.0, 10.0)), ("a", (10.0, 10.0)), ("a", (20.0, 20.0)),
        ("b", (30.0, 30.0)), ("b", (40.0, 40.0)), ("b", (40.0, 40.0)),
    ]
    d = spark.createDataFrame(
        [(g, (float(la), float(lo))) for g, (la, lo) in rows],
        "grp string, loc struct<lat:double, lon:double>",
    )
    out = compile_visualization(_vis([
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "grp", "size": 10, "order": "asc",
                    "orderBy": "_term", "customLabel": "grp"}},
        {"id": "2", "type": "geohash_grid", "schema": "bucket",
         "params": {"field": "loc", "precision": 2, "size": 1,
                    "customLabel": "g"}},
    ])).evaluate(d)
    got = {(r["grp"], r["g"]): r["count"] for r in out.collect()}
    assert got == {
        ("a", ref_geohash(10.0, 10.0, 2)): 2,
        ("b", ref_geohash(40.0, 40.0, 2)): 2,
    }


def test_geo_distance_rings(spark):
    """Half-open rings around London; per-point haversine checked
    against the Python reference (London–Paris ~343.5 km arc), overlap
    allowed, malformed points match nothing."""
    origin = (51.5074, -0.1278)  # London
    pts = [
        (51.5074, -0.1278, 1.0),    # 0 m
        (51.5080, -0.1278, 2.0),    # ~67 m
        (48.8566, 2.3522, 4.0),     # Paris, ~343.5 km
        (40.7128, -74.0060, 8.0),   # New York, ~5570 km
        (200.0, 0.0, 16.0),         # invalid
    ]
    d_paris = ref_haversine_m(*origin, 48.8566, 2.3522)
    assert d_paris == pytest.approx(343_500, rel=0.01)
    d = _points_df(spark, pts)
    out = compile_visualization(_vis([
        {"id": "1", "type": "geo_distance", "schema": "bucket",
         "params": {"field": "loc",
                    "origin": {"lat": origin[0], "lon": origin[1]},
                    "unit": "km",
                    "ranges": [
                        {"to": 1},
                        {"from": 1, "to": 1000},
                        {"key": "far", "from": 1000},
                        {"from": 0},  # overlaps everything valid
                    ], "customLabel": "ring"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
        {"id": "3", "type": "sum", "schema": "metric",
         "params": {"field": "v", "customLabel": "sv"}},
    ])).evaluate(d)
    got = {r["ring"]: (r["n"], r["sv"]) for r in out.collect()}
    assert got == {
        "*-1": (2, 3.0),
        "1-1000": (1, 4.0),
        "far": (1, 8.0),
        "0-*": (4, 15.0),
    }
    # string origin form parses too
    parse_vis_state(_vis([
        {"id": "1", "type": "geo_distance", "schema": "bucket",
         "params": {"field": "loc", "origin": "51.5,-0.12",
                    "ranges": [{"to": 100}]}}])["visState"])
    with pytest.raises(ValueError, match="origin"):
        parse_vis_state(_vis([
            {"id": "1", "type": "geo_distance", "schema": "bucket",
             "params": {"field": "loc",
                        "ranges": [{"to": 100}]}}])["visState"])
    with pytest.raises(ValueError, match="unit"):
        parse_vis_state(_vis([
            {"id": "1", "type": "geo_distance", "schema": "bucket",
             "params": {"field": "loc", "origin": "0,0", "unit": "mi",
                        "ranges": [{"to": 100}]}}])["visState"])


def test_geo_bounds_and_centroid(spark):
    pts = [
        (10.0, -20.0, 1.0), (30.0, 40.0, 1.0), (-5.0, 10.0, 1.0),
        (91.0, 0.0, 1.0),  # invalid: excluded from both metrics
    ]
    d = _points_df(spark, pts)
    out = compile_visualization(_vis([
        {"id": "1", "type": "geo_bounds", "schema": "metric",
         "params": {"field": "loc", "wrap_longitude": False,
                    "customLabel": "b"}},
        {"id": "2", "type": "geo_centroid", "schema": "metric",
         "params": {"field": "loc", "customLabel": "c"}},
    ])).evaluate(d)
    r = out.collect()[0]
    assert (r["b_top"], r["b_left"], r["b_bottom"], r["b_right"]) == (
        30.0, -20.0, -5.0, 40.0
    )
    assert r["c_lat"] == pytest.approx(35.0 / 3)
    assert r["c_lon"] == pytest.approx(10.0)
    assert r["c_count"] == 3
    # ES's wrap_longitude default is a documented divergence: loud
    with pytest.raises(ValueError, match="wrap_longitude"):
        parse_vis_state(_vis([
            {"id": "1", "type": "geo_bounds", "schema": "metric",
             "params": {"field": "loc"}}])["visState"])
    # precision bounds enforce ES's own limits
    with pytest.raises(ValueError, match=r"\[1, 12\]"):
        parse_vis_state(_vis([
            {"id": "1", "type": "geohash_grid", "schema": "bucket",
             "params": {"field": "loc", "precision": 13}}])["visState"])
    with pytest.raises(ValueError, match=r"\[0, 29\]"):
        parse_vis_state(_vis([
            {"id": "1", "type": "geotile_grid", "schema": "bucket",
             "params": {"field": "loc", "precision": 30}}])["visState"])


def test_geo_grid_under_date_histogram_and_metrics(spark):
    """Grid cells compose with the ordinary metric machinery (avg) —
    the generic keyed-bucket path, not a special case."""
    pts = [(10.0, 10.0, 2.0), (10.0, 10.0, 4.0), (50.0, 50.0, 10.0)]
    d = _points_df(spark, pts)
    out = compile_visualization(_vis([
        {"id": "1", "type": "geotile_grid", "schema": "bucket",
         "params": {"field": "loc", "precision": 4, "customLabel": "t"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
        {"id": "3", "type": "avg", "schema": "metric",
         "params": {"field": "v", "customLabel": "av"}},
    ])).evaluate(d)
    got = {r["t"]: (r["n"], r["av"]) for r in out.collect()}
    assert got == {
        ref_geotile(10.0, 10.0, 4): (2, 3.0),
        ref_geotile(50.0, 50.0, 4): (1, 10.0),
    }


def test_nested_and_reverse_nested(spark):
    """ES nested/reverse_nested (round 16 — the exclusion list's other
    half): one explode switches the context to array<struct> elements;
    doc_count counts NESTED docs, parent fields replicate per element
    (ES's in-context behavior), and reverse_nested emits the exact
    parent doc_count via an explicit root key.  All hand-computed."""
    rows = [
        (1, 100.0, [("a", 2), ("b", 1)]),
        (2, 200.0, [("a", 3)]),
        (3, 300.0, []),        # no nested docs
        (4, 400.0, None),      # null array: no nested docs
    ]
    d = spark.createDataFrame(
        rows,
        "order_id long, fee double, "
        "items array<struct<cat:string, qty:long>>",
    )
    out = compile_visualization(_vis([
        {"id": "1", "type": "nested", "schema": "bucket",
         "params": {"path": "items", "customLabel": "n"}},
        {"id": "2", "type": "terms", "schema": "bucket",
         "params": {"field": "items.cat", "size": 10, "order": "asc",
                    "orderBy": "_term", "customLabel": "cat"}},
        {"id": "3", "type": "count", "schema": "metric",
         "params": {"customLabel": "n_items"}},
        {"id": "4", "type": "sum", "schema": "metric",
         "params": {"field": "items.qty", "customLabel": "qty"}},
        {"id": "5", "type": "reverse_nested", "schema": "metric",
         "params": {"id_field": "order_id", "customLabel": "n_orders"}},
        {"id": "6", "type": "sum", "schema": "metric",
         "params": {"field": "fee", "customLabel": "fee_sum"}},
    ])).evaluate(d)
    got = {r["cat"]: (r["n_items"], r["qty"], r["n_orders"], r["fee_sum"])
           for r in out.collect()}
    # cat a: nested docs o1#1 + o2#1 -> 2 items, qty 2+3, parents {1,2};
    # parent fee replicates PER ELEMENT (ES in-context): 100 + 200
    assert got == {
        "a": (2, 5.0, 2, 300.0),
        "b": (1, 1.0, 1, 100.0),
    }
    # contract errors, all loud
    with pytest.raises(ValueError, match="first bucket agg"):
        parse_vis_state(_vis([
            {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "x", "size": 5}},
            {"id": "2", "type": "nested", "schema": "bucket",
             "params": {"path": "items"}}])["visState"])
    with pytest.raises(ValueError, match="top-level"):
        parse_vis_state(_vis([
            {"id": "1", "type": "nested", "schema": "bucket",
             "params": {"path": "a.b"}}])["visState"])
    with pytest.raises(ValueError, match="nested context"):
        parse_vis_state(_vis([
            {"id": "1", "type": "reverse_nested", "schema": "metric",
             "params": {"id_field": "order_id"}}])["visState"])
    with pytest.raises(ValueError, match="id_field"):
        parse_vis_state(_vis([
            {"id": "1", "type": "nested", "schema": "bucket",
             "params": {"path": "items"}},
            {"id": "2", "type": "reverse_nested", "schema": "metric",
             "params": {}}])["visState"])
    with pytest.raises(ValueError, match="metric"):
        parse_vis_state(_vis([
            {"id": "1", "type": "nested", "schema": "bucket",
             "params": {"path": "items"}},
            {"id": "2", "type": "reverse_nested", "schema": "bucket",
             "params": {"id_field": "order_id"}}])["visState"])


def test_geo_grid_bounds_viewport(spark):
    """ES's map-viewport ``bounds`` param restricts bucketed docs to a
    top_left/bottom_right box before keying; antimeridian-crossing
    and inverted boxes reject loudly."""
    pts = [(10.0, 10.0, 1.0), (20.0, 20.0, 1.0), (50.0, 50.0, 1.0),
           (-30.0, 10.0, 1.0)]
    d = _points_df(spark, pts)
    out = compile_visualization(_vis([
        {"id": "1", "type": "geohash_grid", "schema": "bucket",
         "params": {"field": "loc", "precision": 3,
                    "bounds": {"top_left": {"lat": 25.0, "lon": 5.0},
                               "bottom_right": {"lat": 5.0, "lon": 25.0}},
                    "customLabel": "g"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ])).evaluate(d)
    got = {r["g"]: r["n"] for r in out.collect()}
    assert got == {
        ref_geohash(10.0, 10.0, 3): 1,
        ref_geohash(20.0, 20.0, 3): 1,
    }
    with pytest.raises(ValueError, match="antimeridian"):
        parse_vis_state(_vis([
            {"id": "1", "type": "geotile_grid", "schema": "bucket",
             "params": {"field": "loc", "precision": 3,
                        "bounds": {"top_left": {"lat": 10, "lon": 170},
                                   "bottom_right": {"lat": -10,
                                                    "lon": -170}}}},
        ])["visState"])
    with pytest.raises(ValueError, match="top_left.lat"):
        parse_vis_state(_vis([
            {"id": "1", "type": "geohash_grid", "schema": "bucket",
             "params": {"field": "loc",
                        "bounds": {"top_left": {"lat": -10, "lon": 0},
                                   "bottom_right": {"lat": 10,
                                                    "lon": 10}}}},
        ])["visState"])
    with pytest.raises(ValueError, match="bounds needs"):
        parse_vis_state(_vis([
            {"id": "1", "type": "geohash_grid", "schema": "bucket",
             "params": {"field": "loc", "bounds": {"nope": 1}}},
        ])["visState"])


def test_geohash_prefix_property(spark):
    """Invariant: a precision-p geohash is a PREFIX of the same
    point's precision-(p+1) geohash — holds for the engine across a
    coordinate sweep (the bisection refines cells, never moves
    them)."""
    pts = [
        (la, lo)
        for la in (-89.99, -45.5, -0.01, 0.0, 33.33, 66.6, 89.99)
        for lo in (-179.99, -90.1, -0.5, 0.0, 45.45, 120.0, 179.99)
    ]
    d = _points_df(spark, [(la, lo, 1.0) for la, lo in pts])
    from kafka_metrics_exporter_spark.kibana.compiler import (
        geohash_column,
    )
    cols = [
        geohash_column(
            F.col("loc.lat"), F.col("loc.lon"), p
        ).alias(f"g{p}")
        for p in (1, 2, 4, 8, 12)
    ]
    for r in d.select(*cols).collect():
        for a, b in (("g1", "g2"), ("g2", "g4"), ("g4", "g8"),
                     ("g8", "g12")):
            assert r[b].startswith(r[a]), (r[a], r[b])


def test_geo_buckets_under_a_min_doc_count_histogram(spark):
    """A histogram's min_doc_count counts its own-level docs.  A geo
    grid below it drops docs with invalid coordinates, so the level
    count comes from the pre-cut snapshot: the [0, 10) bucket holds two
    docs and survives min_doc_count=2 although only one reaches a
    cell.  geo_distance rings may overlap, so a histogram with
    min_doc_count above them rejects like one above range buckets."""
    d = _points_df(spark, [
        (10.0, 10.0, 1.0), (91.0, 0.0, 2.0),  # bucket 0: one invalid
        (10.0, 10.0, 11.0),  # bucket 10: one doc
    ])
    hist = {"id": "1", "type": "histogram", "schema": "bucket",
            "params": {"field": "v", "interval": 10, "min_doc_count": 2,
                       "customLabel": "h"}}
    out = compile_visualization(_vis([
        hist,
        {"id": "2", "type": "geohash_grid", "schema": "bucket",
         "params": {"field": "loc", "precision": 3, "customLabel": "g"}},
        {"id": "3", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ])).evaluate(d)
    assert [(r["h"], r["g"], r["n"]) for r in out.collect()] == [
        (0.0, ref_geohash(10.0, 10.0, 3), 1)
    ]
    with pytest.raises(ValueError, match="row-exploding"):
        compile_visualization(_vis([
            hist,
            {"id": "2", "type": "geo_distance", "schema": "bucket",
             "params": {"field": "loc", "origin": "0,0",
                        "ranges": [{"to": 1e7}, {"to": 2e7}]}},
        ])).evaluate(d)


def test_count_ordered_geo_grid_above_a_filter_rejects(spark):
    """Grid cells rank by doc count like a count-ordered terms bucket,
    so a filter bucket below one would distort the ranking counts."""
    d = _points_df(spark, [(10.0, 10.0, 1.0)])
    with pytest.raises(ValueError, match="would distort"):
        compile_visualization(_vis([
            {"id": "1", "type": "geohash_grid", "schema": "bucket",
             "params": {"field": "loc", "precision": 3, "size": 1}},
            {"id": "2", "type": "filter", "schema": "bucket",
             "params": {"query": "v: 1"}},
        ])).evaluate(d)

"""Property tests for the tile expression library.

Oracle = ``tests/tile_oracle.py``, a plain-Python implementation of the
reference ``tile.py`` closed forms (SURVEY.md §2.6, F1–F10).  Every
Column expression must agree with the Python implementation bit-for-bit
on tile indices and to float tolerance on bounds/centers.
"""

import math

import pytest
from pyspark.sql import functions as F

from tile_oracle import Tile

from heatmap_spark.functions import tiles as tl

# Grid: edge latitudes (Mercator domain ±85.051128), dateline, equator,
# cities, plus a pseudo-random scatter. Zooms cover {1, 6, 16, 21}.
LATS = [-85.05112878, -85.0, -60.5, -33.9249, 0.0, 0.001, 40.7128, 47.6062, 66.56, 85.0, 85.05112878]
LONS = [-180.0, -179.999, -122.3321, -73.9857, -0.1, 0.0, 18.4241, 139.6917, 179.999]
ZOOMS = [1, 6, 16, 21]
POINTS = [(lat, lon) for lat in LATS for lon in LONS] + [
    (math.sin(i * 12.9898) * 85.0, math.sin(i * 78.233) * 179.99) for i in range(200)
]


@pytest.fixture(scope="module")
def points_df(spark):
    return spark.createDataFrame(POINTS, "lat double, lon double")


def test_tile_id_matches_reference(spark, points_df):
    for zoom in ZOOMS:
        got = points_df.select("lat", "lon", tl.tile_id("lat", "lon", zoom).alias("tid")).collect()
        for r in got:
            assert r.tid == Tile.tile_id_from_lat_long(r.lat, r.lon, zoom), (r.lat, r.lon, zoom)


def test_pinned_vectors(spark):
    # FIXTURES.md §4 pinned example
    df = spark.range(1).select(
        tl.tile_id(F.lit(47.6062), F.lit(-122.3321), 21).alias("t21"),
    )
    row = df.collect()[0]
    assert row.t21 == "21_732415_335939"
    df2 = spark.range(1).select(
        tl.tile_parent(F.lit("21_732415_335939"), 5).alias("rs"),
        tl.tile_parent(F.lit("21_732415_335939"), 1).alias("p"),
    )
    row2 = df2.collect()[0]
    assert row2.rs == "16_22887_10498"
    assert row2.p == "20_366207_167969"


def test_decode_roundtrip_and_malformed(spark, points_df):
    df = points_df.select(tl.tile_id("lat", "lon", 16).alias("tid")).select(
        "tid", tl.tile_decode("tid").alias("d")
    )
    for r in df.collect():
        z, row, col = map(int, r.tid.split("_"))
        assert (r.d.zoom, r.d.row, r.d.column) == (z, row, col)
    bad = spark.createDataFrame([("junk",), ("1_2",), ("a_b_c",), ("",)], "tid string")
    assert all(r.d is None for r in bad.select(tl.tile_decode("tid").alias("d")).collect())


def test_parent_matches_center_requantize(spark, points_df):
    """Integer-shift parent ≡ the reference's center-requantize parent
    (tile.py:60-64), for single and multi-step deltas."""
    df = points_df.select(tl.tile_id("lat", "lon", 21).alias("tid")).select(
        "tid",
        tl.tile_parent("tid", 1).alias("p1"),
        tl.tile_parent("tid", 5).alias("p5"),
    )
    for r in df.collect():
        t = Tile.tile_from_tile_id(r.tid)
        assert r.p1 == t.parent_id()
        # reference's multi-delta idiom (heatmap.py:89): center requantize
        ref_p5 = Tile.tile_id_from_lat_long(t.center_latitude, t.center_longitude, t.zoom - 5)
        assert r.p5 == ref_p5


def test_ancestors_match_reference(spark, points_df):
    df = points_df.select(tl.tile_id("lat", "lon", 21).alias("tid")).select(
        "tid", tl.tile_ancestors("tid", max_zoom=16, min_zoom=0).alias("anc")
    )
    for r in df.collect():
        assert list(r.anc) == Tile.tile_ids_for_all_zoom_levels(r.tid), r.tid


def test_children_match_reference(spark, points_df):
    df = points_df.select(tl.tile_id("lat", "lon", 15).alias("tid")).select(
        "tid", tl.tile_children("tid").alias("kids")
    )
    for r in df.collect():
        ref = Tile.tile_from_tile_id(r.tid).children()
        assert list(r.kids) == ref, r.tid


def test_bounds_and_center_match_reference(spark, points_df):
    df = points_df.select(tl.tile_id("lat", "lon", 16).alias("tid")).select(
        "tid", tl.tile_bounds("tid").alias("b"), tl.tile_center("tid").alias("c")
    )
    for r in df.collect():
        t = Tile.tile_from_tile_id(r.tid)
        assert r.b.lat_north == pytest.approx(t.latitude_north, abs=1e-12)
        assert r.b.lat_south == pytest.approx(t.latitude_south, abs=1e-12)
        assert r.b.lon_west == pytest.approx(t.longitude_west, abs=1e-12)
        assert r.b.lon_east == pytest.approx(t.longitude_east, abs=1e-12)
        assert r.c.lat == pytest.approx(t.center_latitude, abs=1e-12)
        assert r.c.lon == pytest.approx(t.center_longitude, abs=1e-12)
        # bounds contain the decoded tile's center (round-trip sanity)
        assert t.latitude_south <= r.c.lat <= t.latitude_north
        assert t.longitude_west <= r.c.lon <= t.longitude_east

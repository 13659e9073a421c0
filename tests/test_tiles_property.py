"""Hypothesis property tests for the tile library.

Randomized lat/lon/zoom triples (hundreds per run, minimized on
failure) checked against the plain-Python tile oracle
(tests/tile_oracle.py, the reference tile.py closed forms) —
complements the fixed-grid tests in test_tiles.py.  All points go
through Spark in ONE job per property (collect the generated batch,
compare in Python) to keep runtime sane.
"""

from hypothesis import given, settings, strategies as st

from tile_oracle import Tile

from heatmap_spark.functions import tiles as tl

lat_st = st.floats(min_value=-85.05112878, max_value=85.05112878, allow_nan=False)
lon_st = st.floats(min_value=-180.0, max_value=179.9999999, allow_nan=False)
zoom_st = st.integers(min_value=1, max_value=21)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.tuples(lat_st, lon_st, zoom_st), min_size=1, max_size=40))
def test_tile_id_property(spark, batch):
    df = spark.createDataFrame(batch, "lat double, lon double, z int")
    got = df.select(
        "lat", "lon", "z", tl.tile_id("lat", "lon", df.z).alias("tid")
    ).collect()
    for r in got:
        assert r.tid == Tile.tile_id_from_lat_long(r.lat, r.lon, r.z), (r.lat, r.lon, r.z)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.tuples(lat_st, lon_st), min_size=1, max_size=30), st.integers(1, 5))
def test_parent_shift_equals_center_requantize(spark, pts, delta):
    df = spark.createDataFrame(pts, "lat double, lon double")
    got = df.select(tl.tile_id("lat", "lon", 21).alias("tid")).select(
        "tid", tl.tile_parent("tid", delta).alias("p")
    ).collect()
    for r in got:
        t = Tile.tile_from_tile_id(r.tid)
        ref = Tile.tile_id_from_lat_long(t.center_latitude, t.center_longitude, 21 - delta)
        assert r.p == ref, (r.tid, delta)

"""Pyramid semantics tests (SURVEY.md §5.3/§5.4).

A small deterministic ``locations`` fixture runs through the full
pipeline; expected values come from a pure-Python oracle that implements
the *pinned* semantics: background exclusion (heatmap.py:28), 'x'-prefix
exclusion (heatmap.py:65), 'rt-'→'route' pooling (heatmap.py:66-67),
single group expansion at ingest + pure hierarchical rollup (fixing the
reference's Q1/Q2 inflation quirks — SURVEY.md §2.3), result-set
packaging 5 zooms up (heatmap.py:89) and JSON serialization
(heatmap.py:128-129).  Explode and cascade strategies must agree exactly.
"""

import datetime as dt
import json
from collections import defaultdict

import pytest

from tile_oracle import Tile

from heatmap_spark.operators import pyramid as P

# tz-aware UTC: naive datetimes would be interpreted in the OS-local zone at
# the Python->JVM boundary while date_format evaluates in the pinned UTC
# session TZ, making timespan labels depend on the host TZ.
TS1 = dt.datetime(2023, 3, 5, 12, 0, 0, tzinfo=dt.timezone.utc)
TS2 = dt.datetime(2024, 11, 30, 23, 59, 59, tzinfo=dt.timezone.utc)

# (lat, lon, ts, user_id, source, weight)
ROWS = [
    # two normal users sharing one dense tile (Seattle)
    (47.6062, -122.3321, TS1, "u1", "gps", 1.0),
    (47.6062, -122.3321, TS1, "u1", "gps", 1.0),
    (47.60621, -122.33211, TS2, "u2", "gps", 1.0),
    # background rows: must vanish entirely
    (47.6062, -122.3321, TS1, "u1", "background", 1.0),
    (0.0, 0.0, TS2, "u9", "background", 1.0),
    # x-test user: counts only into 'all'
    (40.7128, -73.9857, TS1, "xtest1", "gps", 1.0),
    # route-pooled users
    (40.7128, -73.9857, TS1, "rt-17", "gps", 1.0),
    (40.71281, -73.98571, TS2, "rt-99", "gps", 1.0),
    # dateline / high-latitude edges
    (85.0, -180.0, TS2, "u2", "gps", 1.0),
    (-85.0, 179.999, TS1, "u3", "gps", 1.0),
]

SCHEMA = "latitude double, longitude double, ts timestamp, user_id string, source string, weight double"


def oracle_pyramid(rows, timespans=("alltime",), min_zoom=6, max_zoom=21):
    """Pure-Python pinned-semantics oracle: dict[(ug, tspan, z, r, c)] -> visits."""
    out = defaultdict(float)
    for lat, lon, ts, user, source, w in rows:
        if source == "background":
            continue
        r21 = int(Tile.row_from_latitude(lat, max_zoom))
        c21 = int(Tile.column_from_longitude(lon, max_zoom))
        if user.startswith("x"):
            groups = ["all"]
        elif user.startswith("rt-"):
            groups = ["all", "route"]
        else:
            groups = ["all", user]
        for tsp in timespans:
            label = {
                "alltime": "alltime",
                "year": f"{ts.year:04d}",
                "month": f"{ts.year:04d}-{ts.month:02d}",
                "day": f"{ts.year:04d}-{ts.month:02d}-{ts.day:02d}",
            }[tsp]
            for g in groups:
                for z in range(min_zoom, max_zoom + 1):
                    d = max_zoom - z
                    out[(g, label, z, r21 >> d, c21 >> d)] += w
    return dict(out)


@pytest.fixture(scope="module")
def locations(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def as_dict(df):
    return {
        (r.user_group, r.timespan, r.zoom, r.row, r.col): r.visits
        for r in df.collect()
    }


def test_pyramid_explode_matches_oracle(spark, locations):
    got = as_dict(P.build_pyramid(locations, mode="explode"))
    assert got == oracle_pyramid(ROWS)


def test_pyramid_cascade_matches_oracle(spark, locations):
    got = as_dict(P.build_pyramid(locations, mode="cascade"))
    assert got == oracle_pyramid(ROWS)


def test_multi_timespan(spark, locations):
    tspans = ("alltime", "year", "month", "day")
    got = as_dict(P.build_pyramid(locations, mode="explode", timespans=tspans))
    assert got == oracle_pyramid(ROWS, timespans=tspans)
    labels = {k[1] for k in got}
    assert "2023" in labels and "2024-11" in labels and "2023-03-05" in labels


def test_resultsets_and_json(spark, locations):
    pyr = P.build_pyramid(locations, mode="explode")
    rsets = P.resultsets(pyr)
    table = P.heatmap_table(rsets).collect()

    # rebuild the oracle result sets: parent 5 zooms up groups its details
    oracle = oracle_pyramid(ROWS)
    expected = defaultdict(dict)
    for (g, tsp, z, r, c), v in oracle.items():
        expected[(g, tsp, f"{z - 5}_{r >> 5}_{c >> 5}")][f"{z}_{r}_{c}"] = v

    got = {}
    for row in table:
        user_group, timespan, rs_tile = row.id.split("|")
        got[(user_group, timespan, rs_tile)] = json.loads(row.heatmap)
    assert got == {k: v for k, v in expected.items()}


def test_all_group_is_sum_of_visible_points(spark, locations):
    """'all' at the coarsest zoom = number of non-background points —
    i.e. NO Q2 re-expansion inflation (SURVEY.md §2.3)."""
    pyr = P.build_pyramid(locations, mode="explode")
    rows = pyr.where("user_group = 'all' and zoom = 6").collect()
    total = sum(r.visits for r in rows)
    n_visible = sum(1 for r in ROWS if r[4] != "background")
    assert total == n_visible


# ---------------------------------------------------------------------------
# Randomized fuzz: arbitrary location sets vs the pure-Python oracle
# ---------------------------------------------------------------------------
from hypothesis import given, settings, strategies as st  # noqa: E402

_lat = st.floats(min_value=-85.05, max_value=85.05, allow_nan=False)
_lon = st.floats(min_value=-180.0, max_value=179.999, allow_nan=False)
_user = st.sampled_from(["u1", "u2", "u3", "xtest", "rt-7", "rt-8"])
_source = st.sampled_from(["gps", "gps", "gps", "background"])
_ts = st.sampled_from([TS1, TS2])
_row = st.tuples(_lat, _lon, _ts, _user, _source, st.just(1.0))


@settings(max_examples=12, deadline=None)
@given(st.lists(_row, min_size=1, max_size=25))
def test_pyramid_fuzz_matches_oracle(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    got = as_dict(P.build_pyramid(df, mode="explode"))
    exp = oracle_pyramid(rows)
    assert got == exp


def test_smooth_tiles_kernel_on_single_tile(spark):
    """One interior tile must scatter the exact 4/2/1 kernel to its
    3x3 neighborhood."""
    from pyspark.sql import functions as F  # noqa: F811

    from heatmap_spark.operators.pyramid import smooth_tiles

    one = spark.createDataFrame(
        [("all", "alltime", 10, 100, 200, 8.0)],
        "user_group string, timespan string, zoom int, row long, col long, visits double",
    )
    out = {
        (r.row, r.col): r.smoothed
        for r in smooth_tiles(one, 10).collect()
    }
    assert len(out) == 9
    assert out[(100, 200)] == 32.0  # center: 8 * 4
    assert out[(99, 200)] == out[(101, 200)] == out[(100, 199)] == out[(100, 201)] == 16.0
    assert out[(99, 199)] == out[(99, 201)] == out[(101, 199)] == out[(101, 201)] == 8.0


def test_smooth_tiles_clips_world_edge(spark):
    from heatmap_spark.operators.pyramid import smooth_tiles

    corner = spark.createDataFrame(
        [("all", "alltime", 10, 0, 0, 4.0)],
        "user_group string, timespan string, zoom int, row long, col long, visits double",
    )
    out = smooth_tiles(corner, 10).collect()
    # only the 2x2 in-range quadrant survives
    assert len(out) == 4
    assert all(r.row >= 0 and r.col >= 0 for r in out)


def test_cascade_reliable_checkpoint(spark, locations, tmp_path):
    """With heatmap.cascade.reliableCheckpoint=true and a checkpoint
    dir set, the cascade materializes chunks via reliable checkpoint()
    (files land in the dir) and results are unchanged."""
    import os

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ck"))
    spark.conf.set(P.RELIABLE_CHECKPOINT_CONF, "true")
    try:
        got = as_dict(P.build_pyramid(locations, mode="cascade"))
    finally:
        spark.conf.set(P.RELIABLE_CHECKPOINT_CONF, "false")
    assert got == oracle_pyramid(ROWS)
    written = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(tmp_path / "ck")
        for f in fs
    ]
    assert written, "reliable checkpoint wrote no files"


def test_dense_regions_grid_dbscan_semantics(spark, sf_correct):
    """Dense-region invariants: every cell has >= min_count points,
    8-adjacent dense cells share a region, region_id is the min
    cell_id of its region, and regions partition the dense cells."""
    from heatmap_spark.operators.pyramid import dense_regions
    from heatmap_spark.sources.locations import load_locations

    out = dense_regions(load_locations(spark, sf_correct), zoom=6, min_count=3).collect()
    assert out
    cells = {(r.row, r.col): r for r in out}
    for r in out:
        assert r.n_points >= 3
        assert r.cell_id == r.row * 64 + r.col
    # adjacency implies same region
    for (row, col), r in cells.items():
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                nb = cells.get((row + dr, col + dc))
                if nb is not None:
                    assert nb.region_id == r.region_id
    # region_id = min cell_id of its member set
    by_region = {}
    for r in out:
        by_region.setdefault(r.region_id, []).append(r.cell_id)
    for rid, members in by_region.items():
        assert rid == min(members)


def test_retraction_equals_rebuild(spark, sf_smoke):
    """Retraction algebra: pyramid(all ∪ -slice) with zero tiles
    dropped equals pyramid(remaining) exactly, row for row."""
    from pyspark.sql import functions as F

    from heatmap_spark.operators import pyramid as P
    from heatmap_spark.queries import q_heatmap_retraction
    from heatmap_spark.sources.locations import load_locations

    got = q_heatmap_retraction(spark, sf_smoke)
    loc = load_locations(spark, sf_smoke)
    remaining = loc.where(F.substring(F.md5("user_id"), 1, 1) > "3")
    want = P.build_pyramid(remaining, mode="explode")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

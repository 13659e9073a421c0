"""Z-order clustering: key correctness + real row-group skipping."""

import random

from pyspark.sql import functions as F

from heatmap_spark.functions.tiles import z_value
from heatmap_spark.operators.layout import cluster_by_zorder, row_group_skip_stats
from heatmap_spark.sources.locations import load_locations
from heatmap_spark.functions import tiles as tl


def _py_z(r: int, c: int, bits: int) -> int:
    return sum((((r >> b) & 1) << (2 * b + 1)) | (((c >> b) & 1) << (2 * b)) for b in range(bits))


def test_z_value_matches_python_reference(spark):
    rng = random.Random(7)
    rows = [(rng.randrange(2**21), rng.randrange(2**21)) for _ in range(500)]
    df = spark.createDataFrame(rows, "row long, col long")
    got = {(x.row, x.col): x.z for x in df.select("row", "col", z_value("row", "col", 21).alias("z")).collect()}
    for r, c in rows:
        assert got[(r, c)] == _py_z(r, c, 21)


def test_z_value_orders_locally(spark):
    # Sibling tiles (same parent) must be contiguous in key space:
    # the 4 children of any parent occupy [4*z_parent, 4*z_parent + 3].
    df = spark.createDataFrame([(r, c) for r in range(64) for c in range(64)], "row long, col long")
    out = df.select("row", "col", z_value("row", "col", 6).alias("z")).collect()
    for x in out:
        parent_z = _py_z(x.row >> 1, x.col >> 1, 5)
        assert 4 * parent_z <= x.z <= 4 * parent_z + 3


def test_zorder_layout_skips_row_groups(spark, sf_correct, tmp_path):
    """A small bbox must touch far fewer row groups in the z-ordered
    layout than in the arrival-order layout (footer min/max pruning)."""
    loc = load_locations(spark, sf_correct).where(F.col("source") != "background")
    # replicate x24 so each output file holds several 64 KB row groups
    tiles = loc.select(
        tl.tile_row("latitude", 14).alias("row"),
        tl.tile_col("longitude", 14).alias("col"),
        F.explode(F.sequence(F.lit(0), F.lit(23))).alias("copy"),
        "user_id",
    )
    plain_dir = str(tmp_path / "plain")
    z_dir = str(tmp_path / "zorder")
    # small row groups so sf0.01 yields enough groups to measure pruning
    opts = {"parquet.block.size": str(64 * 1024)}
    tiles.repartition(4).write.options(**opts).parquet(plain_dir)
    cluster_by_zorder(tiles, bits=14, num_partitions=4).write.options(**opts).parquet(z_dir)

    # bbox = 1/8 of each axis, centered
    n = 2**14
    rr = (3 * n // 8, 4 * n // 8)
    cc = (3 * n // 8, 4 * n // 8)
    plain = row_group_skip_stats(plain_dir, row_range=rr, col_range=cc)
    zed = row_group_skip_stats(z_dir, row_range=rr, col_range=cc)
    assert plain["row_groups"] > 4, plain
    assert zed["row_groups"] > 4, zed
    # arrival order: every group spans the globe -> ~no pruning
    assert plain["fraction"] > 0.9, plain
    # z-order: the bbox is clustered -> most groups pruned
    assert zed["fraction"] < 0.5 * plain["fraction"], (plain, zed)

    # layout change must not change content
    a = spark.read.parquet(plain_dir).groupBy("row", "col").count()
    b = spark.read.parquet(z_dir).groupBy("row", "col").count()
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_hilbert_key_matches_reference_and_is_continuous(spark):
    """The fold-based Hilbert key equals the textbook xy2d on the full
    8x8 grid, is bijective, and consecutive keys are ALWAYS adjacent
    cells (Manhattan distance 1) — the locality property Morton order
    lacks (its worst consecutive jump spans half the grid)."""
    from pyspark.sql import functions as F

    from heatmap_spark.functions.tiles import hilbert_value, z_value

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    rows = [(r, c) for r in range(8) for c in range(8)]
    df = spark.createDataFrame(rows, "row long, col long")
    out = df.select(
        "row", "col",
        hilbert_value("row", "col", 3).alias("h"),
        z_value("row", "col", 3).alias("z"),
    ).collect()
    got = {(x["row"], x["col"]): x["h"] for x in out}
    assert got == {(r, c): xy2d(8, c, r) for r, c in rows}
    assert sorted(got.values()) == list(range(64))

    cell_of = {h: rc for rc, h in got.items()}
    hilbert_jumps = [
        abs(cell_of[d][0] - cell_of[d + 1][0]) + abs(cell_of[d][1] - cell_of[d + 1][1])
        for d in range(63)
    ]
    assert set(hilbert_jumps) == {1}
    zcell = {x["z"]: (x["row"], x["col"]) for x in out}
    morton_jumps = [
        abs(zcell[d][0] - zcell[d + 1][0]) + abs(zcell[d][1] - zcell[d + 1][1])
        for d in range(63)
    ]
    assert max(morton_jumps) > 1

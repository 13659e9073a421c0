"""Space-filling-curve keys: Z-order (Morton) and Hilbert correctness."""

import random

from heatmap_spark.functions.tiles import z_value


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

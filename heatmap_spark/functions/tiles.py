"""Web-Mercator quadtree tile math as native Spark Column expressions.

Feature-parity with the reference's scalar library (reference tile.py:1-98),
re-expressed as closed-form Column math so the whole surface runs inside
whole-stage codegen — vectorized, null-safe, zero Python on the hot path.
The reference evaluates the same formulas row-at-a-time in pickled Python
closures (reference heatmap.py:27,60-61,84,89).

Mapping (reference file:line → function here):
  tile.py:15-17  row_from_latitude        → tile_row
  tile.py:19-21  column_from_longitude    → tile_col
  tile.py:8-13   tile_id_from_lat_long    → tile_id
  tile.py:56-58  tile_id_from_row_column  → tile_id_from_zrc
  tile.py:23-26  latitude_from_row        → lat_from_row
  tile.py:28-30  longitude_from_column    → lon_from_col
  tile.py:32-54  tile_from_tile_id        → tile_decode + tile_bounds + tile_center
  tile.py:66-77  decode_tile_id           → tile_decode
  tile.py:60-64  parent_id/parent         → tile_parent (exact integer form)
  tile.py:79-86  tile_ids_for_all_zoom_levels → tile_ancestors
  tile.py:88-98  children                 → tile_children (exact integer form)

Exactness note: the reference derives a tile's ancestor by re-quantizing
the tile's *center* at the coarser zoom (tile.py:60-61; heatmap.py:61,89).
For a tile (z, row, col) the center maps to fractional coordinates
strictly inside (row, row+1) × (col, col+1), and floor((row + eps)/2^d) ==
row >> d for any eps in (0,1), so the integer-shift form used here is
exactly equivalent and avoids the float round-trip entirely (proved by
the property tests in tests/test_tiles.py against the reference run as
oracle).  Same argument covers children: the quadrant midpoints of
tile.py:89-92 always land in the 4 tiles (2row+{0,1}, 2col+{0,1}).

All formulas keep the reference's exact floating-point operation order so
results are bit-compatible with the Python oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_ZOOM = 16  # reference tile.py:5 — max *result-set* zoom
MIN_ZOOM = 0  # reference tile.py:6
DETAIL_ZOOM_DELTA = 5  # reference heatmap.py:16 — detail zoom = parent + 5
DETAIL_MAX_ZOOM = MAX_ZOOM + DETAIL_ZOOM_DELTA  # 21, reference heatmap.py:27

_PI = math.pi


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _zoom_pow2(zoom: Column | int) -> Column:
    """2^zoom as a Column (exact for zoom <= 52)."""
    if isinstance(zoom, int):
        return F.lit(float(2**zoom))
    return F.pow(F.lit(2.0), _col(zoom))


def tile_row(lat: Column | str, zoom: Column | int) -> Column:
    """Web-Mercator Y tile index (reference tile.py:15-17).

    floor((1 - ln(tan(lat·π/180) + 1/cos(lat·π/180))/π)/2 · 2^zoom),
    operation order matching the reference exactly.
    """
    lat = _col(lat)
    rad = lat * F.lit(_PI) / F.lit(180.0)
    y = (F.lit(1.0) - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad)) / F.lit(_PI)) / F.lit(2.0)
    return F.floor(y * _zoom_pow2(zoom))


def tile_col(lon: Column | str, zoom: Column | int) -> Column:
    """X tile index: floor((lon+180)/360 · 2^zoom) (reference tile.py:19-21)."""
    lon = _col(lon)
    return F.floor((lon + F.lit(180.0)) / F.lit(360.0) * _zoom_pow2(zoom))


def tile_id_from_zrc(zoom: Column | int, row: Column, col: Column) -> Column:
    """Canonical tile-id encoding ``"{zoom}_{row}_{col}"`` (reference tile.py:56-58)."""
    z = F.lit(zoom) if isinstance(zoom, int) else zoom
    return F.concat_ws("_", z.cast("string"), row.cast("string"), col.cast("string"))


def tile_id(lat: Column | str, lon: Column | str, zoom: Column | int) -> Column:
    """Quantize (lat, lon) to a tile id at ``zoom`` (reference tile.py:8-13)."""
    return tile_id_from_zrc(zoom, tile_row(lat, zoom), tile_col(lon, zoom))


def tile_decode(tid: Column | str) -> Column:
    """Parse ``z_row_col`` → struct(zoom, row, column); null if malformed.

    Mirrors reference tile.py:66-77 / tile.py:34-43 (malformed → None).
    Uses try_cast so garbage ids yield null rather than ANSI cast errors.
    """
    tid = _col(tid)
    parts = F.split(tid, "_")
    z = F.element_at(parts, 1).try_cast("int")
    r = F.element_at(parts, 2).try_cast("bigint")
    c = F.element_at(parts, 3).try_cast("bigint")
    ok = (F.size(parts) == 3) & z.isNotNull() & r.isNotNull() & c.isNotNull()
    return F.when(ok, F.struct(z.alias("zoom"), r.alias("row"), c.alias("column")))


def lat_from_row(row: Column, zoom: Column | int) -> Column:
    """North-edge latitude of a tile row (reference tile.py:23-26)."""
    n = F.lit(_PI) - F.lit(2.0) * F.lit(_PI) * row / _zoom_pow2(zoom)
    return F.lit(180.0) / F.lit(_PI) * F.atan(F.lit(0.5) * (F.exp(n) - F.exp(-n)))


def lon_from_col(col: Column, zoom: Column | int) -> Column:
    """West-edge longitude of a tile column (reference tile.py:28-30)."""
    return col.cast("double") / _zoom_pow2(zoom) * F.lit(360.0) - F.lit(180.0)


def tile_bounds(tid: Column | str) -> Column:
    """struct(lat_north, lat_south, lon_west, lon_east) (reference tile.py:45-49)."""
    d = tile_decode(tid)
    z, r, c = d["zoom"], d["row"], d["column"]
    return F.when(
        d.isNotNull(),
        F.struct(
            lat_from_row(r, z).alias("lat_north"),
            lat_from_row(r + F.lit(1), z).alias("lat_south"),
            lon_from_col(c, z).alias("lon_west"),
            lon_from_col(c + F.lit(1), z).alias("lon_east"),
        ),
    )


def tile_center(tid: Column | str) -> Column:
    """struct(lat, lon) tile center (reference tile.py:51-52)."""
    b = tile_bounds(tid)
    return F.when(
        b.isNotNull(),
        F.struct(
            ((b["lat_north"] + b["lat_south"]) / F.lit(2.0)).alias("lat"),
            ((b["lon_east"] + b["lon_west"]) / F.lit(2.0)).alias("lon"),
        ),
    )


def tile_parent_zrc(row: Column, col: Column, delta: Column | int) -> Column:
    """Ancestor (row, col) ``delta`` zooms up, as struct(row, column).

    Exact integer form of the reference's center-requantize idiom
    (tile.py:60-61, heatmap.py:61,89): row >> delta, col >> delta.
    Division by an exact power of two + floor keeps it correct for
    Column-valued deltas (F.shiftright needs a literal bit count).
    """
    if isinstance(delta, int):
        return F.struct(
            F.shiftright(row, delta).alias("row"), F.shiftright(col, delta).alias("column")
        )
    p = _zoom_pow2(delta)
    return F.struct(
        F.floor(row / p).alias("row"),
        F.floor(col / p).alias("column"),
    )


def tile_parent(tid: Column | str, delta: Column | int = 1) -> Column:
    """Ancestor tile id ``delta`` zooms up (reference tile.py:60-64)."""
    d = tile_decode(tid)
    dz = F.lit(delta) if isinstance(delta, int) else delta
    rc = tile_parent_zrc(d["row"], d["column"], delta)
    return F.when(d.isNotNull(), tile_id_from_zrc(d["zoom"] - dz, rc["row"], rc["column"]))


def tile_ancestors(
    tid: Column | str, max_zoom: int = MAX_ZOOM, min_zoom: int = MIN_ZOOM
) -> Column:
    """Ancestor tile ids for zooms max_zoom → min_zoom+1 descending
    (reference tile.py:79-86: range(MAX_ZOOM, MIN_ZOOM, -1)).

    Returns array<string>.  This is the explode-all-zooms ingest helper:
    exploding it turns one detail row into its whole rollup lineage, so
    the full pyramid is ONE groupBy instead of 16 cascaded shuffles.
    """
    d = tile_decode(tid)
    z, r, c = d["zoom"], d["row"], d["column"]
    zooms = F.sequence(F.lit(max_zoom), F.lit(min_zoom + 1), F.lit(-1))
    return F.when(
        d.isNotNull(),
        F.transform(
            zooms,
            lambda tz: tile_id_from_zrc(
                tz,
                F.floor(r / F.pow(F.lit(2.0), (z - tz).cast("double"))),
                F.floor(c / F.pow(F.lit(2.0), (z - tz).cast("double"))),
            ),
        ),
    )


def tile_children(tid: Column | str) -> Column:
    """The 4 child tile ids at zoom+1 (reference tile.py:88-98), exact
    integer form (2·row+{0,1}, 2·col+{0,1})."""
    d = tile_decode(tid)
    z, r, c = d["zoom"] + F.lit(1), d["row"] * F.lit(2), d["column"] * F.lit(2)
    return F.when(
        d.isNotNull(),
        F.array(
            tile_id_from_zrc(z, r, c + F.lit(1)),
            tile_id_from_zrc(z, r, c),
            tile_id_from_zrc(z, r + F.lit(1), c + F.lit(1)),
            tile_id_from_zrc(z, r + F.lit(1), c),
        ),
    )


def z_value(row: Column | str, col: Column | str, bits: int = DETAIL_MAX_ZOOM) -> Column:
    """Morton / Z-order key: interleave the low ``bits`` bits of (row, col)
    — row bits land on odd positions, col bits on even, so nearby tiles
    get nearby keys and a 1-D sort becomes a 2-D space-filling curve.

    This is the layout primitive the reference never needed (its sink is
    a point-lookup KV store, heatmap.py:137) but a parquet/object-store
    deployment does: writing tile data ordered by z_value clusters each
    bbox into few row groups, so min/max footer stats prune the rest of
    a 100 TB scan (key correctness pinned in tests/test_layout.py).

    Pure integer Column math (shift/and/add), identical in DuckDB via
    :func:`z_value_sql` — oracle-checkable.  bits ≤ 31 → key < 2^62.
    """
    if not 0 < bits <= 31:
        raise ValueError(f"bits must be in 1..31, got {bits}")
    r = _col(row).cast("bigint")
    c = _col(col).cast("bigint")
    terms = []
    for b in range(bits):
        terms.append(F.shiftleft(F.shiftright(r, b).bitwiseAND(F.lit(1)), 2 * b + 1))
        terms.append(F.shiftleft(F.shiftright(c, b).bitwiseAND(F.lit(1)), 2 * b))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("bigint")


def z_value_sql(row: str, col: str, bits: int = DETAIL_MAX_ZOOM) -> str:
    """The same Morton key as :func:`z_value`, as an ANSI/DuckDB SQL
    expression string over column names ``row``/``col`` (for oracles)."""
    if not 0 < bits <= 31:
        raise ValueError(f"bits must be in 1..31, got {bits}")
    terms = []
    for b in range(bits):
        terms.append(f"(((CAST({row} AS BIGINT) >> {b}) & 1) << {2 * b + 1})")
        terms.append(f"(((CAST({col} AS BIGINT) >> {b}) & 1) << {2 * b})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def hilbert_value(
    row: Column | str, col: Column | str, bits: int = DETAIL_MAX_ZOOM
) -> Column:
    """Hilbert-curve key for (row, col) on a 2^bits × 2^bits grid —
    the locality-preserving alternative to :func:`z_value`: the
    Hilbert curve never makes the long diagonal jumps Morton order
    does, so bbox queries touch even fewer row-group key ranges (the
    reason Databricks liquid clustering and DuckDB's spatial extension
    both offer it).

    Standard xy→d bit descent (public algorithm, e.g. Wikipedia
    "Hilbert curve"): per level s = 2^(bits−1)…1, quadrant
    (3·rx) XOR ry contributes s²·quadrant, then the (flip, swap)
    rotation re-frames the lower bits.  Implemented as an F.aggregate
    fold with a (d, x, y) struct accumulator over the level array —
    expression size stays LINEAR in bits (an unrolled CASE tree would
    triple per level), everything stays in codegen'd JVM integer math,
    and DuckDB replays the identical fold via list_reduce
    (:func:`hilbert_value_sql`), so keys are value-hash oracle-checked.
    """
    if not 0 < bits <= 31:
        raise ValueError(f"bits must be in 1..31, got {bits}")
    x0 = _col(col).cast("bigint")
    y0 = _col(row).cast("bigint")
    levels = F.array(*[F.lit(1 << b).cast("bigint") for b in range(bits - 1, -1, -1)])

    def step(acc, s):
        rx = acc["x"].bitwiseAND(s) > 0
        ry = acc["y"].bitwiseAND(s) > 0
        quad = (
            F.when(rx & ry, F.lit(2))
            .when(rx, F.lit(3))
            .when(ry, F.lit(1))
            .otherwise(F.lit(0))
        )
        nx = F.when(
            ~ry, F.when(rx, s - 1 - acc["y"]).otherwise(acc["y"])
        ).otherwise(acc["x"])
        ny = F.when(
            ~ry, F.when(rx, s - 1 - acc["x"]).otherwise(acc["x"])
        ).otherwise(acc["y"])
        return F.struct(
            (acc["d"] + s * s * quad).alias("d"), nx.alias("x"), ny.alias("y")
        )

    st = F.aggregate(
        levels,
        F.struct(
            F.lit(0).cast("bigint").alias("d"), x0.alias("x"), y0.alias("y")
        ),
        step,
    )
    return st["d"].cast("bigint")


def hilbert_value_sql(row: str, col: str, bits: int = DETAIL_MAX_ZOOM) -> str:
    """The same Hilbert key as :func:`hilbert_value`, as a DuckDB SQL
    expression string (list_reduce fold with a [d, x, y] accumulator
    seeded by a prepended state element)."""
    if not 0 < bits <= 31:
        raise ValueError(f"bits must be in 1..31, got {bits}")
    levels = ", ".join(
        f"CAST({1 << b} AS BIGINT)" for b in range(bits - 1, -1, -1)
    )
    return (
        "list_reduce("
        f"[[CAST(0 AS BIGINT), CAST({col} AS BIGINT), CAST({row} AS BIGINT)]]"
        f" || list_transform([{levels}],"
        " s -> [s, CAST(0 AS BIGINT), CAST(0 AS BIGINT)]),"
        " (a, e) -> ["
        "a[1] + e[1] * e[1] * (CASE"
        " WHEN (a[2] & e[1]) > 0 AND (a[3] & e[1]) > 0 THEN 2"
        " WHEN (a[2] & e[1]) > 0 THEN 3"
        " WHEN (a[3] & e[1]) > 0 THEN 1 ELSE 0 END),"
        " CASE WHEN (a[3] & e[1]) = 0 THEN"
        " (CASE WHEN (a[2] & e[1]) > 0 THEN e[1] - 1 - a[3] ELSE a[3] END)"
        " ELSE a[2] END,"
        " CASE WHEN (a[3] & e[1]) = 0 THEN"
        " (CASE WHEN (a[2] & e[1]) > 0 THEN e[1] - 1 - a[2] ELSE a[2] END)"
        " ELSE a[3] END"
        "])[1]"
    )

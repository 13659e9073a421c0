"""Output checks, run outside the timed region.

Each check recomputes the expected answer with DuckDB straight from the
generated parquet, independently of the Spark program, and returns the
number of items compared and the number that differ.
"""

from __future__ import annotations

import glob
import math

import duckdb

ZMAX = 21  # detail zoom of the pyramid
RS_DELTA = 5  # result-set parent sits 5 zooms above its detail tiles


def _tiles_sql(src: str) -> str:
    """Points of ``src`` that the pipeline keeps, with their zoom-21 tile
    (Web-Mercator row/col, same operation order as the program) and the
    user groups each point counts into: 'all'; plus 'route' for 'rt-'
    users or the user itself for ordinary users ('x' users: none)."""
    scale = float(2**ZMAX)
    return f"""
    WITH p AS (
      SELECT user_id,
        CAST(floor((1.0 - ln(tan(latitude * pi() / 180.0)
                     + 1.0 / cos(latitude * pi() / 180.0)) / pi()) / 2.0 * {scale}) AS BIGINT) AS r21,
        CAST(floor((longitude + 180.0) / 360.0 * {scale}) AS BIGINT) AS c21
      FROM {src}
      WHERE source <> 'background'
        AND latitude BETWEEN -85.05112878 AND 85.05112878
        AND longitude BETWEEN -180.0 AND 180.0)
    SELECT 'all' AS ug, r21, c21 FROM p
    UNION ALL
    SELECT CASE WHEN starts_with(user_id, 'rt-') THEN 'route' ELSE user_id END, r21, c21
    FROM p WHERE NOT starts_with(user_id, 'x')
    """


def _parquet(paths: list[str]) -> str:
    return "read_parquet([" + ", ".join(f"'{p}'" for p in paths) + "])"


def heatmap_table(input_path: str, sink_path: str) -> tuple[int, int]:
    """Visit sums and result-set counts per (user_group, zoom) of the
    sink table (id = 'group|timespan|z_r_c', heatmap = JSON object)
    against the same roll-up of the input points."""
    con = duckdb.connect()
    expected = con.execute(
        f"""
        WITH g AS ({_tiles_sql(_parquet([input_path]))})
        SELECT ug, zoom, CAST(count(*) AS DOUBLE) AS visits,
               count(DISTINCT (r21 >> ({ZMAX + RS_DELTA} - zoom), c21 >> ({ZMAX + RS_DELTA} - zoom))) AS n_rs
        FROM g, range(6, {ZMAX + 1}) t(zoom)
        GROUP BY ALL
        """
    ).fetchall()
    got = con.execute(
        f"""
        SELECT split_part(id, '|', 1) AS ug,
               CAST(split_part(split_part(id, '|', 3), '_', 1) AS BIGINT) + {RS_DELTA} AS zoom,
               sum(list_sum(CAST(json_extract(heatmap, '$.*') AS DOUBLE[]))) AS visits,
               count(*) AS n_rs
        FROM {_parquet(sorted(glob.glob(sink_path + '/*.parquet')))}
        GROUP BY ALL
        """
    ).fetchall()
    con.close()
    exp = {(u, z): (v, n) for u, z, v, n in expected}
    have = {(u, z): (v, n) for u, z, v, n in got}
    bad = sum(1 for k in exp.keys() | have.keys() if exp.get(k) != have.get(k))
    return len(exp), bad


def rows_in(path: str) -> int:
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM {_parquet(sorted(glob.glob(path + '/*.parquet')))}"
    ).fetchone()[0]
    con.close()
    return n


def parent_tile(lat: float, lon: float, rs_zoom: int) -> tuple[int, int]:
    """Result-set parent (row, col) at ``rs_zoom`` of a point."""
    rad = lat * math.pi / 180.0
    y = (1.0 - math.log(math.tan(rad) + 1.0 / math.cos(rad)) / math.pi) / 2.0
    r21 = math.floor(y * 2**ZMAX)
    c21 = math.floor((lon + 180.0) / 360.0 * 2**ZMAX)
    shift = ZMAX - rs_zoom
    return r21 >> shift, c21 >> shift


def store_reads(batch_paths: list[str], reads: list[tuple]) -> dict[tuple, dict[str, float]]:
    """Expected result set of each read ``(user_group, rs_zoom, row, col)``
    over the points of ``batch_paths``: {detail tile id: visits}."""
    con = duckdb.connect()
    con.execute("CREATE TABLE q(ug VARCHAR, z BIGINT, r BIGINT, c BIGINT)")
    con.executemany("INSERT INTO q VALUES (?, ?, ?, ?)", [list(r) for r in set(reads)])
    rows = con.execute(
        f"""
        WITH g AS ({_tiles_sql(_parquet(batch_paths))})
        SELECT q.ug, q.z, q.r, q.c,
               r21 >> ({ZMAX - RS_DELTA} - q.z) AS dr, c21 >> ({ZMAX - RS_DELTA} - q.z) AS dc,
               CAST(count(*) AS DOUBLE) AS visits
        FROM g JOIN q ON g.ug = q.ug
          AND (g.r21 >> ({ZMAX} - q.z)) = q.r AND (g.c21 >> ({ZMAX} - q.z)) = q.c
        GROUP BY ALL
        """
    ).fetchall()
    con.close()
    out: dict[tuple, dict[str, float]] = {tuple(r): {} for r in reads}
    for ug, z, r, c, dr, dc, v in rows:
        out[(ug, z, r, c)][f"{z + RS_DELTA}_{dr}_{dc}"] = v
    return out


def registry_query(con: duckdb.DuckDBPyConnection, oracle_sql: str, got_path: str) -> bool:
    """True when the Spark result written at ``got_path`` equals the
    oracle's rows as a multiset (columns matched by name, exact values)."""
    got = f"read_parquet('{got_path}/*.parquet')"
    exp_cols = [d[0] for d in con.execute(f"SELECT * FROM ({oracle_sql}) LIMIT 0").description]
    got_cols = [d[0] for d in con.execute(f"SELECT * FROM {got} LIMIT 0").description]
    if sorted(exp_cols) != sorted(got_cols):
        return False
    cols = ", ".join(f'"{c}"' for c in sorted(exp_cols))
    con.execute(f"CREATE OR REPLACE TEMP TABLE exp AS SELECT {cols} FROM ({oracle_sql})")
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT {cols} FROM {got}")
    diff = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT * FROM exp EXCEPT ALL SELECT * FROM got))"
        " + (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM exp))"
    ).fetchone()[0]
    return diff == 0


def fixture_views(con: duckdb.DuckDBPyConnection, sf_dir: str, tables: list[str]) -> None:
    for t in tables:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

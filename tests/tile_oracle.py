"""Pure-Python tile-math oracle for the tile/pyramid tests.

Written from the closed forms F1–F10 of SURVEY.md §2.6 (the reference
heatmap's ``tile.py`` surface), row-at-a-time in plain ``math``, so the
Column expressions in ``heatmap_spark.functions.tiles`` are checked
against an independent implementation.  It deliberately imports nothing
from ``heatmap_spark``.

Tile ids are ``"<zoom>_<row>_<column>"`` in Web-Mercator (slippy-map)
indexing: row 0 is the northern edge, column 0 the antimeridian.
"""

from __future__ import annotations

import math

MAX_ZOOM = 16
MIN_ZOOM = 0


class Tile:
    """One decoded tile: its zoom/row/column, edge coordinates and
    center (F6), plus the parent / ancestor / children walks (F8–F10)."""

    def __init__(self, zoom: int, row: int, column: int):
        self.zoom = zoom
        self.row = row
        self.column = column
        self.id = Tile.tile_id_from_row_column(row, column, zoom)
        self.latitude_north = Tile.latitude_from_row(row, zoom)
        self.latitude_south = Tile.latitude_from_row(row + 1, zoom)
        self.longitude_west = Tile.longitude_from_column(column, zoom)
        self.longitude_east = Tile.longitude_from_column(column + 1, zoom)
        self.center_latitude = (self.latitude_north + self.latitude_south) / 2.0
        self.center_longitude = (self.longitude_west + self.longitude_east) / 2.0

    # -- F1/F2: coordinate → tile index ----------------------------------
    @staticmethod
    def row_from_latitude(latitude: float, zoom: int) -> int:
        rad = latitude * math.pi / 180.0
        return math.floor(
            (1.0 - math.log(math.tan(rad) + 1.0 / math.cos(rad)) / math.pi)
            / 2.0
            * 2.0**zoom
        )

    @staticmethod
    def column_from_longitude(longitude: float, zoom: int) -> int:
        return math.floor((longitude + 180.0) / 360.0 * 2.0**zoom)

    # -- F3: the canonical id encoding ------------------------------------
    @staticmethod
    def tile_id_from_row_column(row: int, column: int, zoom: int) -> str:
        return f"{zoom}_{row}_{column}"

    @staticmethod
    def tile_id_from_lat_long(latitude: float, longitude: float, zoom: int) -> str:
        return Tile.tile_id_from_row_column(
            Tile.row_from_latitude(latitude, zoom),
            Tile.column_from_longitude(longitude, zoom),
            zoom,
        )

    # -- F4/F5: tile index → north / west edge ----------------------------
    @staticmethod
    def latitude_from_row(row: int, zoom: int) -> float:
        n = math.pi - 2.0 * math.pi * row / 2.0**zoom
        return math.atan(0.5 * (math.exp(n) - math.exp(-n))) * 180.0 / math.pi

    @staticmethod
    def longitude_from_column(column: int, zoom: int) -> float:
        return column / 2.0**zoom * 360.0 - 180.0

    # -- F6/F7: id parsing --------------------------------------------------
    @staticmethod
    def decode_tile_id(tile_id: str) -> dict | None:
        parts = tile_id.split("_")
        if len(parts) != 3:
            return None
        try:
            zoom, row, column = (int(p) for p in parts)
        except ValueError:
            return None
        return {"id": tile_id, "zoom": zoom, "row": row, "column": column}

    @staticmethod
    def tile_from_tile_id(tile_id: str) -> Tile | None:
        d = Tile.decode_tile_id(tile_id)
        if d is None:
            return None
        return Tile(d["zoom"], d["row"], d["column"])

    # -- F8: parent = this tile's center re-quantized one zoom up -----------
    def parent_id(self) -> str:
        return Tile.tile_id_from_lat_long(
            self.center_latitude, self.center_longitude, self.zoom - 1
        )

    def parent(self) -> Tile | None:
        return Tile.tile_from_tile_id(self.parent_id())

    # -- F9: ancestors at zooms MAX_ZOOM → MIN_ZOOM+1 ----------------------
    @staticmethod
    def tile_ids_for_all_zoom_levels(tile_id: str) -> list[str]:
        t = Tile.tile_from_tile_id(tile_id)
        return [
            Tile.tile_id_from_lat_long(t.center_latitude, t.center_longitude, z)
            for z in range(MAX_ZOOM, MIN_ZOOM, -1)
        ]

    # -- F10: children via the four quadrant midpoints ----------------------
    def children(self) -> list[str]:
        """Child ids at zoom+1, in quadrant order NE, NW, SE, SW."""
        lat_n = (self.latitude_north + self.center_latitude) / 2.0
        lat_s = (self.center_latitude + self.latitude_south) / 2.0
        lon_w = (self.longitude_west + self.center_longitude) / 2.0
        lon_e = (self.center_longitude + self.longitude_east) / 2.0
        z = self.zoom + 1
        return [
            Tile.tile_id_from_lat_long(lat_n, lon_e, z),
            Tile.tile_id_from_lat_long(lat_n, lon_w, z),
            Tile.tile_id_from_lat_long(lat_s, lon_e, z),
            Tile.tile_id_from_lat_long(lat_s, lon_w, z),
        ]

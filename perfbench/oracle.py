"""Expected answers, computed by DuckDB from the same parquet inputs.

Nothing here imports the engine: each function restates the question
in plain SQL (box tests, squared distances, FLOOR tile laws), so a
wrong engine answer cannot also be the expected one.
"""

from __future__ import annotations

import duckdb

DENSE_DISTANCE = 0.05
TILE_ZOOM = 8


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _src(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def _tile(col: str, off: str, sign: str, span: float, n: int) -> str:
    g = f"FLOOR(({off} {sign} {col}) / {span} * {n})"
    return f"LEAST(GREATEST({g}, 0), {n - 1})::BIGINT"


def tile_rollup(con, images: str, squares: str) -> dict:
    """(sq_id, tile_x, tile_y) -> rows, for points inside (or on) a square."""
    n = 1 << TILE_ZOOM
    rows = con.execute(
        f"""
        SELECT s.sq_id,
               {_tile('i.lon', '180.0', '+', 360.0, n)} AS tx,
               {_tile('i.lat', '90.0', '-', 180.0, n)} AS ty,
               COUNT(*) AS n
        FROM {_src(images)} i JOIN {_src(squares)} s
          ON i.lon BETWEEN s.minx AND s.maxx AND i.lat BETWEEN s.miny AND s.maxy
        GROUP BY ALL
        """
    ).fetchall()
    return {(a, b, c): d for a, b, c, d in rows}


def square_pairs(con, images: str, squares: str) -> tuple:
    """(pairs, xor of point phash, xor of sq_id) of point-in-square pairs."""
    return tuple(
        con.execute(
            f"""
            SELECT COUNT(*), COALESCE(BIT_XOR(i.phash), 0), COALESCE(BIT_XOR(s.sq_id), 0)
            FROM {_src(images)} i JOIN {_src(squares)} s
              ON i.lon BETWEEN s.minx AND s.maxx AND i.lat BETWEEN s.miny AND s.maxy
            """
        ).fetchone()
    )


def dense_pairs(con, images: str, dense: str) -> tuple:
    """(pairs, xor phash, xor did) of point pairs within DENSE_DISTANCE,
    through a DENSE_DISTANCE grid with a 3x3 neighbourhood."""
    d = DENSE_DISTANCE
    d2 = d**2
    return tuple(
        con.execute(
            f"""
            WITH r AS (
              SELECT did, dlon, dlat,
                     FLOOR(dlon / {d})::BIGINT + ox AS bx,
                     FLOOR(dlat / {d})::BIGINT + oy AS by
              FROM {_src(dense)},
                   (SELECT UNNEST([-1, 0, 1]) AS ox),
                   (SELECT UNNEST([-1, 0, 1]) AS oy)
            )
            SELECT COUNT(*), COALESCE(BIT_XOR(i.phash), 0), COALESCE(BIT_XOR(r.did), 0)
            FROM {_src(images)} i JOIN r
              ON FLOOR(i.lon / {d})::BIGINT = r.bx AND FLOOR(i.lat / {d})::BIGINT = r.by
            WHERE (i.lon - r.dlon) * (i.lon - r.dlon)
                + (i.lat - r.dlat) * (i.lat - r.dlat) <= {d2!r}
            """
        ).fetchone()
    )


def key_set(con, images: str, where: str) -> tuple:
    """(rows, xor phash) of the image rows matching ``where``."""
    return tuple(
        con.execute(
            f"SELECT COUNT(*), COALESCE(BIT_XOR(phash), 0) FROM {_src(images)} WHERE {where}"
        ).fetchone()
    )


def ids_where(con, images: str, where: str) -> set:
    return {
        r[0]
        for r in con.execute(
            f"SELECT image_id FROM {_src(images)} WHERE {where}"
        ).fetchall()
    }


def rows_where(con, images: str, cols: str, where: str) -> set:
    return set(
        con.execute(f"SELECT {cols} FROM {_src(images)} WHERE {where}").fetchall()
    )


def group_counts(con, images: str, where: str, by: str) -> dict:
    return dict(
        con.execute(
            f"SELECT {by}, COUNT(*) FROM {_src(images)} WHERE {where} GROUP BY {by}"
        ).fetchall()
    )


def square_counts(con, images: str, squares: str) -> dict:
    return dict(
        con.execute(
            f"""
            SELECT s.sq_id, COUNT(*)
            FROM {_src(images)} i JOIN {_src(squares)} s
              ON i.lon BETWEEN s.minx AND s.maxx AND i.lat BETWEEN s.miny AND s.maxy
            GROUP BY s.sq_id
            """
        ).fetchall()
    )


class PointsMirror:
    """A DuckDB copy of the DML table that replays each statement's
    effect, so every read-after-write answer has an independent
    expected value."""

    def __init__(self, con, clusters: str):
        self.con = con
        con.execute(
            f"CREATE TABLE pts AS SELECT pid, x, y FROM {_src(clusters)}"
        )

    def insert(self, rows) -> None:
        self.con.executemany("INSERT INTO pts VALUES (?, ?, ?)", rows)

    def move(self, ids, dx: float, dy: float) -> None:
        self.con.execute(
            f"UPDATE pts SET x = x + {dx!r}, y = y + {dy!r} "
            f"WHERE pid IN ({', '.join(map(str, ids))})"
        )

    def delete(self, ids) -> None:
        self.con.execute(f"DELETE FROM pts WHERE pid IN ({', '.join(map(str, ids))})")

    def upsert(self, rows) -> None:
        self.delete([r[0] for r in rows])
        self.insert(rows)

    def summary(self) -> tuple:
        n, h, sx = self.con.execute(
            "SELECT COUNT(*), COALESCE(BIT_XOR(pid), 0), COALESCE(SUM(x), 0) FROM pts"
        ).fetchone()
        return int(n), int(h), float(sx)

    def rows(self, ids) -> list:
        return self.con.execute(
            f"SELECT pid, x, y FROM pts WHERE pid IN ({', '.join(map(str, ids))})"
        ).fetchall()

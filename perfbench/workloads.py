"""The benchmark workloads.

Each workload is a single-client closed loop: the next op starts when
the previous one has returned and its answer has been checked. A
workload provides

- ``gen_inputs()``: write its seeded inputs (the benchmark's own work,
  not timed as set-up);
- ``setup(rep)``: build its tables and views through the engine; run
  ``setup_reps`` times to time set-up, the last build is the one used;
- ``expect()``: the DuckDB answers the ops are checked against;
- ``cycle(k)``: the k-th pass of its op classes, as
  ``(class, op, check)`` triples; only ``op`` is timed;
- ``warm(on)``: switch the cycle to (or back from) its warm-up inputs;
- ``prepare_trace()`` / ``traced_cycle(k, tr)`` / ``finish_trace(tr)``:
  the same work, one layer at a time, each layer's output materialized
  before the next layer's call and every call run under the job group
  ``<workload>.<layer>[.<part>]``;
- ``layer_metrics(groups, layers, tr)``: its per-layer figures from the
  parsed event log.

The engine is driven only through its public entry points:
``join.spatial_join``, ``tiles.assign_tiles``, ``Engine.sql`` /
``create_table``, ``io.layout.write_geo_table`` / ``add_cell``,
``geom.kernel.relate_points_to_wkb`` and ``ops.cluster.dbscan`` /
``dbscan_incremental``.
"""

from __future__ import annotations

import glob
import os
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

import gen
import oracle

SIZES = {  # rows at scale 1.0
    "join": {"images": 50_000, "dense": 15_000},
    "sql": {"images": 50_000, "points": 10_000, "batch": 20},
}
IMAGE_FILES = 8
GEO_FILES = 32
HOT_SALT = 8
EPS, MIN_PTS = 0.5, 5
GEOM_SAMPLE = 20_000
WARM_SHARE = 10  # join warm-up inputs hold 1/WARM_SHARE of the image rows


def _scaled(n: int, scale: float, floor: int = 1) -> int:
    return max(floor, int(round(n * scale)))


class Tracer:
    """Job-group scopes plus driver wall time per layer call."""

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.wall: dict[str, list[float]] = defaultdict(list)

    @contextmanager
    def layer(self, name: str):
        self.sc.setJobGroup(f"{self.workload}.{name}", name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name].append(time.perf_counter() - t0)
            self.sc.setJobGroup(f"{self.workload}~other", "benchmark")

    def calls(self, layer: str) -> int:
        return sum(len(v) for k, v in self.wall.items() if k.split(".")[0] == layer)

    def total(self, prefix: str) -> float:
        return sum(
            sum(v) for k, v in self.wall.items() if k == prefix or k.startswith(prefix + ".")
        )


def materialize(df):
    """Pin a layer's output so the next layer starts from it."""
    out = df.localCheckpoint(eager=True)
    return out, out.count()


def _op(layers, group: str, kind: str, metric: str) -> float:
    return layers.get(group, {}).get("ops", {}).get((kind, metric), 0.0)


class Workload:
    name = ""
    classes: tuple[str, ...] = ()
    setup_reps = 3

    def __init__(self, spark, run_dir: str, seed: int, scale: float):
        self.spark = spark
        self.dir = run_dir
        self.seed = seed
        self.scale = scale
        self.input_rows = 0
        self.geom_pairs_per_s = 0.0
        self.gates: dict[str, bool] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def finish_trace(self, tr: Tracer) -> None:
        pass

    def warm(self, on: bool) -> None:
        pass

    # ------------------------------------------------------ shared pieces

    def _geom_rate(self, pts_df) -> None:
        """In-driver refine of a sample of this workload's own candidate
        pairs (point x square whose padded box holds the point) through
        ``geom.kernel.relate_points_to_wkb``, checked against the box test."""
        from geomesa_sql_spark.geom.kernel import relate_points_to_wkb

        sample = pts_df.select("lon", "lat").limit(GEOM_SAMPLE).toPandas()
        sq = self.squares_pdf
        x, y = sample["lon"].to_numpy(), sample["lat"].to_numpy()
        pad = 1.0
        hit = (
            (x[:, None] >= sq["minx"].to_numpy() - pad)
            & (x[:, None] <= sq["maxx"].to_numpy() + pad)
            & (y[:, None] >= sq["miny"].to_numpy() - pad)
            & (y[:, None] <= sq["maxy"].to_numpy() + pad)
        )
        pi, si = np.nonzero(hit)
        if len(pi) == 0:
            return
        wkbs = [sq["poly"].iat[j] for j in si]
        t0 = time.perf_counter()
        got = relate_points_to_wkb(x[pi], y[pi], wkbs, "intersects")
        dt = time.perf_counter() - t0
        want = (
            (x[pi] >= sq["minx"].to_numpy()[si])
            & (x[pi] <= sq["maxx"].to_numpy()[si])
            & (y[pi] >= sq["miny"].to_numpy()[si])
            & (y[pi] <= sq["maxy"].to_numpy()[si])
        )
        self.gates["geom_refine"] = bool(np.array_equal(got, want))
        self.geom_pairs_per_s = len(pi) / dt if dt > 0 else 0.0

    def _load_squares(self) -> None:
        self.squares = self.spark.read.parquet(self.path("squares"))
        self.squares_pdf = self.squares.toPandas()


# ----------------------------------------------------------------- joins


class Join(Workload):
    """The spatial-join pipelines over one seeded image table:

    - ``tiles``: the headline pipeline, a broadcast point-in-square join
      -> zoom-8 tile assignment -> per-(square, tile) rollup;
    - ``selective``: the same point-in-square join through the
      repartition-by-cell path with hot-cell salting (the squares cover
      about 4% of the globe);
    - ``dense``: a point-to-point DWithin join on the same path against
      points spread over the whole globe.
    """

    name = "join"
    classes = ("tiles", "selective", "dense")
    cycle_ops = 3

    def gen_inputs(self) -> None:
        n = _scaled(SIZES[self.name]["images"], self.scale, 1000)
        m = _scaled(SIZES[self.name]["dense"], self.scale, 150)
        self.rows = {"images": n, "warm_images": max(1000, n // WARM_SHARE)}
        for name, rows in self.rows.items():
            gen.images(self.seed, rows, self.path(name), IMAGE_FILES)
        gen.squares(self.seed, self.path("squares"))
        gen.dense(self.seed, m, self.path("dense"), 4)
        self.input_rows = n
        self.warm(False)

    def warm(self, on: bool) -> None:
        """The warm-up cycle runs every op on a tenth of the image rows:
        the same plans, codegen and Python workers at a tenth of the cost."""
        self.images = "warm_images" if on else "images"
        # salting threshold scaled to the input: each of the 90 hot
        # points holds ~rows/900 rows, so they count as hot cells (on the
        # warm-up input, the points holding more than 5 rows)
        self.hot = max(5, self.rows[self.images] // 2000)

    def setup(self, rep: int) -> None:
        self._load_squares()
        self.dense = self.spark.read.parquet(self.path("dense"))

    def expect(self) -> None:
        con = oracle.connect()
        sq = self.path("squares")
        self.wants = {}
        for name in self.rows:
            img = self.path(name)
            self.wants[name] = {
                "tiles": oracle.tile_rollup(con, img, sq),
                "selective": oracle.square_pairs(con, img, sq),
                "dense": oracle.dense_pairs(con, img, self.path("dense")),
            }
        con.close()

    @property
    def want(self) -> dict:
        return self.wants[self.images]

    def _points(self):
        return self.spark.read.parquet(self.path(self.images)).select(
            "image_id", "lon", "lat", "phash"
        )

    def _join(self, cls: str, pts):
        """(joined frame, right key) of one op class's spatial join."""
        from geomesa_sql_spark.join import spatial_join
        from geomesa_sql_spark.join.spatial import point_side, wkb_side

        if cls == "dense":
            return spatial_join(
                pts, self.dense, point_side("lon", "lat"), point_side("dlon", "dlat"),
                predicate="dwithin", distance=oracle.DENSE_DISTANCE, broadcast=False,
                salt=HOT_SALT, hot_cell_threshold=self.hot,
            ), "did"
        kw = (
            {"broadcast": True}
            if cls == "tiles"
            else {"broadcast": False, "salt": HOT_SALT, "hot_cell_threshold": self.hot}
        )
        return spatial_join(
            pts, self.squares.select("sq_id", "poly"), point_side("lon", "lat"),
            wkb_side("poly"), predicate="intersects", **kw,
        ), "sq_id"

    @staticmethod
    def _rollup(joined):
        from geomesa_sql_spark.tiles import assign_tiles

        tiled = assign_tiles(joined, zoom=oracle.TILE_ZOOM)
        rows = tiled.groupBy("sq_id", "tile_x", "tile_y").count().collect()
        return {(r[0], r[1], r[2]): r[3] for r in rows}

    @staticmethod
    def _summary(joined, key: str):
        from pyspark.sql import functions as F

        r = joined.agg(
            F.count(F.lit(1)),
            F.coalesce(F.bit_xor("phash"), F.lit(0)),
            F.coalesce(F.bit_xor(key), F.lit(0)),
        ).collect()[0]
        return tuple(int(v) for v in r)

    def cycle(self, k: int):
        out = []
        for cls in self.classes:
            def op(cls=cls):
                joined, key = self._join(cls, self._points())
                return self._rollup(joined) if cls == "tiles" else self._summary(joined, key)

            out.append((cls, op, lambda got, cls=cls: got == self.want[cls]))
        return out

    def prepare_trace(self) -> None:
        self._geom_rate(self._points())

    def traced_cycle(self, k: int, tr: Tracer) -> bool:
        """One layer at a time: the point read, the cell encode, each op
        class's join (with its summary; the broadcast join's output is
        materialized) and the tile rollup."""
        from geomesa_sql_spark.io.layout import add_cell

        with tr.layer("io"):
            pts, _ = materialize(self._points())
        with tr.layer("cells"):
            materialize(add_cell(pts))
        ok = True
        self.pairs = 0
        for cls in self.classes:
            with tr.layer(f"join.{cls}"):
                joined, key = self._join(cls, pts)
                if cls == "tiles":
                    joined, n = materialize(joined)
                else:
                    got = self._summary(joined, key)
                    n = got[0]
            self.pairs += n
            if cls == "tiles":
                with tr.layer("tiles"):
                    ok &= self._rollup(joined) == self.want[cls]
            else:
                ok &= got == self.want[cls]
        return ok

    def layer_metrics(self, groups, layers, tr) -> dict:
        """Figures per call into the layer (the join layer is called
        once per op class in each traced cycle)."""
        cycles, joins = tr.calls("io"), tr.calls("join")
        join = layers.get("join", {})
        candidates = _op(layers, "join", "join", "number of output rows")
        gen_rows = _op(layers, "join", "generate", "number of output rows")
        return {
            "io.scan_s": tr.total("io") / cycles,
            "io.bytes_read": layers.get("io", {}).get("input_bytes", 0) / cycles,
            "io.files_read": _op(layers, "io", "scan", "number of files read") / cycles,
            "cells.encode_s": tr.total("cells") / cycles,
            "cells.cells_per_row": gen_rows / (self.input_rows * joins),
            "join.s": tr.total("join") / joins,
            "join.candidates": candidates / joins,
            "join.pairs": self.pairs * cycles / joins,
            "join.refine_hit_ratio": self.pairs * cycles / candidates if candidates else 0.0,
            "join.broadcast_bytes": _op(layers, "join", "bcast", "data size") / joins,
            "join.shuffle_write_bytes": join.get("shuffle_write_bytes", 0) / joins,
            "join.shuffle_read_bytes": join.get("shuffle_read_bytes", 0) / joins,
            "join.task_skew": join.get("task_skew", 0.0),
            "join.py_bytes_to": _op(layers, "join", "python", "data sent to Python workers")
            / joins,
            "geom.refine_pairs_per_s": self.geom_pairs_per_s,
            "tiles.s": tr.total("tiles") / cycles,
            "tiles.py_bytes_to": _op(layers, "tiles", "python", "data sent to Python workers")
            / cycles,
        }


# ------------------------------------------------------------------- SQL


def _box_wkt(x0, y0, x1, y1) -> str:
    return f"POLYGON(({x0!r} {y0!r}, {x1!r} {y0!r}, {x1!r} {y1!r}, {x0!r} {y1!r}, {x0!r} {y0!r}))"


class Sql(Workload):
    """The SQL surface, reads beside writes on the same ``io`` layer, in
    one closed loop:

    - a fixed cycle of Engine.sql SELECTs over a cell-clustered geo
      table (bbox, radius, two lookups, a region rollup and a SQL-text
      spatial join the engine routes to ``spatial_join``);
    - DML through Engine.sql on a snapshot table of clustered points,
      each statement followed by a read-after-write COUNT. The traced
      run also maintains DBSCAN clusters incrementally after every cycle
      of four statements.
    """

    name = "sql"
    # one build: three took 26 s of a 70 s run (the first, cold, 16 s),
    # more than the run budget leaves for set-up repeats
    setup_reps = 1
    reads = ("bbox", "radius", "lookup", "lookup_limit", "region", "sqljoin")
    verbs = ("insert", "update", "delete", "merge")
    classes = reads + verbs + ("count",)
    cycle_ops = len(reads) + 2 * len(verbs)  # each statement is followed by a COUNT
    N_PARAMS = 6  # distinct SELECT parameter sets, cycled

    def gen_inputs(self) -> None:
        n = _scaled(SIZES[self.name]["images"], self.scale, 1000)
        k = _scaled(SIZES[self.name]["points"], self.scale, 500)
        gen.images(self.seed, n, self.path("images"), IMAGE_FILES)
        gen.squares(self.seed, self.path("squares"))
        gen.clusters(self.seed, k, self.path("clusters"), 4)
        self.n_images, self.n_points = n, k
        self.input_rows = n + k

    def setup(self, rep: int) -> None:
        from geomesa_sql_spark.engine import Engine
        from geomesa_sql_spark.io.layout import write_geo_table

        self.geo = self.path(f"geo{rep}")
        write_geo_table(
            self.spark.read.parquet(self.path("images")), self.geo, partitions=GEO_FILES
        )
        self._load_squares()
        self.engine = Engine(self.spark)
        self.engine.register_table("images", self.geo)
        self.engine.register_view("squares", self.squares.select("sq_id", "poly"))
        self.dml = Engine(self.spark, fid_col="pid")
        self.dml.create_table(
            "pts", self.path(f"pts{rep}"), self.spark.read.parquet(self.path("clusters"))
        )
        rng = np.random.default_rng([self.seed, 7])
        n = self.n_images
        self.params = [
            {
                "bbox": tuple(rng.uniform([-170.0, -70.0], [168.0, 68.0])),
                "radius": tuple(rng.uniform([-170.0, -70.0], [170.0, 70.0])),
                "ids": sorted({int(i) for i in rng.integers(0, n, 20)}),
                "word": gen.WORDS[int(rng.integers(0, len(gen.WORDS)))],
                "region": tuple(rng.uniform([-170.0, -70.0], [150.0, 50.0])),
            }
            for _ in range(self.N_PARAMS)
        ]
        self.batch = max(2, int(SIZES[self.name]["batch"] * min(1.0, self.scale * 4)))
        self.live = np.arange(self.n_points, dtype=np.int64)
        self.next_id = self.n_points
        self.rng = np.random.default_rng([self.seed, 8])

    def _queries(self, k: int) -> dict[str, str]:
        p = self.params[k % self.N_PARAMS]
        bx, by = p["bbox"]
        rx, ry = p["radius"]
        gx, gy = p["region"]
        ids = ", ".join(f"'#{i}'" for i in p["ids"])
        return {
            "bbox": "SELECT image_id, phash FROM images WHERE ST_Intersects("
            f"ST_MakePoint(lon, lat), ST_GeomFromText('{_box_wkt(bx, by, bx + 2.0, by + 2.0)}'))",
            "radius": "SELECT image_id, phash FROM images WHERE ST_DWithin("
            f"ST_MakePoint(lon, lat), ST_GeomFromText('POINT({rx!r} {ry!r})'), 1.5)",
            "lookup": f"SELECT image_id, caption FROM images WHERE image_id IN ({ids})",
            "lookup_limit": "SELECT image_id FROM images WHERE fmt = 'png' AND "
            f"caption LIKE '%{p['word']}%' AND lat > 0 LIMIT 10",
            "region": "SELECT fmt, COUNT(*) AS n FROM images WHERE ST_Within("
            f"ST_MakePoint(lon, lat), ST_GeomFromText('{_box_wkt(gx, gy, gx + 20.0, gy + 20.0)}'))"
            " GROUP BY fmt",
            "sqljoin": "SELECT s.sq_id, COUNT(*) AS n FROM images i JOIN squares s "
            "ON ST_Intersects(ST_MakePoint(i.lon, i.lat), s.poly) GROUP BY s.sq_id",
        }

    def expect(self) -> None:
        self.con = oracle.connect()
        con, img = self.con, self.path("images")
        self.want = []
        for p in self.params:
            bx, by = p["bbox"]
            rx, ry = p["radius"]
            gx, gy = p["region"]
            ids = ", ".join(f"'#{i}'" for i in p["ids"])
            self.want.append(
                {
                    "bbox": oracle.key_set(
                        con, img,
                        f"lon BETWEEN {bx!r} AND {bx + 2.0!r} AND lat BETWEEN {by!r} AND {by + 2.0!r}",
                    ),
                    "radius": oracle.key_set(
                        con, img, f"SQRT((lon - {rx!r})^2 + (lat - {ry!r})^2) <= 1.5"
                    ),
                    "lookup": oracle.rows_where(
                        con, img, "image_id, caption", f"image_id IN ({ids})"
                    ),
                    "lookup_limit": oracle.ids_where(
                        con, img,
                        f"fmt = 'png' AND caption LIKE '%{p['word']}%' AND lat > 0",
                    ),
                    "region": oracle.group_counts(
                        con, img,
                        f"lon > {gx!r} AND lon < {gx + 20.0!r} AND lat > {gy!r} AND lat < {gy + 20.0!r}",
                        "fmt",
                    ),
                }
            )
        self.want_join = oracle.square_counts(con, img, self.path("squares"))
        self.mirror = oracle.PointsMirror(con, self.path("clusters"))

    def _check(self, cls: str, k: int, rows) -> bool:
        if cls == "sqljoin":
            return {r[0]: r[1] for r in rows} == self.want_join
        want = self.want[k % self.N_PARAMS][cls]
        if cls in ("bbox", "radius"):
            h = 0
            for r in rows:
                h ^= r[1]
            return (len(rows), h) == want
        if cls == "lookup":
            return {(r[0], r[1]) for r in rows} == want
        if cls == "lookup_limit":
            ids = [r[0] for r in rows]
            return len(ids) == min(10, len(want)) and set(ids) <= want
        return {r[0]: r[1] for r in rows} == want

    @staticmethod
    def _routed(df) -> bool:
        plan = df._jdf.queryExecution().executedPlan().toString()
        return "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan

    # ------------------------------------------------------------ DML

    def _pick(self, m: int) -> list[int]:
        return sorted(int(i) for i in self.rng.choice(self.live, m, replace=False))

    def _new_rows(self, m: int) -> list[tuple]:
        pts = gen.cluster_points(self.seed, m, self.next_id)
        self.next_id += m
        return [(int(i), float(x), float(y)) for i, x, y in zip(pts["pid"], pts["x"], pts["y"])]

    @staticmethod
    def _values(rows) -> str:
        return ", ".join(f"({i}L, {x!r}D, {y!r}D)" for i, x, y in rows)

    def _statement(self, verb: str):
        """(SQL text, mirror update, DBSCAN delta rows) of the next
        statement; ids and coordinates come from the seeded stream, and
        the live id set follows the statement."""
        b = self.batch
        if verb == "insert":
            rows = self._new_rows(b)
            self._apply([r[0] for r in rows], [])
            return (
                f"INSERT INTO pts VALUES {self._values(rows)}",
                lambda: self.mirror.insert(rows),
                rows,
            )
        if verb == "update":
            ids = self._pick(b)
            old = self.mirror.rows(ids)
            moved = [(i, x + 0.25, y - 0.25) for i, x, y in old]
            return (
                "UPDATE pts SET x = x + 0.25, y = y - 0.25 "
                f"WHERE pid IN ({', '.join(map(str, ids))})",
                lambda: self.mirror.move(ids, 0.25, -0.25),
                old + moved,
            )
        if verb == "delete":
            ids = self._pick(2 * b)
            old = self.mirror.rows(ids)
            self._apply([], ids)
            return (
                f"DELETE FROM pts WHERE pid IN ({', '.join(map(str, ids))})",
                lambda: self.mirror.delete(ids),
                old,
            )
        ids = self._pick(b)
        old = self.mirror.rows(ids)
        upd = [(i, x - 0.25, y + 0.25) for i, x, y in old]
        rows = upd + self._new_rows(b)
        self._apply([r[0] for r in rows[b:]], [])
        return (
            f"MERGE INTO pts USING (SELECT * FROM VALUES {self._values(rows)} "
            "AS t(pid, x, y)) ON pid",
            lambda: self.mirror.upsert(rows),
            old + rows,
        )

    def _affected(self, verb: str) -> int:
        """Rows a statement must report: DELETE removes 2 batches, MERGE
        updates one and inserts one."""
        return self.batch * (2 if verb in ("delete", "merge") else 1)

    def _apply(self, added, removed) -> None:
        if added:
            self.live = np.concatenate([self.live, np.asarray(added, np.int64)])
        if removed:
            self.live = np.setdiff1d(self.live, np.asarray(removed, np.int64))

    COUNT_SQL = (
        "SELECT COUNT(*) AS n, COALESCE(BIT_XOR(pid), 0) AS h, "
        "COALESCE(SUM(x), 0D) AS sx FROM pts"
    )

    def _count(self):
        r = self.dml.sql(self.COUNT_SQL).collect()[0]
        return int(r[0]), int(r[1]), float(r[2])

    def _count_ok(self, got) -> bool:
        n, h, sx = self.mirror.summary()
        return got[:2] == (n, h) and abs(got[2] - sx) <= 1e-9 * max(1.0, abs(sx))

    # ----------------------------------------------------------- loops

    def cycle(self, k: int):
        """A generator: each statement is drawn after the previous op's
        check ran, so ids and old coordinates follow the live table."""
        for cls, q in self._queries(k).items():
            def op(q=q):
                df = self.engine.sql(q)
                return df, df.collect()

            def check(got, cls=cls, k=k):
                df, rows = got
                return (cls != "sqljoin" or self._routed(df)) and self._check(cls, k, rows)

            yield cls, op, check
        for verb in self.verbs:
            sql, mirror, _ = self._statement(verb)
            want = self._affected(verb)

            def check(n, mirror=mirror, want=want):
                mirror()
                return n == want

            yield verb, lambda sql=sql: int(self.dml.sql(sql).collect()[0][0]), check
            yield "count", self._count, self._count_ok

    def prepare_trace(self) -> None:
        from geomesa_sql_spark.ops.cluster import dbscan

        self._geom_rate(self.spark.read.parquet(self.path("images")))
        self.result_rows: dict[str, int] = defaultdict(int)
        self.routed: list[bool] = []
        self.spark.sparkContext.setJobGroup(f"{self.name}~build", "initial dbscan")
        _, self.state = dbscan(
            self.dml.df("pts"), "pid", "x", "y", EPS, MIN_PTS, return_state=True
        )
        self.dml_rows = 0

    def traced_cycle(self, k: int, tr: Tracer) -> bool:
        """The SELECT cycle, then the four statements with their
        read-after-write COUNTs, then one ``dbscan_incremental`` over the
        four statements' combined delta (one refresh per statement would
        make a traced run too long)."""
        from pyspark.sql import functions as F

        from geomesa_sql_spark.ops.cluster import dbscan_incremental

        ok = True
        for cls, q in self._queries(k).items():
            with tr.layer(f"engine.{cls}"):
                df = self.engine.sql(q)
            with tr.layer(f"io.{cls}"):
                rows = df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            if cls == "sqljoin":
                self.routed.append(self._routed(df))
                ok &= self.routed[-1]
            elif cls in ("bbox", "radius", "region"):
                self.routed.append("GreaterThanOrEqual(lon" in plan or "GreaterThan(lon" in plan)
            self.result_rows[cls] += len(rows)
            ok &= self._check(cls, k, rows)
        deltas: list[tuple] = []
        for verb in self.verbs:
            sql, mirror, delta = self._statement(verb)
            with tr.layer("io.dml"):
                n = int(self.dml.sql(sql).collect()[0][0])
            mirror()
            ok &= n == self._affected(verb)
            self.dml_rows += n
            deltas += delta
            with tr.layer("engine.count"):
                df = self.dml.sql(self.COUNT_SQL)
            with tr.layer("io.count"):
                r = df.collect()[0]
            ok &= self._count_ok((int(r[0]), int(r[1]), float(r[2])))
        with tr.layer("ops"):
            delta_df = self.spark.createDataFrame(deltas, "pid long, x double, y double")
            res, self.state = dbscan_incremental(
                self.dml.df("pts"), delta_df, self.state, "pid", "x", "y", EPS, MIN_PTS
            )
            res.agg(F.count(F.lit(1)), F.sum("cluster")).collect()
            self.result = res
        return ok

    def finish_trace(self, tr: Tracer) -> None:
        """Incremental labels must partition the points exactly as a full
        DBSCAN of the final table does."""
        from geomesa_sql_spark.ops.cluster import dbscan

        self.spark.sparkContext.setJobGroup(f"{self.name}~check", "full dbscan")
        full = dbscan(self.dml.df("pts"), "pid", "x", "y", EPS, MIN_PTS).collect()
        inc = self.result.collect()

        def parts(rows):
            by = defaultdict(set)
            for r in rows:
                by[(r["cluster"] if r["cluster"] >= 0 else ("noise",))].add(r["id"])
            return {frozenset(v) for v in by.values()}

        self.gates["dbscan_incremental_eq_full"] = parts(full) == parts(inc)
        files = [f.removeprefix("file:") for f in self.dml.df("pts").inputFiles()]
        self.files_live = len(files), sum(os.path.getsize(f) for f in files)

    def _layout_row_groups(self) -> int:
        """Parquet row groups of the geo table as ``write_geo_table``
        laid it out (a layout statistic read from the file footers)."""
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(f).metadata.num_row_groups
            for f in glob.glob(os.path.join(self.geo, "*.parquet"))
        )

    def layer_metrics(self, groups, layers, tr) -> dict:
        cycles = len(tr.wall["io.bbox"])
        n_dml = len(tr.wall["io.dml"])
        refreshes = tr.calls("ops")

        def total(layer: str, key, classes) -> float:
            recs = (groups.get(f"{self.name}.{layer}.{c}", {}) for c in classes)
            if isinstance(key, tuple):
                return sum(r.get("ops", {}).get(key, 0.0) for r in recs)
            return sum(r.get(key, 0) for r in recs)

        def py(metric: str) -> float:
            key = ("python", metric)
            return (total("io", key, self.reads) + total("engine", key, self.reads)) / cycles

        # rows the parquet scan delivered to the bbox/radius queries: what
        # is left after row-group (and page) skipping, since row-level
        # parquet filtering is off
        scan_rows = total("io", ("scan", "number of output rows"), ("bbox", "radius"))
        res_rows = self.result_rows["bbox"] + self.result_rows["radius"]
        files, live_bytes = self.files_live
        changed_bytes = self.dml_rows * live_bytes / len(self.live)
        dml = groups.get(f"{self.name}.io.dml", {})
        ops = layers.get("ops", {})
        return {
            "io.scan_s": sum(tr.total(f"io.{c}") for c in self.reads) / (cycles * len(self.reads)),
            "io.bytes_read": total("io", "input_bytes", self.reads) / cycles,
            "io.files_read": total("io", ("scan", "number of files read"), self.reads) / cycles,
            "io.rows_read": scan_rows / (2 * cycles),
            "io.layout_row_groups": self._layout_row_groups(),
            "io.commit_s": tr.total("io.dml") / n_dml,
            "io.bytes_written": dml.get("output_bytes", 0) / n_dml,
            "io.write_amp": dml.get("output_bytes", 0) / changed_bytes,
            "io.files_live": files,
            "plan.prune_ratio": scan_rows / (2 * cycles * self.n_images),
            "plan.rows_scanned_per_row": scan_rows / res_rows if res_rows else 0.0,
            "engine.plan_s": tr.total("engine") / tr.calls("engine"),
            "engine.routed_frac": sum(self.routed) / len(self.routed),
            "functions.udf_rows": py("number of output rows"),
            "functions.py_bytes_to": py("data sent to Python workers"),
            "functions.py_bytes_from": py("data returned from Python workers"),
            "geom.refine_pairs_per_s": self.geom_pairs_per_s,
            "ops.refresh_s": tr.total("ops") / refreshes,
            "ops.jobs": ops.get("jobs", 0) / refreshes,
            "ops.stages": ops.get("stages", 0) / refreshes,
        }


WORKLOADS = {w.name: w for w in (Join, Sql)}

"""The benchmark's workloads. Each is one client in a closed loop: the next
op starts when the previous one returned.

A workload has
  prepare()        cached input generation (not timed, not set-up),
  setup()          the program's set-up (tables, pyramids) the ops run on,
  warmup_ops       ops (with their reads) run before timing, billed to set-up,
  op(i)            the timed write side of op i; returns work units,
  read(i)          the viewport read after it (timed separately),
  check()          output checks after timing; returns problems found.
"""

from __future__ import annotations

import json
import os

from perfbench import inputs as I

BASE_LEVEL = 16  # tiling.DEFAULT_BASE_LEVEL, the level every table here uses


def _xor_count(df, cols: list[str]) -> tuple[int, int]:
    """(rows, bit_xor of xxhash64 over cols) — an order-free content hash."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64(*[F.expr(c) for c in cols])).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


class Workload:
    name = ""
    warmup_ops = 0
    min_ops = 3  # also the window the per-layer counts are taken over
    # one viewport read is a single short job; several per op give the
    # read median enough samples to be steady
    reads_per_op = 5
    max_ops = None  # ops the inputs hold, where they are finite
    unit = ""

    def __init__(self, cache: str, work: str, seed: int, tracer):
        self.cache, self.work, self.seed, self.tr = cache, work, seed, tracer
        self.spark = None

    def tables(self) -> list[str]:
        """Icepick tables whose live files / versions a traced op reports."""
        return []


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------


class Build(Workload):
    """Each op ingests one image+caption batch with real payloads (a
    seeded share corrupt) into a fresh chunk table, re-decodes and
    verifies the result, then reads the viewport from it."""

    name, unit = "build", "images"
    # the JVM keeps getting faster over the first few ingests (measured:
    # the first timed op ~1.3x the third without these warm-up ops)
    warmup_ops, min_ops = 2, 3
    batches, rows, bad_share = 3, 6000, 0.01

    def prepare(self):
        self.dir = I.images_for_seed(
            self.cache, self.seed, self.batches, self.rows, self.batches * self.rows,
            self.bad_share,
        )
        with open(os.path.join(self.dir, "bad.json")) as f:
            self.bad = json.load(f)
        self.results: dict[int, dict] = {}
        # every op writes a fresh table; all stay until the run's work
        # directory is removed at exit, so no op times deleting one
        self.last = None

    def _batch(self, i: int) -> str:
        return os.path.join(self.dir, f"batch-{i % self.batches:03d}.parquet")

    def _table(self, i: int) -> str:
        return os.path.join(self.work, f"tbl-{i}")

    def setup(self):
        # set-up of this workload is one ingest: cold Python workers, UDF
        # shipping and codegen are what the first ingest pays. It takes
        # batch 0 and the warm-ups batches 2 and 1, so every batch has been
        # read once before timing
        self.op(-3)
        self.read(-3)

    def op(self, i: int) -> int:
        from pyspark.sql import functions as F

        from coords_spark.operators import images, ingest

        spark = self.spark
        path = self.last = self._table(i)
        table, split = ingest.ingest_images(spark.read.parquet(self._batch(i)), path)
        with self.tr.span("bench.verify") as rec:
            stored = spark.read.parquet(*table.data_paths()).select(
                "image_id", "bytes", "fmt", "w", "h", "phash", "caption",
                F.col("chunk_id").alias("stored_chunk"),
            )
            chk = images.with_decode_check_chunk(stored, split, BASE_LEVEL)
            r = chk.agg(
                F.count("*").alias("n"),
                F.sort_array(F.collect_list(F.when(~F.col("decode_ok"), F.col("image_id")))).alias("bad"),
                F.sum((F.col("chunk_id") != F.col("stored_chunk")).cast("int")).alias("moved"),
                F.bit_xor(F.xxhash64("image_id", "caption")).alias("cap_h"),
                F.bit_xor(F.xxhash64("image_id", "stored_chunk", "lat", "lon", "cell")).alias("h"),
            ).collect()[0]
            rec["counts"]["rows"] = int(r["n"])
            rec["counts"]["flagged"] = len(r["bad"])
        self.results[i] = {
            "n": int(r["n"]), "bad": list(r["bad"]), "moved": int(r["moved"] or 0),
            "cap_h": int(r["cap_h"]), "h": int(r["h"]),
        }
        want = self.bad[f"{i % self.batches:03d}"]
        if r["n"] != self.rows or list(r["bad"]) != want or (r["moved"] or 0):
            raise AssertionError(
                f"op {i}: rows {r['n']}/{self.rows}, flagged {len(r['bad'])}/{len(want)}, "
                f"misplaced {r['moved']}"
            )
        return self.rows

    def read(self, i: int) -> None:
        from coords_spark.operators import ingest

        with self.tr.span("bench.read"):
            ingest.render_read(self.spark, self._table(i), I.VIEW_BBOX, zoom=12).groupBy(
                "chunk_id"
            ).count().write.mode("overwrite").format("noop").save()

    def tables(self) -> list[str]:
        return [] if self.last is None else [self.last]

    def check(self) -> list[str]:
        """Captions of every ingested batch equal the input's; the placement
        hash of a batch repeats across ops and across runs of the seed."""
        problems = []
        spark = self.spark
        seen: dict[int, int] = {}
        for i, res in sorted(self.results.items()):
            b = i % self.batches
            n, h = _xor_count(spark.read.parquet(self._batch(i)), ["image_id", "caption"])
            if (n, h) != (res["n"], res["cap_h"]):
                problems.append(f"op {i}: captions differ from the input")
            if seen.setdefault(b, res["h"]) != res["h"]:
                problems.append(f"op {i}: content hash differs from an earlier op on batch {b}")
        rec_path = os.path.join(self.dir, "content-hash.json")
        mine = {str(b): h for b, h in sorted(seen.items())}
        if os.path.exists(rec_path):
            with open(rec_path) as f:
                prev = json.load(f)
            for b, h in mine.items():
                if b in prev and prev[b] != h:
                    problems.append(f"batch {b}: content hash differs from an earlier run")
            mine = {**prev, **mine}
        with open(rec_path, "w") as f:
            json.dump(mine, f)
        return problems


# ---------------------------------------------------------------------------
# minutely
# ---------------------------------------------------------------------------

MEMBER_REFS = "transform(filter(members, m -> m.mtype = 1), m -> m.ref)"
STORE_COLS = {
    "nodes": ["id", "version", "lat", "lon", "to_json(tags)"],
    "ways": ["id", "version", "to_json(refs)", "to_json(tags)"],
    "rels": ["id", "version", "to_json(members)", "to_json(tags)"],
}
WAY_COLS = ["way_id", "chunk_id", "cell", "to_json(pts)"]
REL_COLS = ["relation_id", "poly_idx", "chunk_id", "cell", "to_json(outer)", "to_json(inners)"]


class Minutely(Workload):
    """A 25 536-node world with ways, multipolygon relations, both reverse
    indexes, way/relation chunk tables and a dirty log; each op is one
    apply_diff_batch call exactly as the stream_apply_diffs sink makes it,
    with maintain_tables after every 3rd batch — after the one warm-up
    batch, the two timed ops are one plain and one maintenance batch."""

    name, unit = "minutely", "batches"
    # a minutely read is ~0.1 s, half of it per-job cost: more samples
    warmup_ops, min_ops, reads_per_op = 1, 2, 10
    nodes_per_cluster, rings, moves, max_batches = 1500, 16, 24, 40
    maintenance_every = 3
    split_bytes = 64 * 1024

    def prepare(self):
        self.dir = I.minutely_inputs(
            self.cache, self.seed, self.nodes_per_cluster, self.rings,
            self.max_batches, self.moves,
        )
        self._boxes()

    @property
    def max_ops(self) -> int:
        return self.max_batches - self.warmup_ops

    def _boxes(self) -> None:
        """The read box after each batch: the bbox of its node rows (read
        here, so no timed read opens a diff file)."""
        import pyarrow.parquet as pq

        self.boxes = []
        for b in range(self.max_batches):
            d = pq.read_table(
                os.path.join(self.dir, "diffs", f"diff-{b:04d}.parquet"),
                columns=["kind", "lat", "lon"],
            ).to_pydict()
            lats = [a for k, a in zip(d["kind"], d["lat"]) if k == 0]
            lons = [a for k, a in zip(d["kind"], d["lon"]) if k == 0]
            self.boxes.append((min(lats), min(lons), max(lats), max(lons)))

    def _paths(self, base: str) -> dict[str, str]:
        names = ("nodes", "ways", "rels", "rix_nw", "rix_wr", "way_tbl", "rel_tbl", "dirty")
        return {k: os.path.join(base, k) for k in names}

    def build_world(self, base: str, world_dir: str, split=None):
        """Stores, reverse indexes and chunk tables of the world in
        world_dir (its nodes/ways/rels parquet), built from scratch."""
        from pyspark.sql import functions as F

        from coords_spark.operators import entity_store as ES
        from coords_spark.operators import geometry, resolve, tiling, update
        from coords_spark.operators import rindex as RI

        spark = self.spark
        p = self._paths(base)
        nodes = spark.read.parquet(os.path.join(world_dir, "nodes.parquet"))
        ways = spark.read.parquet(os.path.join(world_dir, "ways.parquet"))
        rels = spark.read.parquet(os.path.join(world_dir, "rels.parquet"))
        ES.build_entity_store(nodes, p["nodes"], id_shift=10)
        ES.build_entity_store(ways, p["ways"], id_shift=8)
        ES.build_entity_store(rels, p["rels"], id_shift=5)
        RI.build_rindex_store(spark, ways.select("id", "refs"), p["rix_nw"], id_shift=10)
        RI.build_rindex_store(
            spark, rels.select("id", F.expr(MEMBER_REFS).alias("refs")), p["rix_wr"],
            ref_col="way_id", ids_col="relation_ids", id_shift=8,
        )
        resolved = resolve.resolve_ways(ways, nodes).localCheckpoint()
        if split is None:
            g = geometry.with_geometry_cell(geometry.with_envelope(resolved)).withColumn(
                "nbytes", (F.size("pts") * 8 + 64).cast("long")
            )
            split = tiling.compute_split_set(g, max_bytes=self.split_bytes)
        update.build_way_chunk_table(spark, nodes, ways, p["way_tbl"], split, locator_id_shift=8)
        update.build_relation_chunk_table(
            spark, rels, resolved, p["rel_tbl"], split, locator_id_shift=5
        )
        return p

    def setup(self):
        base = os.path.join(self.work, "world")
        self.p = self.build_world(base, os.path.join(self.dir, "world"))
        self.applied = 0

    def op(self, i: int) -> int:
        from coords_spark.streaming import update_stream as US

        spark, p, b = self.spark, self.p, self.applied
        if b >= self.max_batches:
            raise RuntimeError("diff stream exhausted; raise max_batches")
        batch = spark.read.parquet(os.path.join(self.dir, "diffs", f"diff-{b:04d}.parquet"))
        US.apply_diff_batch(
            spark, batch, p["nodes"], p["ways"], p["rels"], p["way_tbl"], p["rel_tbl"],
            group=f"diff-{b}", dirty_table=p["dirty"], rindex_store=p["rix_nw"],
            rel_rindex_store=p["rix_wr"],
        )
        if (b + 1) % self.maintenance_every == 0:
            US.maintain_tables(
                spark,
                US._maintained_paths(
                    p["nodes"], p["ways"], p["rels"], p["way_tbl"], p["rel_tbl"],
                    p["dirty"], p["rix_nw"], p["rix_wr"],
                ),
                group=f"maint-{b}",
            )
        self.applied += 1
        return 1

    def read(self, i: int) -> None:
        """Viewport fetch of the last edited neighbourhood from the way-chunk
        table: cover ranges -> manifest pruning -> scan of those files."""
        from coords_spark.kernels import zcurve
        from coords_spark.operators import ingest
        from coords_spark.sources.icepick import IcepickTable

        with self.tr.span("bench.read"):
            g = ingest.bbox_grid(*self.boxes[self.applied - 1])
            ranges = zcurve.bbox_cover_ranges(*g, 12, max_level=BASE_LEVEL)
            paths = IcepickTable(self.p["way_tbl"]).data_paths_ranges(ranges)
            if paths:
                self.spark.read.parquet(*paths).select("way_id", "chunk_id").write.mode(
                    "overwrite"
                ).format("noop").save()

    def tables(self) -> list[str]:
        return list(self.p.values())

    def check(self) -> list[str]:
        """Stores and reverse indexes equal the model's final world row for
        row; the way/relation chunk tables hold exactly the rows the full
        build derives from that world under the table's split set."""
        import pyarrow.parquet as pq

        from coords_spark.sources.icepick import IcepickTable

        spark = self.spark
        w = I.final_world(self.seed, self.nodes_per_cluster, self.rings, self.applied, self.moves)
        problems = []

        def stored(key, cols):
            paths = IcepickTable(self.p[key]).data_paths()
            t = pq.read_table(paths, columns=cols) if paths else None
            rows = [] if t is None else list(zip(*(t.column(c).to_pylist() for c in cols)))
            return sorted(rows, key=lambda r: r[0])

        def model(tbl):
            cols = tbl.column_names
            return sorted(zip(*(tbl.column(c).to_pylist() for c in cols)), key=lambda r: r[0])

        for key, tbl in (("nodes", w.node_table()), ("ways", w.way_table()),
                         ("rels", w.rel_table())):
            got, want = stored(key, tbl.column_names), model(tbl)
            if got != want:
                problems.append(f"store {key}: {len(got)} rows differ from the final world's {len(want)}")
        nw: dict[int, set] = {}
        for wid, (_v, refs) in w.ways.items():
            for n in refs:
                nw.setdefault(n, set()).add(wid)
        wr: dict[int, set] = {}
        for rid, (_v, mem, _t) in w.rels.items():
            for m in mem:
                if m[0] == 1:
                    wr.setdefault(m[1], set()).add(rid)
        for key, cols, idx in (("rix_nw", ["node_id", "way_ids"], nw),
                               ("rix_wr", ["way_id", "relation_ids"], wr)):
            want = sorted((k, sorted(v)) for k, v in idx.items())
            if stored(key, cols) != want:
                problems.append(f"reverse index {key} differs from the final world's")
        fdir = os.path.join(self.work, "final-input")
        os.makedirs(fdir, exist_ok=True)
        for name, tbl in (("nodes", w.node_table()), ("ways", w.way_table()),
                          ("rels", w.rel_table())):
            pq.write_table(tbl, os.path.join(fdir, f"{name}.parquet"))
        nodes = spark.read.parquet(os.path.join(fdir, "nodes.parquet"))
        ways = spark.read.parquet(os.path.join(fdir, "ways.parquet"))
        rels = spark.read.parquet(os.path.join(fdir, "rels.parquet"))
        return problems + self._check_chunk_tables(nodes, ways, rels)

    def _check_chunk_tables(self, nodes, ways, rels) -> list[str]:
        """The way/relation chunk tables hold exactly the rows the full
        build derives from the final world under the table's split set."""
        from coords_spark.operators import resolve, update
        from coords_spark.sources.icepick import IcepickTable

        spark, problems = self.spark, []
        split, base = update.load_split_set(self.p["way_tbl"])
        want_rows = {
            "way_tbl": (update._way_rows(ways, nodes, split, base), WAY_COLS),
            "rel_tbl": (
                update._relation_rows(rels, resolve.resolve_ways(ways, nodes), split, base),
                REL_COLS,
            ),
        }
        for key, (df, cols) in want_rows.items():
            got = _xor_count(spark.read.parquet(*IcepickTable(self.p[key]).data_paths()), cols)
            want = _xor_count(df, cols)
            if got != want:
                problems.append(f"{key}: rows/hash {got} != full build's {want}")
        return problems


class Backfill(Minutely):
    """The minutely world, loop and tables, fed a few large batches: each
    imports a new area of `import_nodes` nodes with a chain way every 4th
    node. Sized by the input, not by any cap setting, to land over the
    driver caps: 640 000 ids is 1.3x the upsert collect cap (500 000) and
    3.2x the small-rewrite row cap (200 000) on the node store and the
    node->way index, so the Spark-side upsert planning and range rewrites
    run."""

    name, unit = "backfill", "entities"
    max_batches, import_nodes = 4, 640_000

    def prepare(self):
        import pyarrow.parquet as pq

        self.dir = I.backfill_inputs(
            self.cache, self.seed, self.nodes_per_cluster, self.rings,
            self.max_batches, self.import_nodes,
        )
        self._boxes()
        self.batch_rows = [
            pq.ParquetFile(os.path.join(self.dir, "diffs", f"diff-{b:04d}.parquet"))
            .metadata.num_rows
            for b in range(self.max_batches)
        ]

    def _boxes(self) -> None:
        """The read box after each batch: the first 8 rows x 100 nodes of
        the imported area, a neighbourhood-sized viewport."""
        self.boxes = []
        for b in range(self.max_batches):
            lat, lon = I.import_origin(b)
            self.boxes.append((lat, lon, lat + 8 * I.IMPORT_STEP, lon + 100 * I.IMPORT_STEP))

    def op(self, i: int) -> int:
        super().op(i)
        return self.batch_rows[self.applied - 1]

    def check(self) -> list[str]:
        """Stores, reverse indexes and chunk tables equal what a from-scratch
        build derives from the final world (the seed's world plus every
        applied import), compared as order-free row hashes."""
        from pyspark.sql import functions as F

        from coords_spark.sources.icepick import IcepickTable

        spark = self.spark
        world = os.path.join(self.dir, "world")
        diffs = spark.read.parquet(*[
            os.path.join(self.dir, "diffs", f"diff-{b:04d}.parquet")
            for b in range(self.applied)
        ])
        nodes = spark.read.parquet(os.path.join(world, "nodes.parquet")).unionByName(
            diffs.filter("kind = 0").select("id", "version", "lat", "lon", "tags")
        )
        ways = spark.read.parquet(os.path.join(world, "ways.parquet")).unionByName(
            diffs.filter("kind = 1").select("id", "version", "refs", "tags")
        )
        rels = spark.read.parquet(os.path.join(world, "rels.parquet"))
        nw = ways.select(F.explode("refs").alias("node_id"), F.col("id")).groupBy(
            "node_id").agg(F.collect_set("id").alias("way_ids"))
        wr = rels.select(F.explode(F.expr(MEMBER_REFS)).alias("way_id"), F.col("id")).groupBy(
            "way_id").agg(F.collect_set("id").alias("relation_ids"))
        want = {
            "nodes": (nodes, STORE_COLS["nodes"]), "ways": (ways, STORE_COLS["ways"]),
            "rels": (rels, STORE_COLS["rels"]),
            "rix_nw": (nw, ["node_id", "to_json(array_sort(way_ids))"]),
            "rix_wr": (wr, ["way_id", "to_json(array_sort(relation_ids))"]),
        }
        problems = []
        for key, (df, cols) in want.items():
            got = _xor_count(spark.read.parquet(*IcepickTable(self.p[key]).data_paths()), cols)
            if got != _xor_count(df, cols):
                problems.append(f"store {key}: rows/hash {got} differ from the final world's")
        return problems + self._check_chunk_tables(nodes, ways, rels)


# ---------------------------------------------------------------------------
# pyramid
# ---------------------------------------------------------------------------


class Pyramid(Workload):
    """A raster pyramid (zoom 12..10) of a clustered way world is built in
    set-up; each op applies one neighbourhood edit's expiry list with
    refresh_pyramid_table against a chunk-table state made in set-up (the
    edit and its undo alternate), then reads the neighbourhood's tiles."""

    name, unit = "pyramid", "tiles"
    warmup_ops, min_ops = 1, 2
    clusters, per_cluster, moved_clusters = 64, 400, 2
    zoom, min_zoom = 12, 10

    def prepare(self):
        self.dir = I.pyramid_inputs(
            self.cache, self.seed, self.clusters, self.per_cluster, self.moved_clusters
        )
        with open(os.path.join(self.dir, "edit.json")) as f:
            self.edit = json.load(f)

    def _chunkify(self, nodes_file: str, out: str) -> str:
        from pyspark.sql import functions as F

        from coords_spark.operators import geometry, resolve
        from coords_spark.operators import tiling as TL

        spark = self.spark
        ways = spark.read.parquet(os.path.join(self.dir, "ways.parquet"))
        nodes = spark.read.parquet(os.path.join(self.dir, nodes_file))
        rs = resolve.resolve_ways(ways, nodes)
        g = geometry.with_geometry_cell(geometry.with_envelope(rs)).withColumn(
            "nbytes", (F.size("pts") * 8 + 64).cast("long")
        )
        sp = TL.compute_split_set(g, max_bytes=256 * 1024)
        rows = TL.with_chunk(g, sp).select(
            "way_id", "cell", "chunk_id", "pts",
            F.expr("pts[0].lat").alias("lat"), F.expr("pts[0].lon").alias("lon"),
        )
        TL.materialize_chunk_table(rows, out, key_col="way_id")
        return out

    def setup(self):
        from coords_spark.operators import render, resolve

        spark = self.spark
        base = os.path.join(self.work, "setup")
        self.states = [
            self._chunkify("nodes_a.parquet", os.path.join(base, "chunks_a")),
            self._chunkify("nodes_b.parquet", os.path.join(base, "chunks_b")),
        ]
        self.pyr = os.path.join(base, "pyramid")
        render.build_pyramid_table(
            spark, self.states[0], self.pyr, I.VIEW_BBOX, zoom=self.zoom, min_zoom=self.min_zoom
        )
        # the edit's expiry list: old and new geometry of every way that
        # references a moved node
        ways = spark.read.parquet(os.path.join(self.dir, "ways.parquet"))
        aff = ways.filter(ways.id.isin(self.edit["ways"]))
        old = resolve.resolve_ways(aff, spark.read.parquet(os.path.join(self.dir, "nodes_a.parquet")))
        new = resolve.resolve_ways(aff, spark.read.parquet(os.path.join(self.dir, "nodes_b.parquet")))
        self.dirty = [
            tuple(x)
            for x in render.dirty_tiles(old.unionByName(new), self.zoom, self.min_zoom)
            .orderBy("zoom", "tile_x", "tile_y")
            .collect()
        ]
        self.state = 0

    def op(self, i: int) -> int:
        from coords_spark.operators import render

        self.state ^= 1
        render.refresh_pyramid_table(
            self.spark, self.states[self.state], self.pyr, I.VIEW_BBOX, self.dirty,
            zoom=self.zoom, min_zoom=self.min_zoom, group=f"refresh-{i}",
        )
        return len(self.dirty)

    def read(self, i: int) -> None:
        """The edited neighbourhood's tiles at every level, pruned by the
        manifest's tile_x lineage."""
        from pyspark.sql import functions as F

        from coords_spark.sources.icepick import IcepickTable

        with self.tr.span("bench.read"):
            t = IcepickTable(self.pyr)
            cond, paths = None, set()
            for z in range(self.min_zoom, self.zoom + 1):
                tiles = [(tx, ty) for zz, tx, ty in self.dirty if zz == z]
                x0, x1 = min(tx for tx, _ in tiles), max(tx for tx, _ in tiles)
                y0, y1 = min(ty for _, ty in tiles), max(ty for _, ty in tiles)
                for e in t.files():
                    if e.get("zoom") == z and e["chunk_min"] <= x1 and e["chunk_max"] >= x0:
                        paths.add(os.path.join(t.path, e["path"]))
                c = (F.col("zoom") == z) & F.col("tile_x").between(x0, x1) & F.col(
                    "tile_y"
                ).between(y0, y1)
                cond = c if cond is None else cond | c
            self.spark.read.parquet(*sorted(paths)).filter(cond).select(
                F.length("payload")
            ).write.mode("overwrite").format("noop").save()

    def tables(self) -> list[str]:
        return [self.pyr]

    def check(self) -> list[str]:
        """The refreshed pyramid's rows equal a fresh rebuild's rows from the
        final chunk-table state."""
        from coords_spark.operators import render
        from coords_spark.sources.icepick import IcepickTable

        spark = self.spark
        fresh = os.path.join(self.work, "rebuild")
        render.build_pyramid_table(
            spark, self.states[self.state], fresh, I.VIEW_BBOX, zoom=self.zoom,
            min_zoom=self.min_zoom,
        )
        cols = ["zoom", "tile_x", "tile_y", "n_src", "n_px", "px_crc"]

        def rows(path):
            return sorted(
                tuple(r) for r in spark.read.parquet(*IcepickTable(path).data_paths())
                .select(*cols).collect()
            )

        got, want = rows(self.pyr), rows(fresh)
        if got != want:
            return [f"pyramid: {len(got)} refreshed rows differ from {len(want)} rebuilt rows"]
        return []


WORKLOADS = {w.name: w for w in (Build, Minutely, Backfill, Pyramid)}

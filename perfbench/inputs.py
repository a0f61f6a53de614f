"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload, seed, size) and is written
once as parquet under the cache root; a run reads the cached files, so
generation never lands inside set-up or the timed loop. The program under
test only ever sees these files.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the viewport every workload reads (1e-7 degree fixed point: lat0, lon0,
# lat1, lon1) — the London box bench.py renders
VIEW_BBOX = (500_000_000, -20_000_000, 530_000_000, 18_000_000)

NODES_SCHEMA = pa.schema(
    [("id", pa.int64()), ("version", pa.int32()), ("lat", pa.int32()),
     ("lon", pa.int32()), ("tags", pa.map_(pa.string(), pa.string()))]
)
WAYS_SCHEMA = pa.schema(
    [("id", pa.int64()), ("version", pa.int32()), ("refs", pa.list_(pa.int64())),
     ("tags", pa.map_(pa.string(), pa.string()))]
)
MEMBER_T = pa.struct([("mtype", pa.int8()), ("ref", pa.int64()), ("role", pa.string())])
RELS_SCHEMA = pa.schema(
    [("id", pa.int64()), ("version", pa.int32()), ("members", pa.list_(MEMBER_T)),
     ("tags", pa.map_(pa.string(), pa.string()))]
)
# update_stream.DIFF_SCHEMA as Arrow
DIFF_SCHEMA = pa.schema(
    [("kind", pa.int8()), ("action", pa.string()), ("id", pa.int64()),
     ("version", pa.int32()), ("lat", pa.int32()), ("lon", pa.int32()),
     ("refs", pa.list_(pa.int64())), ("members", pa.list_(MEMBER_T)),
     ("tags", pa.map_(pa.string(), pa.string()))]
)


def cached(root: str, key: str, make) -> str:
    """Directory `root/key`, filled by make(dir) once; a `_DONE` marker
    makes a half-written directory from a killed run regenerate."""
    path = os.path.join(root, key)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    make(path)
    open(os.path.join(path, "_DONE"), "w").close()
    return path


# ---------------------------------------------------------------------------
# build: image+caption tables with encoded payloads
# ---------------------------------------------------------------------------


def image_pool(root: str, n_pool: int) -> str:
    """Seed-independent pool of `n_pool` fixtures.gen_images rows (encoding
    real payloads is the slow part, ~0.4 ms a row, so it is paid once per
    checkout, not once per seed)."""
    from coords_spark.fixtures import gen_images

    def make(d):
        for i, lo in enumerate(range(0, n_pool, 4096)):
            pq.write_table(
                gen_images(min(4096, n_pool - lo), offset=lo),
                os.path.join(d, f"pool-{i:03d}.parquet"),
            )

    return cached(root, f"image-pool-n{n_pool}", make)


def corrupt_payload(b: bytes, k: int) -> bytes:
    """A payload no decoder accepts: truncated, then the header bytes
    overwritten (the kinds of damage a scraped image table carries)."""
    keep = max(1, len(b) // (3 + k % 4))
    return bytes(0xA5 ^ (k & 0xFF) for _ in range(8)) + b[8:keep]


KEEP_BUILD_SEEDS = 4


def images_for_seed(root: str, seed: int, n_batches: int, batch_rows: int, pool: int,
                    bad_share: float) -> str:
    """`n_batches` parquet files of `batch_rows` distinct pool rows each, drawn
    by a seeded permutation; a seeded `bad_share` of every batch gets a
    corrupt payload. bad.json lists the corrupt image ids per batch."""
    pool_dir = image_pool(root, pool)

    def make(d):
        rng = np.random.default_rng(seed)
        tbl = pq.read_table(pool_dir)
        need = n_batches * batch_rows
        if need > tbl.num_rows:
            raise ValueError(f"pool of {tbl.num_rows} rows < {need} needed")
        order = rng.permutation(tbl.num_rows)[:need]
        n_bad = max(1, int(round(batch_rows * bad_share)))
        bad: dict[str, list[str]] = {}
        for i in range(n_batches):
            t = tbl.take(pa.array(order[i * batch_rows:(i + 1) * batch_rows]))
            bad_idx = sorted(rng.choice(batch_rows, n_bad, replace=False).tolist())
            blobs = t.column("bytes").to_pylist()
            for k in bad_idx:
                blobs[k] = corrupt_payload(blobs[k], k + i)
            t = t.set_column(
                t.column_names.index("bytes"), "bytes", pa.array(blobs, pa.binary())
            )
            ids = t.column("image_id").to_pylist()
            bad[f"{i:03d}"] = sorted(ids[k] for k in bad_idx)
            pq.write_table(t, os.path.join(d, f"batch-{i:03d}.parquet"))
        with open(os.path.join(d, "bad.json"), "w") as f:
            json.dump(bad, f)

    key = f"build-s{seed}-b{n_batches}x{batch_rows}-p{pool}"
    # ~30 MB a batch: keep only the few most recently used seeds on disk
    old = sorted(
        (os.path.getmtime(os.path.join(root, d)), d)
        for d in os.listdir(root)
        if d.startswith("build-s") and d != key
    )
    for _t, d in old[:-KEEP_BUILD_SEEDS]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    path = cached(root, key, make)
    os.utime(path)
    return path


# ---------------------------------------------------------------------------
# minutely: an OSM-like world and a stream of localized diffs
# ---------------------------------------------------------------------------

GRID = 4  # clusters per viewport side
CHAIN_LEN, CHAIN_STEP = 8, 4  # way = 8 consecutive cluster nodes, every 4th start
RING_NODES = 6


class World:
    """The mutable OSM model the diff stream is generated against (plain
    Python, so the final state after any number of batches is known
    exactly — the from-scratch reference of the output check)."""

    def __init__(self, seed: int, nodes_per_cluster: int, rings_per_cluster: int):
        rng = np.random.default_rng(seed)
        self.nodes: dict[int, tuple[int, int, int]] = {}  # id -> (ver, lat, lon)
        self.ways: dict[int, tuple[int, list[int]]] = {}  # id -> (ver, refs)
        self.rels: dict[int, tuple[int, list[tuple], dict]] = {}
        self.c_chain_nodes: list[list[int]] = []
        self.c_ways: list[list[int]] = []
        self.c_ring_nodes: list[list[int]] = []
        self.c_rels: list[list[int]] = []
        self.c_box: list[tuple[int, int]] = []
        lat0, lon0, lat1, lon1 = VIEW_BBOX
        dlat, dlon = (lat1 - lat0) // GRID, (lon1 - lon0) // GRID
        nid = wid = rid = 0
        for c in range(GRID * GRID):
            clat = lat0 + (c // GRID) * dlat + dlat // 4
            clon = lon0 + (c % GRID) * dlon + dlon // 4
            self.c_box.append((clat, clon))
            la = rng.integers(0, dlat // 2, nodes_per_cluster) + clat
            lo = rng.integers(0, dlon // 2, nodes_per_cluster) + clon
            ids = list(range(nid + 1, nid + 1 + nodes_per_cluster))
            nid += nodes_per_cluster
            for i, a, b in zip(ids, la.tolist(), lo.tolist()):
                self.nodes[i] = (1, a, b)
            self.c_chain_nodes.append(ids)
            cw = []
            for s in range(0, nodes_per_cluster - CHAIN_LEN + 1, CHAIN_STEP):
                wid += 1
                self.ways[wid] = (1, ids[s:s + CHAIN_LEN])
                cw.append(wid)
            self.c_ways.append(cw)
            rn, cr = [], []
            for _ in range(rings_per_cluster):
                refs, nid = self._ring(rng, c, nid)
                rn += refs[:-1]
                wid += 1
                self.ways[wid] = (1, refs)
                rid += 1
                self.rels[rid] = (1, [(1, wid, "outer")], {"type": "multipolygon"})
                cr.append(rid)
            self.c_ring_nodes.append(rn)
            self.c_rels.append(cr)
        self.next_node, self.next_way, self.next_rel = nid + 1, wid + 1, rid + 1
        # ways a relation references are never deleted
        self.member_ways = {m[1] for _v, ms, _t in self.rels.values() for m in ms}

    def _ring(self, rng, c: int, nid: int) -> tuple[list[int], int]:
        clat, clon = self.c_box[c]
        cy = int(rng.integers(200_000, 1_600_000)) + clat
        cx = int(rng.integers(200_000, 2_000_000)) + clon
        r = int(rng.integers(20_000, 120_000))
        refs = []
        for k in range(RING_NODES):
            ang = 2 * np.pi * k / RING_NODES
            nid += 1
            self.nodes[nid] = (1, cy + int(r * np.sin(ang)), cx + int(r * np.cos(ang)))
            refs.append(nid)
        return refs + [refs[0]], nid

    # -- tables ------------------------------------------------------------
    def node_table(self) -> pa.Table:
        ids = sorted(self.nodes)
        v = [self.nodes[i] for i in ids]
        return pa.table(
            {"id": ids, "version": [x[0] for x in v], "lat": [x[1] for x in v],
             "lon": [x[2] for x in v], "tags": [[] for _ in ids]},
            schema=NODES_SCHEMA,
        )

    def way_table(self) -> pa.Table:
        ids = sorted(self.ways)
        return pa.table(
            {"id": ids, "version": [self.ways[i][0] for i in ids],
             "refs": [self.ways[i][1] for i in ids],
             "tags": [[("highway", "residential")] for _ in ids]},
            schema=WAYS_SCHEMA,
        )

    def rel_table(self) -> pa.Table:
        ids = sorted(self.rels)
        return pa.table(
            {"id": ids, "version": [self.rels[i][0] for i in ids],
             "members": [[dict(zip(("mtype", "ref", "role"), m)) for m in self.rels[i][1]]
                         for i in ids],
             "tags": [sorted(self.rels[i][2].items()) for i in ids]},
            schema=RELS_SCHEMA,
        )

    # -- one localized diff --------------------------------------------------
    def diff(self, rng, b: int, moves: int) -> list[tuple]:
        """Rows (DIFF_SCHEMA order) of one batch confined to one cluster:
        node moves (chain and ring nodes), a new way over new nodes, way
        refs edits and a delete, a relation tag edit and, every other
        batch, a relation replaced by a new ring. Applies it to the model."""
        c = int(rng.integers(0, GRID * GRID))
        rows: list[tuple] = []

        def node(i, lat, lon):
            ver = self.nodes[i][0] + 1 if i in self.nodes else 1
            self.nodes[i] = (ver, lat, lon)
            rows.append((0, "upsert", i, ver, lat, lon, None, None, []))

        def way(i, refs):
            ver = self.ways[i][0] + 1 if i in self.ways else 1
            self.ways[i] = (ver, refs)
            rows.append((1, "upsert", i, ver, None, None, refs, None,
                         [("highway", "residential")]))

        chain = self.c_chain_nodes[c]
        ring = self.c_ring_nodes[c]
        moved = set()
        for i in rng.choice(len(chain), moves, replace=False).tolist():
            moved.add(chain[i])
        for i in rng.choice(len(ring), max(1, moves // 6), replace=False).tolist():
            moved.add(ring[i])
        for i in sorted(moved):
            _v, lat, lon = self.nodes[i]
            node(i, lat + int(rng.integers(-20_000, 20_001)),
                 lon + int(rng.integers(-20_000, 20_001)))
        # a new way over three new nodes, anchored on an existing node
        anchor = chain[int(rng.integers(0, len(chain)))]
        _v, alat, alon = self.nodes[anchor]
        new_refs = [anchor]
        for k in range(3):
            node(self.next_node, alat + 15_000 * (k + 1), alon - 9_000 * (k + 1))
            new_refs.append(self.next_node)
            self.next_node += 1
        way(self.next_way, new_refs)
        self.c_ways[c].append(self.next_way)
        self.next_way += 1
        # refs edits: two live chain ways lose their last ref
        live = [w for w in self.c_ways[c] if w not in self.member_ways]
        picks = rng.choice(len(live), 3, replace=False).tolist()
        for i in picks[:2]:
            w = live[i]
            refs = self.ways[w][1]
            way(w, refs[:-1] if len(refs) > 3 else refs + [chain[0]])
        dead = live[picks[2]]
        rows.append((1, "delete", dead, self.ways.pop(dead)[0] + 1, None, None, None, None, None))
        self.c_ways[c].remove(dead)
        # relation tag edit
        crels = self.c_rels[c]
        r = crels[int(rng.integers(0, len(crels)))]
        ver, mem, tags = self.rels[r]
        tags = dict(tags, note=f"b{b}")
        self.rels[r] = (ver + 1, mem, tags)
        rows.append((2, "upsert", r, ver + 1, None, None, None,
                     [dict(zip(("mtype", "ref", "role"), m)) for m in mem],
                     sorted(tags.items())))
        if b % 2 == 1 and len(crels) > 1:
            # replace one relation: delete it, add a new ring + relation
            # a delete carries the next version, so it wins over an edit of
            # the same relation earlier in this batch
            old = crels.pop(int(rng.integers(0, len(crels))))
            rows.append((2, "delete", old, self.rels.pop(old)[0] + 1, None, None, None, None, None))
            refs, _nid = self._ring(rng, c, self.next_node - 1)
            ring_rows = [(i, self.nodes[i]) for i in refs[:-1]]
            self.next_node = refs[-2] + 1
            for i, (_v, lat, lon) in ring_rows:
                rows.append((0, "upsert", i, 1, lat, lon, None, None, []))
            ring.extend(refs[:-1])
            wid = self.next_way
            self.next_way += 1
            way(wid, refs)
            self.member_ways.add(wid)
            rid = self.next_rel
            self.next_rel += 1
            mem = [(1, wid, "outer")]
            self.rels[rid] = (1, mem, {"type": "multipolygon"})
            crels.append(rid)
            rows.append((2, "upsert", rid, 1, None, None, None,
                         [dict(zip(("mtype", "ref", "role"), m)) for m in mem],
                         [("type", "multipolygon")]))
        return rows


def diff_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.table(
        {f.name: list(c) for f, c in zip(DIFF_SCHEMA, cols)}, schema=DIFF_SCHEMA
    )


def minutely_inputs(root: str, seed: int, nodes_per_cluster: int,
                    rings_per_cluster: int, n_batches: int, moves: int) -> str:
    """world/{nodes,ways,rels}.parquet plus diffs/diff-NNN.parquet, and the
    model's final state after every batch count k as final-k/ parquet
    (written lazily by final_state())."""
    def make(d):
        w = World(seed, nodes_per_cluster, rings_per_cluster)
        os.makedirs(os.path.join(d, "world"))
        pq.write_table(w.node_table(), os.path.join(d, "world", "nodes.parquet"))
        pq.write_table(w.way_table(), os.path.join(d, "world", "ways.parquet"))
        pq.write_table(w.rel_table(), os.path.join(d, "world", "rels.parquet"))
        os.makedirs(os.path.join(d, "diffs"))
        rng = np.random.default_rng([seed, 1])
        for b in range(n_batches):
            pq.write_table(
                diff_table(w.diff(rng, b, moves)),
                os.path.join(d, "diffs", f"diff-{b:04d}.parquet"),
            )

    key = f"minutely-s{seed}-n{nodes_per_cluster}-r{rings_per_cluster}-b{n_batches}-m{moves}"
    return cached(root, key, make)


def final_world(seed: int, nodes_per_cluster: int, rings_per_cluster: int,
                n_applied: int, moves: int) -> World:
    """The model after the first `n_applied` diffs (replays the generator —
    a few ms a batch, outside any timed region)."""
    w = World(seed, nodes_per_cluster, rings_per_cluster)
    rng = np.random.default_rng([seed, 1])
    for b in range(n_applied):
        w.diff(rng, b, moves)
    return w



IMPORT_ROW = 1000  # nodes per row of an imported area; chains run along rows
IMPORT_STEP = 2_000  # node spacing in 1e-7 degrees (~20 m)


def import_origin(b: int) -> tuple[int, int]:
    """South-west corner (lat, lon) of batch b's imported area: 1e6 inside
    grid cell b % 16 of the viewport, so consecutive batches land side by
    side."""
    lat0, lon0, lat1, lon1 = VIEW_BBOX
    c = b % (GRID * GRID)
    return (lat0 + (c // GRID) * ((lat1 - lat0) // GRID) + 1_000_000,
            lon0 + (c % GRID) * ((lon1 - lon0) // GRID) + 1_000_000)


def import_batch(seed: int, b: int, first_node: int, first_way: int, n_nodes: int) -> pa.Table:
    """One backfill batch (DIFF_SCHEMA): a new area of `n_nodes` nodes laid
    out in rows of IMPORT_ROW, with a chain way of CHAIN_LEN nodes every
    CHAIN_STEP along each row, from import_origin(b). Ids start after
    everything earlier batches created."""
    rng = np.random.default_rng([seed, 2, b])
    olat, olon = import_origin(b)
    k = np.arange(n_nodes, dtype=np.int64)
    ids = first_node + k
    lat = (olat + (k // IMPORT_ROW) * IMPORT_STEP + rng.integers(0, IMPORT_STEP // 2, n_nodes))
    lon = (olon + (k % IMPORT_ROW) * IMPORT_STEP + rng.integers(0, IMPORT_STEP // 2, n_nodes))
    starts = np.concatenate([
        r * IMPORT_ROW + np.arange(0, IMPORT_ROW - CHAIN_LEN + 1, CHAIN_STEP)
        for r in range(n_nodes // IMPORT_ROW)
    ])
    n_ways = starts.size
    refs = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n_ways * CHAIN_LEN + 1, CHAIN_LEN, dtype=np.int32)),
        pa.array((np.add.outer(starts, np.arange(CHAIN_LEN)).ravel() + first_node)),
    )
    no_tags = pa.MapArray.from_arrays(
        pa.array(np.zeros(n_nodes + 1, np.int32)), pa.array([], pa.string()),
        pa.array([], pa.string()),
    )
    way_tags = pa.MapArray.from_arrays(
        pa.array(np.arange(n_ways + 1, dtype=np.int32)),
        pa.array(["highway"] * n_ways), pa.array(["residential"] * n_ways),
    )
    nodes = pa.table({
        "kind": pa.array(np.zeros(n_nodes, np.int8)),
        "action": pa.array(["upsert"] * n_nodes),
        "id": pa.array(ids),
        "version": pa.array(np.ones(n_nodes, np.int32)),
        "lat": pa.array(lat.astype(np.int32)),
        "lon": pa.array(lon.astype(np.int32)),
        "refs": pa.nulls(n_nodes, DIFF_SCHEMA.field("refs").type),
        "members": pa.nulls(n_nodes, DIFF_SCHEMA.field("members").type),
        "tags": no_tags,
    }, schema=DIFF_SCHEMA)
    ways = pa.table({
        "kind": pa.array(np.ones(n_ways, np.int8)),
        "action": pa.array(["upsert"] * n_ways),
        "id": pa.array(first_way + np.arange(n_ways, dtype=np.int64)),
        "version": pa.array(np.ones(n_ways, np.int32)),
        "lat": pa.nulls(n_ways, pa.int32()),
        "lon": pa.nulls(n_ways, pa.int32()),
        "refs": refs,
        "members": pa.nulls(n_ways, DIFF_SCHEMA.field("members").type),
        "tags": way_tags,
    }, schema=DIFF_SCHEMA)
    return pa.concat_tables([nodes, ways])


def backfill_inputs(root: str, seed: int, nodes_per_cluster: int,
                    rings_per_cluster: int, n_batches: int, n_nodes: int) -> str:
    """world/{nodes,ways,rels}.parquet (the minutely world of the seed) plus
    diffs/diff-NNNN.parquet, each an import_batch of `n_nodes` new nodes
    and their chain ways."""
    def make(d):
        w = World(seed, nodes_per_cluster, rings_per_cluster)
        os.makedirs(os.path.join(d, "world"))
        pq.write_table(w.node_table(), os.path.join(d, "world", "nodes.parquet"))
        pq.write_table(w.way_table(), os.path.join(d, "world", "ways.parquet"))
        pq.write_table(w.rel_table(), os.path.join(d, "world", "rels.parquet"))
        os.makedirs(os.path.join(d, "diffs"))
        first_node, first_way = w.next_node, w.next_way
        for b in range(n_batches):
            t = import_batch(seed, b, first_node, first_way, n_nodes)
            pq.write_table(t, os.path.join(d, "diffs", f"diff-{b:04d}.parquet"))
            n_ways = t.num_rows - n_nodes
            first_node += n_nodes
            first_way += n_ways

    key = f"backfill-s{seed}-n{nodes_per_cluster}-r{rings_per_cluster}-b{n_batches}-i{n_nodes}"
    return cached(root, key, make)


# ---------------------------------------------------------------------------
# pyramid: clustered chain ways in the viewport and one neighbourhood edit
# ---------------------------------------------------------------------------


def pyramid_inputs(root: str, seed: int, clusters: int, per: int, moved: int) -> str:
    """ways.parquet (6-node chains inside 16-wide grid clusters), the node
    state before (nodes_a) and after (nodes_b) an edit that moves every 7th
    non-anchor node of `moved` seeded neighbouring clusters, and edit.json
    naming the ways that reference a moved node."""
    def make(d):
        rng = np.random.default_rng(seed)
        cl = np.repeat(np.arange(clusters), per)
        k = np.tile(np.arange(per), clusters)
        ids = np.arange(cl.size, dtype=np.int64) + 1
        clat = 501_000_000 + (cl // 16) * 1_700_000
        clon = -19_000_000 + (cl % 16) * 2_300_000
        lat = clat + ((k * 37) % 41) * 60_000 + rng.integers(0, 30_000, cl.size)
        lon = clon + ((k * 53) % 37) * 60_000 + rng.integers(0, 30_000, cl.size)
        refs = [
            [int(c * per + s + j + 1) for j in range(6)]
            for c in range(clusters)
            for s in range(0, per - 6, 2)
        ]
        anchors = {r[0] for r in refs}
        first = int(rng.integers(0, clusters - moved + 1))
        hit = (cl >= first) & (cl < first + moved) & (k % 7 == 3)
        hit &= ~np.isin(ids, np.fromiter(anchors, np.int64))
        lat_b, lon_b = lat.copy(), lon.copy()
        lat_b[hit] += 500_000
        lon_b[hit] += 700_000
        for name, la, lo in (("nodes_a", lat, lon), ("nodes_b", lat_b, lon_b)):
            pq.write_table(
                pa.table({"id": ids, "lat": la.astype(np.int32), "lon": lo.astype(np.int32)}),
                os.path.join(d, f"{name}.parquet"),
            )
        pq.write_table(
            pa.table({"id": pa.array(np.arange(len(refs), dtype=np.int64) + 1),
                      "refs": pa.array(refs, pa.list_(pa.int64()))}),
            os.path.join(d, "ways.parquet"),
        )
        moved_ids = set(ids[hit].tolist())
        aff = [w + 1 for w, r in enumerate(refs) if moved_ids.intersection(r)]
        with open(os.path.join(d, "edit.json"), "w") as f:
            json.dump({"clusters": [first, first + moved - 1], "ways": aff}, f)

    return cached(root, f"pyramid-s{seed}-c{clusters}-p{per}-m{moved}", make)

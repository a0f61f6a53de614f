"""Which functions of the program are spanned, what each span counts, and
how spans become the per-layer metrics of a traced run.

Metric names are `<module>.<function>.<stat>`. Per op: `.self_s` is the
span's self time, `.jobs` / `.exec_cpu_s` / `.*_mb` are the Spark totals of
the span and the spans under it, the rest are counts the span's counter
read off the call. Times are reported as the median over the run's ops;
counts and bytes as the mean per op over the first `count_ops` ops of the
run, a fixed window, so two traced runs of one seed give identical counts.
"""

from __future__ import annotations

import os
import statistics

from perfbench import trace as T

SPARK_STATS = (
    "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "input_mb",
    "shuffle_read_mb", "shuffle_write_mb", "result_mb", "driver_side_s",
)
ICEPICK_METHODS = ("commit_staged", "commit_replace", "compact", "expire_snapshots")

# (metric, kind) — kind "time" takes the median per op, "count" the window mean
PER_LAYER: list[tuple[str, str]] = (
    [(f"spark.{s}", "time" if s.endswith("_s") else "count") for s in SPARK_STATS]
    + [("session.get_spark.s", "setup")]
    + [
        (f"tiling.{f}.{s}", "time" if s.endswith("_s") else "count")
        for f in ("compute_split_set_and_weights", "materialize_chunk_table")
        for s in ("self_s", "jobs", "exec_cpu_s", "shuffle_write_mb")
    ]
    + [
        ("ingest.ingest_images.self_s", "time"), ("ingest.ingest_images.jobs", "count"),
        ("ingest.render_read.self_s", "time"), ("ingest.render_read.files_read", "count"),
        ("ingest.render_read.input_mb", "count"),
        ("images.with_decode_check_chunk.exec_cpu_s", "time"),
        ("images.with_decode_check_chunk.rows", "count"),
        ("images.with_decode_check_chunk.flagged", "count"),
    ]
    + [
        (f"icepick.{m}.{s}", "time" if s == "self_s" else "count")
        for m in ICEPICK_METHODS
        for s in ("calls", "self_s", "files_added", "files_removed")
    ]
    + [("icepick.live_files", "count"), ("icepick.versions", "count")]
    + [
        ("entity_store.upsert_entities.calls", "count"),
        ("entity_store.upsert_entities.self_s", "time"),
        ("entity_store.upsert_entities.jobs", "count"),
        ("entity_store.read_entities_for_ids.calls", "count"),
        ("entity_store.read_entities_for_ids.files_read", "count"),
        ("rindex.upsert_rindex.self_s", "time"), ("rindex.upsert_rindex.jobs", "count"),
        ("rindex.rindex_lookup.files_read", "count"),
    ]
    + [
        (f"update.{f}.{s}", "time" if s == "self_s" else "count")
        for f in ("apply_way_diff", "apply_relation_diff")
        for s in ("self_s", "jobs", "files_replaced")
    ]
    + [
        ("render.dirty_tiles.self_s", "time"), ("render.dirty_tiles.tiles", "count"),
        ("render.refresh_pyramid_table.self_s", "time"),
        ("render.refresh_pyramid_table.jobs", "count"),
        ("render.refresh_pyramid_table.dirty_tiles", "count"),
        ("render.refresh_pyramid_table.files_rewritten", "count"),
        ("render.build_pyramid_table.self_s", "setup"),
        ("update_stream.apply_diff_batch.self_s", "time"),
        ("update_stream.apply_diff_batch.jobs", "count"),
        ("update_stream.apply_diff_batch.files_read", "count"),
        ("update_stream.maintain_tables.self_s", "time"),
        ("update_stream.maintain_tables.jobs", "count"),
    ]
    + [
        # which side of the driver caps the ops land on (upsert collect cap
        # on ids; small-rewrite caps on affected keys and replaced bytes)
        ("caps.upsert_ids_max", "count"), ("caps.rewrite_keys_max", "count"),
        ("caps.rewrite_mb_max", "count"), ("caps.over_cap_calls", "count"),
        # the loop itself, traced
        ("loop.ops", "count"), ("loop.latency_p50_s", "time"),
        ("loop.latency_p90_s", "time"), ("loop.first_last_third_ratio", "time"),
    ]
)


def _files_read(rec, out, args, kwargs):
    T.add(rec, "files_read", int(out[1]))


def _entries(rec, out, args, kwargs):
    T.add(rec, "files_added", len(out))


def _replace(rec, out, args, kwargs):
    drop = args[2] if len(args) > 2 else kwargs["drop_paths"]
    T.add(rec, "files_added", len(out))
    T.add(rec, "files_removed", len(drop))


def _compact(rec, out, args, kwargs):
    T.add(rec, "files_added", int(out.get("files_written", 0)))
    T.add(rec, "files_removed", int(out.get("files_compacted", 0)))


def _expire(rec, out, args, kwargs):
    T.add(rec, "files_removed", len(out["removed_files"]))


def _rewrite(rec, out, args, kwargs):
    if isinstance(out, dict):
        T.add(rec, "files_replaced", int(out.get("files_replaced", 0)))


def _diff_batch(rec, out, args, kwargs):
    T.add(rec, "files_read", sum(v for v in out.get("files_read", {}).values()))
    if isinstance(out.get("dirty_tiles"), int):
        T.add(rec, "dirty_tiles", out["dirty_tiles"])


def _refresh(rec, out, args, kwargs):
    for v in out.values():
        if isinstance(v, dict):
            T.add(rec, "dirty_tiles", v.get("dirty", 0))
            T.add(rec, "files_rewritten", v.get("files_rewritten", 0))


def _render_read(rec, out, args, kwargs):
    from coords_spark.kernels import zcurve
    from coords_spark.operators import ingest, tiling
    from coords_spark.sources.icepick import IcepickTable

    spark, table_path, bbox = args[:3]
    zoom = kwargs.get("zoom", args[3] if len(args) > 3 else None)
    base = kwargs.get("base_level", tiling.DEFAULT_BASE_LEVEL)
    lat0, lon0, lat1, lon1 = bbox
    gx0, gy0, gx1, gy1 = ingest.bbox_grid(
        min(lat0, lat1), min(lon0, lon1), max(lat0, lat1), max(lon0, lon1)
    )
    ranges = zcurve.bbox_cover_ranges(gx0, gy0, gx1, gy1, zoom, max_level=base)
    T.add(rec, "files_read", len(IcepickTable(table_path).data_paths_ranges(ranges)))


def install(tracer: T.Tracer) -> None:
    """Span every layer function the per-layer table names. Only module
    attributes and class methods are replaced, so calls made through the
    module (`ES.upsert_entities`) or the class are seen; nothing inside
    coords_spark changes."""
    from coords_spark import session
    from coords_spark.operators import entity_store, images, ingest, render, rindex, tiling, update
    from coords_spark.sources import icepick
    from coords_spark.streaming import update_stream

    w = tracer.wrap
    w(session, "get_spark", "session.get_spark")
    w(tiling, "compute_split_set_and_weights", "tiling.compute_split_set_and_weights")
    w(tiling, "materialize_chunk_table", "tiling.materialize_chunk_table")
    w(ingest, "ingest_images", "ingest.ingest_images")
    w(ingest, "render_read", "ingest.render_read", _render_read)
    w(images, "with_decode_check_chunk", "images.with_decode_check_chunk")
    cls = icepick.IcepickTable
    w(cls, "commit_staged", "icepick.commit_staged", _entries)
    w(cls, "commit_replace", "icepick.commit_replace", _replace)
    w(cls, "compact", "icepick.compact", _compact)
    w(cls, "expire_snapshots", "icepick.expire_snapshots", _expire)
    w(entity_store, "upsert_entities", "entity_store.upsert_entities", _rewrite)
    w(entity_store, "read_entities_for_ids", "entity_store.read_entities_for_ids", _files_read)
    w(rindex, "upsert_rindex", "rindex.upsert_rindex")
    w(rindex, "rindex_lookup", "rindex.rindex_lookup", _files_read)
    w(update, "apply_way_diff", "update.apply_way_diff", _rewrite)
    w(update, "apply_relation_diff", "update.apply_relation_diff", _rewrite)
    w(render, "dirty_tiles", "render.dirty_tiles")
    w(render, "refresh_pyramid_table", "render.refresh_pyramid_table", _refresh)
    w(render, "build_pyramid_table", "render.build_pyramid_table")
    w(update_stream, "apply_diff_batch", "update_stream.apply_diff_batch", _diff_batch)
    w(update_stream, "maintain_tables", "update_stream.maintain_tables")
    # cap evidence: what each rewrite and upsert would be judged on
    orig_rewrite = update._apply_way_rewrite

    def cap_rewrite(spark, table_path, aff, new_rows, group, *a, **k):
        out = orig_rewrite(spark, table_path, aff, new_rows, group, *a, **k)
        rec = tracer.current()
        if rec is not None and isinstance(out, dict):
            keys = int(next((v for kk, v in out.items() if kk.startswith("affected_")), 0))
            c = rec["counts"]
            c["cap_keys"] = max(c.get("cap_keys", 0), keys)
            if keys > update._SMALL_REWRITE_ROWS:
                T.add(rec, "over_cap", 1)
        return out

    update._apply_way_rewrite = cap_rewrite
    entity_store._apply_way_rewrite = cap_rewrite
    orig_replace = cls.commit_replace

    def cap_replace(self, staging_dir, drop_paths, *a, **k):
        mb = sum(
            os.path.getsize(os.path.join(self.path, p))
            for p in drop_paths
            if os.path.exists(os.path.join(self.path, p))
        ) / T.MB
        rec = tracer.current()
        if rec is not None:
            c = rec["counts"]
            c["cap_mb"] = max(c.get("cap_mb", 0.0), mb)
            if mb * T.MB > update._SMALL_REWRITE_BYTES:
                T.add(rec, "over_cap", 1)
        return orig_replace(self, staging_dir, drop_paths, *a, **k)

    cls.commit_replace = cap_replace
    orig_collect = entity_store._collect_upserts_arrow

    def cap_collect(spark, upserts, deleted_ids, id_col, id_shift):
        out = orig_collect(spark, upserts, deleted_ids, id_col, id_shift)
        rec = tracer.current()
        if rec is not None:
            c = rec["counts"]
            if out is None:
                # past the cap the count is unknown; cap + 1 marks "over"
                c["cap_ids"] = max(c.get("cap_ids", 0), entity_store._DIFF_COLLECT_CAP + 1)
                T.add(rec, "over_cap", 1)
            else:
                c["cap_ids"] = max(c.get("cap_ids", 0), len(out[2]))
        return out

    entity_store._collect_upserts_arrow = cap_collect


# ---------------------------------------------------------------------------
# aggregation
# ---------------------------------------------------------------------------


def _top(spans: list[dict], name: str) -> list[dict]:
    """Spans called `name` with no ancestor of the same name (a nested call
    of one function is inside its outer call's totals already)."""
    out = []
    for s in spans:
        if s["name"] != name:
            continue
        p, nested = s.get("parent_rec"), False
        while p is not None:
            if p["name"] == name:
                nested = True
                break
            p = p.get("parent_rec")
        if not nested:
            out.append(s)
    return out


def op_values(op: dict) -> dict[str, float]:
    """Every per-op layer value of one op span."""
    spans = T.subtree(op)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s["parent_rec"] = by_id.get(s["parent"])
    v: dict[str, float] = {}
    inc = T.inclusive(op)
    for s in SPARK_STATS:
        if s.endswith("_mb"):
            v[f"spark.{s}"] = inc[s[:-3] + "_b"] / T.MB
        else:
            v[f"spark.{s}"] = inc[s]
    names = {s["name"] for s in spans}
    for name in names:
        tops = _top(spans, name)
        incs = [T.inclusive(s) for s in tops]
        v[f"{name}.calls"] = len(tops)
        v[f"{name}.self_s"] = sum(s["self_s"] for s in spans if s["name"] == name)
        v[f"{name}.jobs"] = sum(i["jobs"] for i in incs)
        v[f"{name}.exec_cpu_s"] = sum(i["exec_cpu_s"] for i in incs)
        v[f"{name}.shuffle_write_mb"] = sum(i["shuffle_write_b"] for i in incs) / T.MB
        v[f"{name}.input_mb"] = sum(i["input_b"] for i in incs) / T.MB
        for s in spans:
            if s["name"] == name:
                for k, c in s["counts"].items():
                    v[f"{name}.{k}"] = v.get(f"{name}.{k}", 0) + c
    # the bench's own spans carry the action of a lazy layer function
    v["images.with_decode_check_chunk.exec_cpu_s"] = v.get("bench.verify.exec_cpu_s", 0.0)
    v["images.with_decode_check_chunk.rows"] = v.get("bench.verify.rows", 0)
    v["images.with_decode_check_chunk.flagged"] = v.get("bench.verify.flagged", 0)
    if "ingest.render_read.calls" in v:
        v["ingest.render_read.input_mb"] = v.get("bench.read.input_mb", 0.0)
    v["render.dirty_tiles.tiles"] = v.get("update_stream.apply_diff_batch.dirty_tiles", 0)
    caps = [s["counts"] for s in spans]
    v["caps.upsert_ids_max"] = max([c.get("cap_ids", 0) for c in caps] or [0])
    v["caps.rewrite_keys_max"] = max([c.get("cap_keys", 0) for c in caps] or [0])
    v["caps.rewrite_mb_max"] = max([c.get("cap_mb", 0.0) for c in caps] or [0.0])
    v["caps.over_cap_calls"] = sum(c.get("over_cap", 0) for c in caps)
    v["icepick.live_files"] = op["counts"].get("live_files", 0)
    v["icepick.versions"] = op["counts"].get("versions", 0)
    return v


def per_layer_metrics(ops: list[dict], setup: dict, count_ops: int,
                      latencies: list[float], drift: float) -> dict[str, float]:
    vals = [op_values(op) for op in ops]
    window = vals[:count_ops]
    out: dict[str, float] = {}
    for name, kind in PER_LAYER:
        if kind == "time":
            out[name] = statistics.median(v.get(name, 0.0) for v in vals)
        elif kind == "count":
            out[name] = sum(v.get(name, 0) for v in window) / len(window)
    out["render.build_pyramid_table.self_s"] = sum(
        s["self_s"] for s in T.subtree(setup) if s["name"] == "render.build_pyramid_table"
    )
    out["loop.ops"] = len(ops)
    out["loop.latency_p50_s"] = statistics.median(latencies)
    out["loop.latency_p90_s"] = p90(latencies)
    out["loop.first_last_third_ratio"] = drift
    return out


def unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb") or "_mb_" in name:
        return "MB"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


def p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]

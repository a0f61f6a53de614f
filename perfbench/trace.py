"""Span tracing from outside the program, plus Spark event-log attribution.

The benchmark wraps public functions of `coords_spark` (module attributes
and IcepickTable methods) in spans. A span records name, parent, start and
end in memory, sets the Spark job group to its own id while open, and
collects counts its counter callback derives from the call's result.
After the session stops, the plain-JSON event log is read back and every
job, stage and task is billed to the span whose job group it carried —
the innermost span open when the action ran. A span around a lazy
function (one that only builds a DataFrame) therefore measures planning
only; the Spark work it defines is billed to the span whose action ran it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

MB = 1 << 20


class Tracer:
    def __init__(self):
        self.sc = None  # set once the session exists
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def current(self) -> dict | None:
        return self._stack[-1] if self._stack else None

    def _set_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["gid"], rec["name"])

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "gid": f"pb-{len(self.spans)}",
            "name": name,
            "parent": None if parent is None else parent["id"],
            "t0": time.time(),
            "t1": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, owner, attr: str, name: str, counter=None) -> None:
        """Replace owner.attr by a spanned call; counter(rec, result, args,
        kwargs) may add counts to the span."""
        orig = getattr(owner, attr)

        def spanned(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if counter is not None:
                    counter(rec, out, args, kwargs)
                return out

        spanned.__wrapped__ = orig
        setattr(owner, attr, spanned)


class NullTracer(Tracer):
    """Untraced runs: spans cost one generator frame and record nothing."""

    @contextmanager
    def span(self, name: str):
        yield {"counts": {}}

    def current(self) -> None:
        return None


def add(rec: dict, key: str, value) -> None:
    rec["counts"][key] = rec["counts"].get(key, 0) + value


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit arguments for a plain-JSON, single-file event log."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ]


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task totals keyed by job group from the one
    application log in log_dir."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    stages: dict[int, dict] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "t0": ev["Submission Time"] / 1000.0,
                    "t1": None,
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _zero_stage())
                m = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["exec_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st["result_b"] += m.get("Result Size", 0)
    for sid, st in stages.items():
        st["group"] = stage_group.get(sid)
    return {"jobs": jobs, "stages": stages}


def _zero_stage() -> dict:
    return {
        "tasks": 0, "exec_run_s": 0.0, "exec_cpu_s": 0.0,
        "input_b": 0, "shuffle_read_b": 0, "shuffle_write_b": 0, "result_b": 0,
    }


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    start = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            if end is not None:
                total += end - start
            start, end = a, b
        else:
            end = max(end, b)
    if end is not None:
        total += end - start
    return total


def attribute(spans: list[dict], log: dict) -> None:
    """Fill each span's `self` Spark totals (billed by job group) and its
    self time (duration minus the part its child spans cover)."""
    by_gid = {s["gid"]: s for s in spans if "gid" in s}
    for s in spans:
        s["spark"] = {
            "jobs": 0, "stages": 0, "tasks": 0, "exec_run_s": 0.0, "exec_cpu_s": 0.0,
            "input_b": 0, "shuffle_read_b": 0, "shuffle_write_b": 0, "result_b": 0,
        }
        s["job_iv"] = []
    for j in log["jobs"].values():
        s = by_gid.get(j["group"])
        if s is None:
            continue
        s["spark"]["jobs"] += 1
        s["job_iv"].append((j["t0"], j["t1"] if j["t1"] is not None else j["t0"]))
    for st in log["stages"].values():
        s = by_gid.get(st["group"])
        if s is None or not st["tasks"]:
            continue
        agg = s["spark"]
        agg["stages"] += 1
        for k in ("tasks", "exec_run_s", "exec_cpu_s", "input_b", "shuffle_read_b",
                  "shuffle_write_b", "result_b"):
            agg[k] += st[k]
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in spans:
        kids = [(c["t0"], c["t1"]) for c in children.get(s["id"], [])]
        s["self_s"] = (s["t1"] - s["t0"]) - _union_len(kids)
        s["children"] = children.get(s["id"], [])


def subtree(span: dict) -> list[dict]:
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(s["children"])
    return out


def inclusive(span: dict) -> dict:
    """Spark totals of a span and everything under it, plus the wall time
    of the span not covered by any of those jobs (driver-side time)."""
    tot = {k: 0 for k in span["spark"]}
    ivs = []
    for s in subtree(span):
        for k, v in s["spark"].items():
            tot[k] += v
        ivs += s["job_iv"]
    lo, hi = span["t0"], span["t1"]
    clipped = [(max(a, lo), min(b, hi)) for a, b in ivs if b > lo and a < hi]
    tot["driver_side_s"] = (hi - lo) - _union_len(clipped)
    return tot

"""Smoke test of the benchmark harness at tiny sizes: input generation is
seed-determined (diff streams and backfill imports), the event-log attribution bills jobs to the right spans,
the runner refuses a checkout without the program, its process sweep ends
orphaned descendants, and one tiny `build` run end to end prints a correct
result line.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs as I  # noqa: E402
from perfbench import layers as L  # noqa: E402
from perfbench import trace as T  # noqa: E402


def test_world_diffs_are_seeded_and_replayable():
    a = I.World(5, 40, 2)
    b = I.World(5, 40, 2)
    ra, rb = np.random.default_rng([5, 1]), np.random.default_rng([5, 1])
    diffs = [a.diff(ra, k, 4) for k in range(4)]
    assert diffs == [b.diff(rb, k, 4) for k in range(4)]
    assert I.World(6, 40, 2).node_table() != I.World(5, 40, 2).node_table()
    final = I.final_world(5, 40, 2, 4, 4)
    assert final.nodes == a.nodes and final.ways == a.ways and final.rels == a.rels
    # every way refers to live nodes; every relation member is a live way
    assert all(n in a.nodes for _v, refs in a.ways.values() for n in refs)
    assert all(m[1] in a.ways for _v, ms, _t in a.rels.values() for m in ms)
    assert I.diff_table(diffs[0]).num_rows == len(diffs[0])


def test_import_batch_is_seeded_and_self_contained():
    t = I.import_batch(5, 1, 1000, 200, 4 * I.IMPORT_ROW)
    assert t.equals(I.import_batch(5, 1, 1000, 200, 4 * I.IMPORT_ROW))
    assert t.schema == I.DIFF_SCHEMA
    kind = t.column("kind").to_numpy()
    ids = t.column("id").to_numpy()
    nodes = set(ids[kind == 0].tolist())
    assert nodes == set(range(1000, 1000 + 4 * I.IMPORT_ROW))
    ways = t.slice(4 * I.IMPORT_ROW)
    assert set(ways.column("kind").to_pylist()) == {1}
    assert ways.column("id").to_pylist() == list(range(200, 200 + ways.num_rows))
    assert all(len(r) == I.CHAIN_LEN and set(r) <= nodes for r in ways.column("refs").to_pylist())


def test_event_log_attribution(tmp_path):
    tr = T.Tracer()
    with tr.span("op") as op:
        with tr.span("inner") as inner:
            pass
    op["t0"], op["t1"], inner["t0"], inner["t1"] = 100.0, 110.0, 101.0, 105.0
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 101500,
         "Properties": {"spark.jobGroup.id": inner["gid"]}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": inner["gid"]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 2000, "Executor CPU Time": 10**9,
            "Input Metrics": {"Bytes Read": T.MB},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2 * T.MB}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 103500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 106000,
         "Properties": {"spark.jobGroup.id": op["gid"]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 107000},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    T.attribute(tr.spans, T.read_event_log(str(tmp_path)))
    assert inner["spark"]["jobs"] == 1 and op["spark"]["jobs"] == 1
    assert abs(op["self_s"] - 6.0) < 1e-9 and abs(inner["self_s"] - 4.0) < 1e-9
    v = L.op_values(op)
    assert v["spark.jobs"] == 2 and v["inner.jobs"] == 1
    assert abs(v["spark.exec_cpu_s"] - 1.0) < 1e-9
    assert abs(v["inner.shuffle_write_mb"] - 2.0) < 1e-9
    assert abs(v["spark.driver_side_s"] - 7.0) < 1e-9  # 10 s minus 2 s + 1 s of jobs


def test_refuses_checkout_without_program(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for name in ("run.py", "inputs.py", "trace.py", "layers.py", "workloads.py"):
        src = os.path.join(ROOT, "perfbench", name)
        (tmp_path / "perfbench" / name).write_text(open(src).read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""


def test_tiny_build_run(tmp_path, capsys, monkeypatch):
    from perfbench import run, workloads

    monkeypatch.setattr(workloads.Build, "rows", 120)
    monkeypatch.setattr(workloads.Build, "min_ops", 2)
    monkeypatch.setattr(workloads.Build, "reads_per_op", 1)
    # a spawned child would not see the patched sizes: generate in-process
    monkeypatch.setattr(run, "_generate_inputs", lambda *args: None)
    assert run.main(["--workload", "build", "--seed", "3", "--seconds", "0.1"]) == 0
    last = capsys.readouterr().out.strip().splitlines()[-1]
    res = json.loads(last)
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 2
    assert set(res["metrics"]) == set(run.END_TO_END_UNITS)


def test_process_sweep_stops_orphaned_descendants():
    # a shell that backgrounds a sleep and exits leaves the sleep orphaned,
    # as the JVM leaves Spark's Python workers; the sweep must still end it
    code = (
        "import subprocess, sys\n"
        "sys.path.insert(0, sys.argv[1])\n"
        "from perfbench import run\n"
        "run._become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 &'], check=True)\n"
        "assert run._descendants(), 'the orphan should be re-parented here'\n"
        "run._stop_descendants(grace_s=5)\n"
        "print(len(run._descendants()))\n"
    )
    p = subprocess.run([sys.executable, "-c", code, ROOT], capture_output=True, text=True,
                       timeout=60)
    assert p.returncode == 0, p.stderr
    assert p.stdout.strip() == "0"

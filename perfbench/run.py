"""Benchmark of coords_spark: one client in a closed loop per workload.

    python3 perfbench/run.py --workload build|minutely|backfill|pyramid \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The untraced run (--trace 0) prints every
end-to-end metric by name and unit; the traced run (--trace 1) spans the
program's layers, enables Spark's plain-JSON event log and prints the
per-layer metrics. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Everything the run writes stays under <checkout>/.bench_cache/perfbench.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PR_SET_CHILD_SUBREAPER = 36
END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
    "read_p50_s": "s",
    "driver_peak_rss_mb": "MB",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _loadavg() -> str:
    try:
        with open("/proc/loadavg") as f:
            return " ".join(f.read().split()[:3])
    except OSError:
        return "n/a"


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of every CPU so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:8]), v[7]
    except (OSError, ValueError, IndexError):
        return 0, 0


def _reset_peak_rss() -> bool:
    """Restart the kernel's peak-RSS mark so set-up and input generation do
    not count; False where the kernel does not allow it."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


def _peak_rss_mb(reset_ok: bool) -> float:
    if reset_ok:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _environment(work: str, trace_dir: str | None) -> None:
    """Session-independent process settings, identical traced and
    untraced except for the event log arguments."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = ROOT + (
        os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # speculative duplicates add tasks at random; the scaling bench turns
    # speculation off for the same reason
    os.environ["SPARK_GRAFT_SPECULATION"] = "false"
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    ]
    if trace_dir is not None:
        from perfbench import trace as T

        submit += T.event_log_conf(trace_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = None


def _generate_inputs(a, cache: str, work: str) -> None:
    """Fill the input cache in a child process, so the memory generation
    leaves behind never shows in this process's RSS; the prepare() that
    follows here then only reads cached files."""
    code = (
        "import sys\n"
        "from perfbench.trace import NullTracer\n"
        "from perfbench.workloads import WORKLOADS\n"
        "WORKLOADS[sys.argv[1]](sys.argv[2], sys.argv[3], int(sys.argv[4]), NullTracer()).prepare()\n"
    )
    subprocess.run(
        [sys.executable, "-c", code, a.workload, os.path.join(cache, "inputs"), work, str(a.seed)],
        cwd=ROOT, check=True,
    )


def _become_subreaper() -> None:
    """Make processes orphaned under this one (Spark's Python workers once
    the JVM has exited) its children, so _stop_descendants can wait for
    each of them."""
    import ctypes

    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):  # not Linux: the sweep still ends live descendants
        return
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _descendants() -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    found, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            found.append(c)
            todo.append(c)
    return found


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_descendants(grace_s: float = 20.0) -> None:
    """Stop every process this run started and wait until each has ended:
    the Spark JVM first (closing its stdin ends it cleanly), then whatever
    is left, with SIGTERM and, after grace_s, SIGKILL. Gives up, saying so,
    on a process that survives SIGKILL for another grace_s."""
    pyspark = sys.modules.get("pyspark")
    try:
        gateway = pyspark.SparkContext._gateway if pyspark else None
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.poll() is None:
            # disconnect py4j first, so no finalizer calls into a JVM that is gone
            gateway.shutdown()
            proc.stdin.close()
            proc.wait(timeout=grace_s)
    except Exception as e:  # the sweep below still ends it
        print(f"perfbench: closing the Spark JVM: {e!r}", file=sys.stderr)
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        pids = _descendants()
        if not pids:
            return
        now = time.monotonic()
        if now > deadline + grace_s:
            print(f"perfbench: processes {pids} outlived SIGKILL", file=sys.stderr)
            return
        sig = signal.SIGTERM if now < deadline else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def main(argv=None) -> int:
    t_proc = time.perf_counter()
    a = _args(argv)
    if not os.path.exists(os.path.join(ROOT, "coords_spark", "__init__.py")):
        print(f"perfbench: no coords_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import layers as L
    from perfbench import trace as T
    from perfbench.workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cache = os.path.join(ROOT, ".bench_cache", "perfbench")
    work = os.path.join(cache, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    trace_dir = os.path.join(work, "eventlog") if a.trace else None
    if trace_dir:
        os.makedirs(trace_dir)
    _environment(work, trace_dir)
    try:
        return _run(a, cache, work, trace_dir, L, T, WORKLOADS, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(a, cache, work, trace_dir, L, T, WORKLOADS, t_proc) -> int:
    tracer = T.Tracer() if a.trace else T.NullTracer()
    if a.trace:
        L.install(tracer)
    wl = WORKLOADS[a.workload](os.path.join(cache, "inputs"), work, a.seed, tracer)
    os.makedirs(os.path.join(cache, "inputs"), exist_ok=True)
    _generate_inputs(a, cache, work)
    wl.prepare()

    from coords_spark import session

    load_start, ticks_start = _loadavg(), _cpu_ticks()
    ncpu = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    with tracer.span("setup.session"):
        spark = session.get_spark(master=f"local[{ncpu}]", app_name="perfbench")
    t_session = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer.sc = spark.sparkContext
    wl.spark = spark
    t0 = time.perf_counter()
    with tracer.span("setup") as setup_span:
        wl.setup()
    t_setup = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tracer.span("setup.warmup"):
        for k in range(wl.warmup_ops):
            wl.op(-1 - k)
            for _ in range(wl.reads_per_op):
                wl.read(-1 - k)
    t_warm = time.perf_counter() - t0
    setup_s = t_session + t_setup + t_warm

    rss_reset = _reset_peak_rss()
    lat, reads, units, failed, attempted, ops = [], [], 0, 0, 0, []
    errors = []
    t_start = time.perf_counter()
    max_ops = wl.max_ops or float("inf")
    while attempted < wl.min_ops or (
        time.perf_counter() - t_start < a.seconds and attempted < max_ops
    ):
        i = attempted
        attempted += 1
        with tracer.span("op") as rec:
            try:
                t0 = time.perf_counter()
                units += wl.op(i)
                lat.append(time.perf_counter() - t0)
                for _ in range(wl.reads_per_op):
                    t0 = time.perf_counter()
                    wl.read(i)
                    reads.append(time.perf_counter() - t0)
            except Exception as e:  # an op that raises is counted, not fatal
                failed += 1
                errors.append(f"op {i}: {type(e).__name__}: {str(e)[:300]}")
            if a.trace:
                _table_stats(rec, wl.tables())
        ops.append(rec)
    wall = time.perf_counter() - t_start
    rss = _peak_rss_mb(rss_reset)
    load_end, ticks_end = _loadavg(), _cpu_ticks()
    all_t, steal_t = (e - b for b, e in zip(ticks_start, ticks_end))

    problems = []
    if lat:
        try:
            problems = wl.check()
        except Exception as e:
            problems = [f"check raised {type(e).__name__}: {str(e)[:300]}"]
    spark.stop()
    correct = failed == 0 and not problems and bool(lat)

    n = len(lat)
    third = max(1, n // 3)
    drift = statistics.median(lat[:third]) / statistics.median(lat[-third:]) if lat else 0.0
    p50 = statistics.median(lat) if lat else 0.0
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": p50,
        "throughput_per_s": units / wall,
        "read_p50_s": statistics.median(reads) if reads else 0.0,
        "driver_peak_rss_mb": rss,
    }
    print(f"# workload {a.workload} seed {a.seed}: {attempted} ops ({failed} failed) "
          f"in {wall:.2f} s, closed loop, 1 client, local[{ncpu}]")
    print(f"# loadavg start {load_start} end {load_end}; CPU time stolen by the "
          f"hypervisor from set-up to the end of timing {100 * steal_t / max(all_t, 1):.1f} %")
    print(f"# latency: p50 {p50:.4f} s, max {max(lat) if lat else 0:.4f} s over {n} ops; "
          f"first-third/last-third median ratio {drift:.3f}")
    print("# op latencies: " + " ".join(f"{x:.3f}" for x in lat) + " s")
    if reads:
        print(f"# reads: p50 {e2e['read_p50_s']:.4f} s, min {min(reads):.4f} s, "
              f"max {max(reads):.4f} s over {len(reads)} reads")
    print(f"# set-up: session {t_session:.3f} s, program set-up {t_setup:.3f} s, "
          f"warm-up {t_warm:.3f} s")
    print(f"# process wall so far {time.perf_counter() - t_proc:.1f} s")
    for msg in errors + problems:
        print(f"# FAIL {msg}")
    res_dir = os.path.join(cache, "results")
    os.makedirs(res_dir, exist_ok=True)
    # keyed like the inputs (workload, seed, size): the overhead compares like with like
    rec_path = os.path.join(res_dir, os.path.basename(wl.dir) + ".json")
    if not a.trace:
        for k, v in e2e.items():
            print(f"{k:24s} {v:12.4f} {END_TO_END_UNITS[k]}")
        with open(rec_path, "w") as f:
            json.dump(e2e, f)
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    else:
        log = T.read_event_log(trace_dir)
        T.attribute(tracer.spans, log)
        per = L.per_layer_metrics(ops, setup_span, wl.min_ops, lat, drift)
        per["session.get_spark.s"] = t_session
        for k, v in per.items():
            print(f"{k:52s} {v:14.4f} {L.unit(k)}")
        if os.path.exists(rec_path):
            with open(rec_path) as f:
                base = json.load(f)["latency_p50_s"]
            print(f"# tracing overhead: traced latency p50 {p50:.4f} s vs untraced "
                  f"{base:.4f} s (same seed): {100 * (p50 / base - 1):+.1f} %")
        else:
            print("# tracing overhead: no untraced run of this seed recorded yet")
        metrics = {k: {"value": v, "unit": L.unit(k)} for k, v in per.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _table_stats(rec: dict, tables: list[str]) -> None:
    from coords_spark.sources.icepick import IcepickTable

    live = vers = 0
    for p in tables:
        t = IcepickTable(p)
        if t.exists():
            live = max(live, len(t.files()))
            vers = max(vers, len(t.versions()))
    rec["counts"]["live_files"] = live
    rec["counts"]["versions"] = vers


def _process_main() -> int:
    """The benchmark as its own process: main(), then every process it
    started (input generation, the Spark JVM, Spark's Python workers) is
    stopped and waited for, on every path out."""
    _become_subreaper()
    try:
        return main()
    finally:
        _stop_descendants()


if __name__ == "__main__":
    sys.exit(_process_main())

"""Table-lifecycle and corpus-curation benchmark for parquetranger_spark.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_cdc --seed 1 --seconds 10 --trace 0

One client drives the library's public API in a closed loop on a
``local[nproc]`` session: each operation starts when the previous one
has finished and been checked. A run starts the session, runs one
untimed warm-up cycle on tiny scratch tables, sets the workload up three
times (the timed phase uses the third set-up's tables), then runs whole
cycles, at least one, until ``--seconds`` have passed; at the default
sizes one cycle outlasts 10 s, so a 10 s run measures exactly one cycle
and every run has the same op mix. Every result is checked against the
generator's bookkeeping or a numpy reference; a failed call or check
counts as failed and in no latency. The run prints one line per metric
with its unit, then a JSON summary as the last line.

End-to-end metrics (``--trace 0``):

- ``setup_s``: session start plus the median of the three set-ups;
- ``ops_per_s``: completed operations per second of the timed phase;
- ``<group>_p50_s`` for append, upsert, delete, read, feed, search and
  dedup: the median latency of the completed operations of that group
  (``workloads.GROUP`` maps operation types to groups; per-type figures
  and tails are printed as ``# op`` lines);
- ``peak_rss_mb``: peak RSS of the driver's Python process plus the JVM;
- ``storage_amplification``: bytes under the table roots per byte of
  live data files.

``--trace 1`` runs the same work with the Spark event log on and timing
wrappers installed, and reports the per-layer metrics instead (see
``tracing.py``); its spans go to
``.perfbench_work/trace-<workload>-<seed>.json``.

Everything the run writes stays under ``.perfbench_work/`` in the
current directory. The run itself happens in a child process; the parent
waits for it, then stops and waits for every process left below it (the
JVM, Spark's Python workers), also when it is interrupted.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SETUP_REPS = 3
TAIL_MIN_ABOVE = 10


def configure_env(root: str, work: str, trace: bool) -> dict:
    """Pin the session shape before the JVM starts; keep every file the
    JVM, Spark and Python write inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_mem = f"{max(1, min(2, int(mem_gb // 4)))}g"
    tmp, local, events = (os.path.join(work, d) for d in ("tmp", "local", "events"))
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": local,
        # a fixed-size heap: peak RSS then follows the program, not the
        # GC's heap-growth decisions
        "spark.driver.extraJavaOptions": f"-Xms{driver_mem}",
    }
    if trace:
        confs.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + events,
                      "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join([root, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
        + " pyspark-shell",
    })
    return {"nproc": cpus, "driver_mem": driver_mem, "events": events}


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """The highest of a few percentiles that leaves at least ten samples
    above it, and its value; (None, None) when the sample is too small."""
    xs = sorted(values)
    for q in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if len(xs) * (1 - q / 100) >= TAIL_MIN_ABOVE:
            return q, xs[min(len(xs) - 1, math.ceil(q / 100 * len(xs)) - 1)]
    return None, None


def run_loop(wl, seconds: float, tracer=None, sc=None):
    """Whole cycles until ``seconds`` have passed. A failed call or check
    counts as failed and in no latency."""
    ops, failures = [], []
    t0 = time.perf_counter()
    c = 0
    while c == 0 or time.perf_counter() - t0 < seconds:
        for op in wl.cycle(c):
            rec = {"id": len(ops), "kind": op.kind, "ok": False}
            ops.append(rec)
            if tracer is not None:
                tracer.op = rec["id"]
                sc.setJobGroup(f"pb-op-{rec['id']}", op.kind, False)
            rec["start"], p0 = time.time(), time.perf_counter()
            try:
                res = op.run()
            except Exception as e:  # a failed operation is a result, not a crash
                failures.append(f"{op.kind}: {type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}")
                continue
            finally:
                rec["lat"] = time.perf_counter() - p0
                rec["end"] = time.time()
                if tracer is not None:
                    tracer.op = None
                    sc.setJobGroup("pb-idle", "between ops", False)
            if op.drain:
                rec["drain"] = {"run_id": res["run_id"], "progress": res["progress"]}
            try:
                op.check(res)
                rec["ok"] = True
            except Exception as e:  # CheckFailed, or a result the check could not read
                failures.append(f"{op.kind}: check: {type(e).__name__}: {str(e)[:300]}")
        c += 1
    return ops, failures, c


def summarize(ops: list[dict], key=lambda kind: kind) -> dict:
    """Latency figures of the completed operations, by ``key(kind)``."""
    by = defaultdict(list)
    for o in ops:
        if o["ok"] and key(o["kind"]) is not None:
            by[key(o["kind"])].append(o["lat"])
    out = {}
    for kind, xs in sorted(by.items()):
        q, v = tail(xs)
        out[kind] = {"n": len(xs), "p50_s": statistics.median(xs), "mean_s": statistics.fmean(xs),
                     "max_s": max(xs), "tail_pct": q, "tail_s": v}
    return out


def descendants() -> list[int]:
    """Processes below this one, from /proc. A zombie counts: a JVM's
    main thread can end while its other threads still run."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # ended while we looked
            continue
        children[int(stat.rsplit(")", 1)[1].split()[1])].append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process, not to init."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_all(grace_s: float = 5.0) -> None:
    """Stop every process the run started and wait until each has ended.

    This process is a child subreaper, so whatever the run leaves behind
    (the JVM, Spark's Python workers) is re-parented here and can be
    waited for. Give them ``grace_s`` to exit on their own (the JVM exits
    when its parent's pipe closes), then SIGTERM, then SIGKILL."""
    deadline, sig = time.monotonic() + grace_s, None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        alive = descendants()
        if not alive:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig is not None else signal.SIGTERM
            deadline = time.monotonic() + grace_s
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main(argv=None) -> int:
    """Check the arguments, then run the benchmark in a child process and
    stop everything it started, on every way out."""
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "parquetranger_spark", "__init__.py")):
        print("perfbench: no parquetranger_spark package in the current directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    become_subreaper()

    def stop(signum, _frame):
        raise SystemExit(128 + signum)

    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, stop)
    child = None
    try:
        child = subprocess.Popen([sys.executable, os.path.abspath(__file__), "--in-child",
                                  *(argv if argv is not None else sys.argv[1:])])
        return child.wait()
    finally:
        if child is not None and child.poll() is None:
            child.terminate()
        reap_all()


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("default", "tiny"), default="default",
                    help="tiny: the smoke-test scale")
    ap.add_argument("--in-child", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def bench(args: argparse.Namespace) -> int:
    """One run, in the child process ``main`` starts."""
    import workloads

    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    env = configure_env(root, work, bool(args.trace))
    sys.path.insert(0, root)
    load_before = loadavg()

    tracer = None
    if args.trace:
        import tracing as tr

        tracer = tr.Tracer()

    p0 = time.perf_counter()
    from parquetranger_spark import get_spark

    spark = get_spark("perfbench")
    session_s = time.perf_counter() - p0
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    if tracer is not None:
        tracer.install()

    cls = workloads.WORKLOADS[args.workload]
    sizes = cls.TINY if args.size == "tiny" else cls.SIZES
    # untimed warm-up: one cycle on tiny scratch tables, so JIT and
    # codegen costs land before any timed set-up
    w0, phases = time.perf_counter(), {}
    warm = cls(spark, os.path.join(work, "warmup"), args.seed, cls.WARM)
    warm.setup(0)
    phases["warm_setup_s"] = time.perf_counter() - w0
    wops, wfail, _ = run_loop(warm, 0.0)
    for f in wfail:
        print(f"# warm-up FAILED {f}")
    print("# warm-up ops " + " ".join(f"{o['kind']} {o['lat']:.2f}" for o in wops))
    warm.teardown()
    phases["warmup_s"] = time.perf_counter() - w0

    wl = cls(spark, os.path.join(work, "tables"), args.seed, sizes)
    setups = []
    for rep in range(SETUP_REPS):
        s0 = time.perf_counter()
        wl.setup(rep)
        setups.append(time.perf_counter() - s0)
        if rep < SETUP_REPS - 1:
            wl.teardown()
    setup_s = session_s + statistics.median(setups)

    t0 = time.perf_counter()
    ops, failures, cycles = run_loop(wl, args.seconds, tracer, sc)
    phases["timed_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    attempted, failed = len(ops) + 1, sum(not o["ok"] for o in ops)
    try:
        wl.final_checks()
    except Exception as e:  # a failed final check is one failed operation
        failed += 1
        failures.append(f"final: {type(e).__name__}: {str(e)[:300]}")
    defects = wl.defects()
    if args.trace and hasattr(wl, "degenerate_probe"):
        defects.update(wl.degenerate_probe())
    storage = wl.storage()
    rss = hwm_mb("self") + hwm_mb(jvm_pid)
    spark_version = spark.version
    spark.stop()
    phases["finish_s"] = time.perf_counter() - t0
    load_after = loadavg()

    per_op = summarize(ops)
    per_group = summarize(ops, workloads.GROUP.get)
    done = [o for o in ops if o["ok"]]
    ops_per_s = len(done) / phases["timed_s"]
    missing = [g for g in workloads.GROUPS if g not in per_group]
    if missing:  # every operation of a group failed: its latency is not measured
        failures.append(f"no completed operation in group(s) {missing}")
    correct = failed == 0 and not missing
    print(f"# workload {args.workload} seed {args.seed} seconds {args.seconds:g} trace {args.trace} "
          f"size {args.size}")
    print(f"# nproc {env['nproc']} driver_mem {env['driver_mem']} spark {spark_version} "
          f"loadavg_before {load_before} loadavg_after {load_after}")
    print(f"# cycles {cycles} ops {len(ops)} setups_s {[round(x, 3) for x in setups]} "
          f"session_start_s {session_s:.3f} " + " ".join(f"{k} {v:.3f}" for k, v in phases.items()))
    for label, table in (("op", per_op), ("group", per_group)):
        for kind, m in table.items():
            tail_txt = (f"p{m['tail_pct']:g} {m['tail_s']:.4f} s" if m["tail_pct"] is not None
                        else f"n/a (needs >= {TAIL_MIN_ABOVE + 1} samples)")
            print(f"# {label} {kind:13s} n {m['n']:3d} p50 {m['p50_s']:.4f} s mean {m['mean_s']:.4f} s "
                  f"max {m['max_s']:.4f} s tail {tail_txt}")
    print(f"# storage {storage}")
    for k, v in defects.items():
        print(f"# defect {k}: {v}")
    for f in failures:
        print(f"# FAILED {f}")

    if args.trace:
        import tracing as tr

        metrics, kinds = tr.layer_metrics(tracer, ops, tr.read_event_log(env["events"]),
                                          session_s, storage, wl, phases["timed_s"])
        tracer.dump(os.path.join(work, f"trace-{args.workload}-{args.seed}.json"),
                    {"ops": ops, "per_op": per_op, "per_kind_layers": kinds,
                     "unbound": tracer.unbound_names(), "layer_map": tr.LAYER_MAP})
        for kind, k in kinds.items():
            selfs = " ".join(f"{layer} {v:.4f}" for layer, v in k["self_p50_s"].items())
            print(f"# layers {kind:13s} n {k['n']} wall_p50 {k['wall_p50_s']:.4f} s = {selfs}; "
                  f"driver_gap_p50 {k['driver_gap_p50_s']:.4f} s jobs {k['jobs']:.1f} "
                  f"shuffle_write {k['shuffle_write_bytes']:.0f} B python_sent "
                  f"{k['python_bytes_sent']:.0f} B files_written {k['files_written']:.1f}")
        print(f"# untraced-by-wrapper (bound at import time): {tracer.unbound_names()}")
        for k, (e2e, kinds, wls) in tr.LAYER_MAP.items():
            print(f"# layer map: {k} -> {e2e} via {kinds} on {wls}")
        print("# not traced in-process: sources.manifest_stream readers run in Spark's Python "
              "data-source worker processes; the feed.* metrics come from StreamingQuery progress")
    else:
        from tracing import amplification

        metrics = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (ops_per_s, "1/s"),
            "peak_rss_mb": (rss, "MB"),
            "storage_amplification": (amplification(storage), "ratio"),
        }
        for g in workloads.GROUPS:
            metrics[f"{g}_p50_s"] = (per_group[g]["p50_s"] if g in per_group else 0.0, "s")
    for name, (v, unit) in metrics.items():
        print(f"{name} {v:.6g} {unit}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    cli = parse_args()
    sys.exit(bench(cli) if cli.in_child else main())

"""Tracing for the per-layer run, installed from outside the library.

Spans come from timing wrappers placed on the public functions of
``sources.manifest``, the ``LocalFS`` methods of ``sources.fs`` and the
kernel entry points; Spark's side comes from the event log (enabled
through ``PYSPARK_SUBMIT_ARGS`` before the JVM starts) and the streaming
engine's ``recentProgress``. Spans stay in memory and are written to JSON
when the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import statistics
import os
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

MANIFEST_FUNCS = ["load_manifest", "try_commit", "list_versions", "live_files",
                  "prune_partitions", "file_may_match"]
FS_METHODS = ["list_files", "has_any_file", "list_dirs", "list_files_mtimes", "mkdirs",
              "delete", "exists", "read_text", "rename", "list_names",
              "write_text_atomic", "create_exclusive"]
KERNELS = [
    ("parquetranger_spark.operators.ann_index", "AnnIndex", "query"),
    ("parquetranger_spark.operators.ann_index", "AnnIndex", "build"),
    ("parquetranger_spark.operators.similarity", None, "topk_cosine_bruteforce"),
    ("parquetranger_spark.operators.dedup", None, "near_dedup_minhash"),
    ("parquetranger_spark.operators.dedup", None, "exact_dedup"),
]

# Which end-to-end metric each layer metric should move, through which
# operation types, on which workload. Printed with every traced run.
LAYER_MAP = {
    "session.start_s": ("setup_s", "all", "all"),
    "table_repo.self_s": ("every <group>_p50_s, ops_per_s", "every op type", "all"),
    "manifest.load_*, manifest.bytes_read, manifest.versions_listed, manifest.files_kept_ratio":
        ("read_p50_s; ops_per_s", "partition, lookup; time_travel, full_scan", "ingest_cdc"),
    "manifest.commit_*, manifest.cas_conflicts": ("append_p50_s, upsert_p50_s, delete_p50_s",
                                                  "append, upsert, delete", "ingest_cdc"),
    "fs.*": ("read_p50_s, append_p50_s", "partition, lookup, append", "ingest_cdc"),
    "spark.jobs, spark.stages, spark.tasks, spark.failed_tasks": ("every <group>_p50_s", "every op type", "all"),
    "spark.shuffle_*, spark.executor_run_s, spark.gc_s":
        ("upsert_p50_s; dedup_p50_s", "upsert; dedup", "ingest_cdc; corpus_curation"),
    "spark.output_bytes, spark.files_written": ("storage_amplification, append_p50_s", "append, upsert",
                                                "ingest_cdc"),
    "spark.driver_gap_s": ("read_p50_s", "partition, lookup", "ingest_cdc"),
    "feed.*": ("feed_p50_s", "feed", "all"),
    "kernel.*, ann.query_s":
        ("search_p50_s, dedup_p50_s", "ann_search, exact_search, dedup", "corpus_curation"),
    "ann.recall_at_10, dedup.injected_recall": ("quality floor: must not drop", "ann_search; dedup",
                                                "corpus_curation"),
    "storage.*": ("storage_amplification", "-", "ingest_cdc"),
}


class Tracer:
    """In-memory span recorder. Spans of one operation share its op id;
    ``parent`` is the index of the enclosing span (None at op level)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: Counter = Counter()
        self.op: int | None = None
        self._stack: list[int] = []
        self._wrapped: list[tuple] = []

    @contextmanager
    def span(self, name: str, layer: str):
        i = len(self.spans)
        rec = {"name": name, "layer": layer, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": self.op}
        self.spans.append(rec)
        self._stack.append(i)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def _wrap(self, owner, attr: str, layer: str, name: str, on_result=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if tracer.op is None:
                return orig(*a, **kw)
            with tracer.span(name, layer):
                out = orig(*a, **kw)
            if on_result is not None:
                on_result(a, kw, out)
            return out

        setattr(owner, attr, wrapper)
        self._wrapped.append((owner, attr, orig))

    def install(self) -> None:
        import importlib

        from parquetranger_spark.sources import manifest
        from parquetranger_spark.sources.fs import LocalFS

        c = self.counters

        def on_versions(a, kw, out):
            c["manifest.versions_listed"] += len(out)

        def on_commit(a, kw, out):
            if out is False:
                c["manifest.cas_conflicts"] += 1

        def on_match(a, kw, out):
            c["manifest.files_considered"] += 1
            c["manifest.files_kept"] += bool(out)

        def on_read(a, kw, out):
            path = a[1] if len(a) > 1 else kw.get("path", "")
            if f"/{manifest.MANIFEST_DIR}/" in str(path):
                c["manifest.bytes_read"] += len(out.encode())

        hooks = {"list_versions": on_versions, "try_commit": on_commit,
                 "file_may_match": on_match}
        for f in MANIFEST_FUNCS:
            self._wrap(manifest, f, "manifest", f"manifest.{f}", hooks.get(f))
        for m in FS_METHODS:
            self._wrap(LocalFS, m, "fs", f"fs.{m}", on_read if m == "read_text" else None)
        for mod, cls, attr in KERNELS:
            owner = importlib.import_module(mod)
            if cls:
                owner = getattr(owner, cls)
            self._wrap(owner, attr, "kernels", f"{cls or mod.rsplit('.', 1)[1]}.{attr}")

    def unbound_names(self) -> list[str]:
        """Library modules holding an import-time reference to a wrapped
        function: their calls bypass the wrapper and are not traced."""
        originals = {id(orig): f"{owner.__name__}.{attr}" for owner, attr, orig in self._wrapped}
        return sorted(
            f"{name}.{k} -> {originals[id(v)]}"
            for name, mod in list(sys.modules.items())
            if name.startswith("parquetranger_spark") and mod is not None
            for k, v in vars(mod).items()
            if id(v) in originals
        )

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counters": dict(self.counters), **extra}, fh)


# ------------------------------------------------------------------ event log


def read_event_log(event_dir: str) -> dict:
    """Jobs (interval, group, run id, stages) and per-stage task totals
    from the Spark event log of the one application in ``event_dir``."""
    files = sorted(glob.glob(os.path.join(event_dir, "*")))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, Counter] = defaultdict(Counter)
    acc_names: dict[int, str] = {}
    exec_jobs: dict[int, list[int]] = defaultdict(list)
    driver_files: dict[int, float] = Counter()
    py_rows: set[int] = set()

    def plan_metrics(node):
        py = any(w in node.get("nodeName", "") for w in PY_NODES)
        for m in node.get("metrics", []):
            acc_names[m["accumulatorId"]] = m["name"]
            if py and m["name"] == "number of output rows":
                py_rows.add(m["accumulatorId"])
        for ch in node.get("children", []):
            plan_metrics(ch)

    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "start": ev["Submission Time"] / 1000.0, "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "run_id": props.get("sql.streaming.runId") or props.get("spark.sql.streaming.runId"),
                        "ok": True,
                    }
                    if props.get("spark.sql.execution.id") is not None:
                        exec_jobs[int(props["spark.sql.execution.id"])].append(jid)
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get(ev["Job ID"])
                    if j is not None:
                        j["end"] = ev["Completion Time"] / 1000.0
                        j["ok"] = ev.get("Job Result", {}).get("Result") == "JobSucceeded"
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stages[sid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    st = stages[ev["Stage ID"]]
                    st["tasks"] += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        st["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    st["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    om = m.get("Output Metrics") or {}
                    st["output_bytes"] += om.get("Bytes Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name = acc.get("Name")
                        upd = acc.get("Update")
                        if upd is None:
                            continue
                        if name in PY_ACCS:
                            st[PY_ACCS[name]] += _num(upd)
                        elif acc.get("ID") in py_rows:
                            st["python_rows_out"] += _num(upd)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    plan_metrics(ev.get("sparkPlanInfo") or {})
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, val in ev.get("accumUpdates", []):
                        if acc_names.get(acc_id) == "number of written files":
                            driver_files[ev["executionId"]] += val
    for eid, n in driver_files.items():
        if exec_jobs.get(eid):
            jobs[max(exec_jobs[eid])]["files_written"] = n
    job_stages: dict[int, Counter] = defaultdict(Counter)
    for sid, st in stages.items():
        jid = stage_job.get(sid)
        if jid is not None:
            job_stages[jid].update(st)
    for jid, j in jobs.items():
        j["metrics"] = job_stages.get(jid, Counter())
    return jobs


PY_ACCS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}
# plan nodes whose work runs in Python workers (pandas/Arrow UDFs, UDTFs)
PY_NODES = ("Python", "Pandas", "Arrow", "UDTF")


def _num(v) -> float:
    if isinstance(v, (int, float)):
        return v
    try:
        return float(str(v).split()[0])
    except ValueError:
        return 0.0


# ---------------------------------------------------------------- attribution


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def attribute(start: float, end: float, spans: list[tuple], jobs: list[tuple[float, float]]) -> dict:
    """Split one op's wall time among owners: an instant inside a Spark
    job belongs to ``spark``; otherwise to the deepest traced span that
    covers it (``spans`` holds (start, end, layer, depth)); otherwise to
    ``table_repo``, the operation's own driver code. The shares sum to
    the wall time exactly."""
    jobs_c = _union([(max(a, start), min(b, end)) for a, b in jobs if b > start and a < end])
    pts = sorted({start, end, *(x for a, b in jobs_c for x in (a, b)),
                  *(min(max(x, start), end) for s in spans for x in s[:2])})
    owner: Counter = Counter()
    for a, b in zip(pts, pts[1:]):
        mid = (a + b) / 2
        if any(x <= mid < y for x, y in jobs_c):
            owner["spark"] += b - a
            continue
        best = max((s for s in spans if s[0] <= mid < s[1]), key=lambda s: s[3], default=None)
        owner[best[2] if best else "table_repo"] += b - a
    return dict(owner)


# ------------------------------------------------------------------- metrics


def amplification(storage: dict) -> float:
    """Bytes under the table roots per byte of live data files."""
    return storage["bytes_total"] / max(1, storage["bytes_live"])


def _feed(ops: list[dict]) -> dict[str, float]:
    keys = {"latest_offset_ms": "latestOffset", "get_batch_ms": "getBatch",
            "planning_ms": "queryPlanning", "add_batch_ms": "addBatch", "wal_commit_ms": "walCommit"}
    drains = [o for o in ops if o.get("drain") and o["ok"]]
    out = dict.fromkeys(["micro_batches", "rows", *keys, "engine_start_s"], 0.0)
    for o in drains:
        prog = o["drain"]["progress"]
        out["micro_batches"] += sum(1 for p in prog if p.get("numInputRows", 0) > 0)
        out["rows"] += sum(p.get("numInputRows", 0) for p in prog)
        for k, src in keys.items():
            out[k] += sum((p.get("durationMs") or {}).get(src, 0) for p in prog)
        trig = sum((p.get("durationMs") or {}).get("triggerExecution", 0) for p in prog) / 1000.0
        out["engine_start_s"] += o["lat"] - trig
    n = max(1, len(drains))
    return {f"feed.{k}": v / n for k, v in out.items()}


def layer_metrics(tracer: Tracer, ops: list[dict], jobs: dict, session_s: float,
                  storage: dict, wl, timed_s: float) -> tuple[dict[str, tuple[float, str]], dict]:
    """Per-layer metrics of the timed phase, and a per-op-type split of
    wall time by layer. Counts and times are per completed operation
    unless the unit says otherwise."""
    done = [o for o in ops if o["ok"]]
    n = max(1, len(done))
    op_of_run = {o["drain"]["run_id"]: o["id"] for o in ops if o.get("drain")}
    op_jobs: dict[int, list[dict]] = defaultdict(list)
    for j in jobs.values():
        oid = None
        if j["group"] and j["group"].startswith("pb-op-"):
            oid = int(j["group"][6:])
        elif j["run_id"] in op_of_run:
            oid = op_of_run[j["run_id"]]
        elif j["group"] in op_of_run:
            oid = op_of_run[j["group"]]
        if oid is not None and j["end"] is not None:
            op_jobs[oid].append(j)

    spans = tracer.spans
    depth = []
    for s in spans:
        depth.append(0 if s["parent"] is None else depth[s["parent"]] + 1)
    op_spans: dict[int, list[tuple]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s["op"] is not None and s["end"] is not None:
            op_spans[s["op"]].append((s["start"], s["end"], s["layer"], depth[i]))

    own: Counter = Counter()
    spark: Counter = Counter()
    gap = 0.0
    by_kind: dict[str, list[dict]] = defaultdict(list)
    for o in done:
        js = op_jobs.get(o["id"], [])
        shares = attribute(o["start"], o["end"], op_spans.get(o["id"], []),
                           [(j["start"], j["end"]) for j in js])
        wall = o["end"] - o["start"]
        own.update(shares)
        gap += wall - shares.get("spark", 0.0)
        sp: Counter = Counter(jobs=len(js))
        for j in js:
            sp.update(j["metrics"])
            sp["files_written"] += j.get("files_written", 0)
        spark.update(sp)
        by_kind[o["kind"]].append({"wall": wall, "gap": wall - shares.get("spark", 0.0),
                                   "shares": shares, "spark": sp})

    # per op type: the medians of the layer self times (spark = job time)
    # against the median wall; the shares of one op sum to its wall
    worst = 0.0
    kinds = {}
    for kind, rows in sorted(by_kind.items()):
        wall = statistics.median(r["wall"] for r in rows)
        owners = sorted({k for r in rows for k in r["shares"]})
        med = {k: statistics.median(r["shares"].get(k, 0.0) for r in rows) for k in owners}
        worst = max(worst, abs(sum(med.values()) - wall) / wall)
        kinds[kind] = {
            "n": len(rows), "wall_p50_s": wall, "self_p50_s": med,
            "driver_gap_p50_s": statistics.median(r["gap"] for r in rows),
            **{k: statistics.fmean(r["spark"][k] for r in rows)
               for k in ("jobs", "shuffle_write_bytes", "python_bytes_sent", "files_written")},
        }

    def named(prefix):
        return [s for s in spans if s["op"] is not None and s["end"] is not None
                and s["name"] == prefix and (s["parent"] is None or spans[s["parent"]]["name"] != prefix)]

    c = tracer.counters
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_s, "s"),
        "table_repo.self_s": (own["table_repo"] / n, "s/op"),
        "manifest.self_s": (own["manifest"] / n, "s/op"),
        "manifest.load_calls": (len(named("manifest.load_manifest")) / n, "1/op"),
        "manifest.load_s": (sum(s["end"] - s["start"] for s in named("manifest.load_manifest")) / n, "s/op"),
        "manifest.bytes_read": (c["manifest.bytes_read"] / n, "B/op"),
        "manifest.versions_listed": (c["manifest.versions_listed"] / n, "1/op"),
        "manifest.files_kept_ratio": (
            c["manifest.files_kept"] / c["manifest.files_considered"] if c["manifest.files_considered"] else 1.0,
            "ratio"),
        "manifest.commit_calls": (len(named("manifest.try_commit")) / n, "1/op"),
        "manifest.commit_s": (sum(s["end"] - s["start"] for s in named("manifest.try_commit")) / n, "s/op"),
        "manifest.cas_conflicts": (float(c["manifest.cas_conflicts"]), "count"),
        "fs.s": (own["fs"] / n, "s/op"),
    }
    calls = Counter(s["name"] for s in spans if s["op"] is not None and s["layer"] == "fs")
    for meth in FS_METHODS:
        m[f"fs.calls.{meth}"] = (calls[f"fs.{meth}"] / n, "1/op")
    m.update({
        "spark.jobs": (spark["jobs"] / n, "1/op"),
        "spark.stages": (spark["stages"] / n, "1/op"),
        "spark.tasks": (spark["tasks"] / n, "1/op"),
        "spark.failed_tasks": (float(spark["failed_tasks"]), "count"),
        "spark.shuffle_write_bytes": (spark["shuffle_write_bytes"] / n, "B/op"),
        "spark.shuffle_read_bytes": (spark["shuffle_read_bytes"] / n, "B/op"),
        "spark.executor_run_s": (spark["executor_run_s"] / n, "s/op"),
        "spark.gc_s": (spark["gc_s"] / n, "s/op"),
        "spark.output_bytes": (spark["output_bytes"] / n, "B/op"),
        "spark.files_written": (spark["files_written"] / n, "1/op"),
        "spark.job_s": (own["spark"] / n, "s/op"),
        "spark.driver_gap_s": (gap / n, "s/op"),
    })
    m.update({k: (v, "ms/drain" if k.endswith("_ms") else ("s/drain" if k.endswith("_s") else "1/drain"))
              for k, v in _feed(ops).items()})
    kq = [s["end"] - s["start"] for s in named("AnnIndex.query")]
    m.update({
        "kernel.self_s": (own["kernels"] / n, "s/op"),
        "kernel.python_rows_out": (spark["python_rows_out"] / n, "rows/op"),
        "kernel.python_bytes_sent": (spark["python_bytes_sent"] / n, "B/op"),
        "kernel.python_bytes_received": (spark["python_bytes_received"] / n, "B/op"),
        "ann.query_s": (statistics.fmean(kq) if kq else 0.0, "s/call"),
        "ann.recall_at_10": (statistics.fmean(getattr(wl, "recalls", []) or [0.0]), "ratio"),
        "dedup.injected_recall": (statistics.fmean(getattr(wl, "dedup_recalls", []) or [0.0]), "ratio"),
    })
    for k in ("bytes_total", "bytes_live", "files_live", "files_dead", "manifest_bytes"):
        m[f"storage.{k}"] = (float(storage[k]), "B" if "bytes" in k else "count")
    m["storage.amplification"] = (amplification(storage), "ratio")
    m["trace.ops_per_s"] = (len(done) / timed_s, "1/s")
    m["trace.attribution_error"] = (worst, "ratio")
    return m, kinds

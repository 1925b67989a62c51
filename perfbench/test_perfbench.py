"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

(add ``--basetemp DIR`` to keep pytest's scratch files out of the system
temp directory).

The smoke runs drive the real command at the tiny scale; the corruption
test runs one tiny cycle in-process with one result tampered with.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _cli(cwd: str, workload: str, *extra: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_tiny(workload, trace):
    p = _cli(ROOT, workload, "--size", "tiny", "--trace", trace)
    assert p.returncode == 0, p.stderr[-2000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1, p.stdout
    want = _declared("per_layer" if trace == "1" else "end_to_end")
    assert {k: m["unit"] for k, m in last["metrics"].items()} == want
    if trace == "0":
        assert all(m["value"] > 0 for m in last["metrics"].values())


def test_refuses_without_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_cdc", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_reaps_orphaned_descendants():
    # a child that exits and leaves two orphans, one of them deaf to SIGTERM
    code = (
        "import subprocess, run\n"
        "run.become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & (trap \"\" TERM; exec sleep 60) & exit 0'])\n"
        "assert len(run.descendants()) == 2, run.descendants()\n"
        "run.reap_all(grace_s=0.2)\n"
        "assert run.descendants() == [], run.descendants()\n"
        "print('ok')\n"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=HERE, capture_output=True, text=True, timeout=60)
    assert p.stdout.strip() == "ok", p.stderr


def _table_inputs(seed: int) -> bytes:
    g, model = gen.TableGen(seed, 500, delete_keys=30), gen.TableModel()
    out = []
    for _ in range(4):
        b = g.batch()
        model.commit(gen.rows_of(b))
        up = g.upsert(model.rows)
        model.commit(gen.rows_of(up), "upsert")
        dl = g.deletes(model.rows)
        model.commit([(k, None) for k in dl["k"]], "dv")
        out += [b, up, dl]
    return b"".join(pd.util.hash_pandas_object(df, index=True).to_numpy().tobytes() for df in out)


def _corpus_inputs(seed: int) -> bytes:
    g = gen.CorpusGen(seed, 8, 200)
    ids, x = g.vectors(300, zero_share=0.01)
    qids, q = g.queries(x, 10, qid0=1000)
    docs, exact, near = g.documents()
    return (ids.tobytes() + x.tobytes() + qids.tobytes() + q.tobytes()
            + pd.util.hash_pandas_object(docs).to_numpy().tobytes() + repr((exact, near)).encode())


def test_same_seed_same_inputs():
    assert _table_inputs(5) == _table_inputs(5)
    assert _corpus_inputs(5) == _corpus_inputs(5)
    assert _table_inputs(5) != _table_inputs(6)
    assert _corpus_inputs(5) != _corpus_inputs(6)


def test_exact_topk_reference_skips_zero_rows():
    x = np.array([[1.0, 0.0], [0.0, 0.0], [0.9, 0.1], [0.0, 1.0]])
    idx, cos = workloads.exact_topk(x, np.array([[1.0, 0.0]]), 3)
    assert idx.tolist() == [[0, 2, 3]]
    assert cos[0, 0] == pytest.approx(1.0)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    run.configure_env(ROOT, work, trace=False)
    sys.path.insert(0, ROOT)
    from parquetranger_spark import get_spark

    s = get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s, work
    s.stop()


class _Tampered:
    """Delegates to a workload but corrupts the result of one op kind."""

    def __init__(self, wl, kind, corrupt):
        self.wl, self.kind, self.corrupt = wl, kind, corrupt

    def cycle(self, c):
        for op in self.wl.cycle(c):
            if op.kind == self.kind:
                orig = op.run
                op = workloads.Op(op.kind, lambda orig=orig: self.corrupt(orig()), op.check, op.drain)
            yield op


def _last_progress(res, edit):
    """A drain result whose last progress entry with an end offset is
    edited in place by ``edit``."""
    prog = [p for p in res["progress"] if p.get("sources", [{}])[0].get("endOffset") is not None]
    edit(prog[-1])
    return res


def _shift_end(p):
    end = int(re.findall(r"\d+", str(p["sources"][0]["endOffset"]))[-1])
    p["sources"][0]["endOffset"] = str(end - 1)


def _extra_row(p):
    p["numInputRows"] = p.get("numInputRows", 0) + 1


def _first_neighbour_only(rows):
    seen, out = set(), []
    for qid, nid in rows:
        if qid not in seen:
            seen.add(qid)
            out.append((qid, nid))
    return out


@pytest.mark.parametrize("workload,kind,corrupt", [
    ("ingest_cdc", "partition", lambda r: (r[0] + 1, r[1])),
    ("ingest_cdc", "lookup", lambda r: (r[0], r[1][1:])),
    ("ingest_cdc", "time_travel", lambda r: (r[0], r[1] - 1)),
    ("ingest_cdc", "full_scan", lambda r: (r[0] - 1, r[1])),
    ("ingest_cdc", "feed", lambda r: _last_progress(r, _shift_end)),
    ("ingest_cdc", "feed", lambda r: _last_progress(r, _extra_row)),
    ("ingest_cdc", "exact_search", lambda r: r[1:]),
    ("corpus_curation", "ann_search", _first_neighbour_only),
    ("corpus_curation", "dedup", lambda r: (set(), r[1])),
])
def test_corrupted_result_fails_check(spark, workload, kind, corrupt):
    s, work = spark
    wl = workloads.WORKLOADS[workload](s, os.path.join(work, f"t-{workload}-{kind}"), 3, workloads.WORKLOADS[workload].TINY)
    wl.setup(0)
    try:
        clean = run.run_loop(wl, 0.0)[1]
        assert clean == []
        ops, failures, _ = run.run_loop(_Tampered(wl, kind, corrupt), 0.0)
        assert failures and {f.split(":")[0] for f in failures} == {kind}, failures
        assert [o["ok"] for o in ops] == [o["kind"] != kind for o in ops]
    finally:
        wl.teardown()

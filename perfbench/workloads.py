"""The benchmark workloads: set-up, one timed cycle of operations, checks.

A workload yields ``Op`` objects. ``run`` calls the library and returns
a small Python result (every DataFrame is collected inside ``run``, so
the timed region covers the Spark work). ``check`` compares that result
with the generator's bookkeeping or a numpy reference, outside the timed
region, and raises ``CheckFailed`` on a mismatch.

Both workloads run every operation type the end-to-end latency metrics
name (``GROUP``), so every run reports every metric; they differ in
where the weight sits. ``ingest_cdc`` is a large keyed table's life
cycle with a small curation pass beside it; ``corpus_curation`` is
search and dedup over a large corpus with a small document-metadata
table beside it.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
from dataclasses import dataclass, replace
from typing import Any, Callable, Iterator

import numpy as np

from gen import CorpusGen, TableGen, TableModel, rows_of


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], None]
    drain: bool = False


# The end-to-end latency metric (``<group>_p50_s``) each operation type
# counts in. The other types (``time_travel``, ``full_scan``, ``ann_build``)
# count only in ``ops_per_s``: a time-travel read's latency follows its
# Zipf-drawn version, and one sample a run is too few for a steady median
# of its own.
GROUP = {
    "append": "append", "upsert": "upsert", "delete": "delete", "partition": "read", "lookup": "read",
    "feed": "feed", "ann_search": "search", "exact_search": "search", "dedup": "dedup",
}
GROUPS = ("append", "upsert", "delete", "read", "feed", "search", "dedup")


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(root) for n in names)


def storage_of(root: str) -> dict[str, int]:
    """Bytes and data files under a manifest table's root, split into the
    live snapshot's files and everything else (dead files, manifests)."""
    from parquetranger_spark.sources.fs import LocalFS
    from parquetranger_spark.sources.manifest import MANIFEST_DIR, live_files, load_manifest

    live = live_files(load_manifest(LocalFS(), root), root)
    data_files = sum(1 for _, _, ns in os.walk(root) for n in ns if n.endswith(".parquet"))
    return {
        "bytes_total": dir_bytes(root), "bytes_live": sum(os.path.getsize(p) for p in live),
        "files_live": len(live), "files_dead": data_files - len(live),
        "manifest_bytes": dir_bytes(os.path.join(root, MANIFEST_DIR)),
    }


@dataclass
class TableSizes:
    batch_rows: int
    delete_keys: int
    upserts: tuple[str, ...]  # the upserts each cycle runs, in order
    point_reads: int  # partition reads and point lookups per cycle, each
    history_reads: bool  # a time-travel and a full read per cycle
    setup_batches: int = 2
    appends: int = 1  # the cycle's batch goes in as this many extends
    deletes: int = 5  # small dv deletes per cycle
    mid_drain: bool = True  # drain after the upserts, too, not only at the end


@dataclass
class CorpusSizes:
    n_vec: int
    n_docs: int
    doc_slice: int
    queries: tuple[int, ...]  # one query batch per entry, per cycle
    ann: bool  # build and query an IVF index
    dim: int = 64
    probe_rows: int = 2_000


class TableOps:
    """A keyed, day-partitioned manifest table's life cycle. Each cycle
    runs ``sizes.appends`` extends of one batch, the keyed upserts in
    ``sizes.upserts`` (replace_records, merge), with ``sizes.mid_drain`` a
    change-feed drain, ``sizes.deletes`` deletion-vector deletes, partition
    reads and stats/bloom point lookups, with ``sizes.history_reads`` a
    time-travel and a full read, and a drain. The drains feed a subscriber
    that started at the end of set-up."""

    def __init__(self, spark, work: str, seed: int, sizes: TableSizes) -> None:
        self.spark, self.work, self.seed, self.sizes = spark, work, seed, sizes
        self.t = None

    def _df(self, pdf):
        return self.spark.createDataFrame(pdf, schema="k string, day int, v long, s string")

    def _keys_df(self, pdf):
        return self.spark.createDataFrame(pdf, schema="k string")

    def setup(self, rep: int) -> None:
        from parquetranger_spark import TableRepo

        self.root = os.path.join(self.work, f"table_{rep}")
        self.ckpt = self.root + "_feed_ckpt"
        self.teardown()
        self.gen = TableGen(self.seed, self.sizes.batch_rows, delete_keys=self.sizes.delete_keys)
        self.model = TableModel()
        self.t = TableRepo(
            self.root, group_cols="day", index_cols="k", commit_mode="manifest",
            stats_cols=["k", "v"], bloom_cols="s", spark=self.spark,
        )
        for _ in range(self.sizes.setup_batches):
            pdf = self.gen.batch()
            self.t.extend(self._df(pdf))
            self.model.commit(rows_of(pdf))
        dels = self.gen.deletes(self.model.rows)
        self.t.delete_records_dv(self._keys_df(dels))
        self.model.commit([(k, None) for k in dels["k"]], "dv")
        self.fed = self.model.version
        self.feed_start = self.fed + 1
        self.reemitted = 0

    def teardown(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.rmtree(self.ckpt, ignore_errors=True)

    def _agg(self, df) -> tuple[int, int]:
        from pyspark.sql import functions as F

        r = df.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).collect()[0]
        return int(r["n"]), int(r["s"] or 0)

    def _committed(self, changes, kind: str) -> None:
        """A write's check: it published exactly one new version. Its rows
        are checked by the reads and the feed drain that follow."""
        self.model.commit(changes, kind)
        vs = self.t.versions()
        expect(vs[-1] == self.model.version, f"table at version {vs[-1]}, expected {self.model.version}")

    def ops(self, c: int) -> Iterator[Op]:
        t, gen, model = self.t, self.gen, self.model

        # the batch goes in as several extends: one 0.6 s op jitters by a
        # quarter of its time, so its median needs several samples
        batch, n = gen.batch(), self.sizes.appends
        for i in range(n):
            pdf = batch.iloc[i * len(batch) // n:(i + 1) * len(batch) // n]
            df = self._df(pdf)
            yield Op("append", lambda df=df: t.extend(df),
                     lambda _, pdf=pdf: self._committed(rows_of(pdf), "append"))

        for name in self.sizes.upserts:
            up = gen.upsert(model.rows)
            udf = self._df(up)
            fn = getattr(t, name)
            yield Op("upsert", lambda: fn(udf), lambda _: self._committed(rows_of(up), "upsert"))
        # two drains, after the upserts and at the end of the cycle: a
        # single 2.5 s sample drifts with the host by more than the bound
        if self.sizes.mid_drain:
            yield Op("feed", self._drain, self._check_drain, drain=True)

        # several small deletes: a 0.2 s op jitters by a quarter of its
        # time, so its median needs several samples
        for _ in range(self.sizes.deletes):
            dels = gen.deletes(model.rows)
            kdf = self._keys_df(dels)
            yield Op("delete", lambda: t.delete_records_dv(kdf),
                     lambda _: self._committed([(k, None) for k in dels["k"]], "dv"))

        for i in range(self.sizes.point_reads):
            yield from self._point_reads(c + i)
        if self.sizes.history_reads:
            yield from self._history_reads()

        yield Op("feed", self._drain, self._check_drain, drain=True)

    def _point_reads(self, i: int) -> Iterator[Op]:
        t, gen, model = self.t, self.gen, self.model
        # the current partition, or every other time the one before it
        day = max(gen.day - i % 2, 0)
        yield Op("partition", lambda: self._agg(t.get_partition_df(day)),
                 lambda got: expect(got == model.day_agg(day), f"partition {day}: {got} != {model.day_agg(day)}"))

        keys = sorted(model.rows)
        key = keys[gen.pick(len(keys))]
        tok = model.rows[keys[gen.pick(len(keys))]][2]

        def lookup():
            a = t.get_full_df_skipping([("k", "==", key)]).collect()
            b = t.get_full_df_skipping([("s", "==", tok)]).collect()
            return [tuple(x) for x in a], sorted(x["k"] for x in b)

        def lookup_check(got):
            a, b = got
            d, v, s = model.rows[key]
            expect(a == [(key, v, s, d)] or a == [(key, d, v, s)], f"lookup {key}: {a}")
            want = sorted(k for k, row in model.rows.items() if row[2] == tok)
            expect(b == want, f"bloom lookup {tok}: {b} != {want}")

        yield Op("lookup", lookup, lookup_check)

    def _history_reads(self) -> Iterator[Op]:
        t, gen, model = self.t, self.gen, self.model
        latest = model.version
        ver = max(1, latest - gen.zipf_back(latest))
        yield Op("time_travel", lambda: self._agg(t.get_full_df(version=ver)),
                 lambda got: expect(got == model.versions[ver], f"version {ver}: {got} != {model.versions[ver]}"))
        yield Op("full_scan", lambda: self._agg(t.get_full_df()),
                 lambda got: expect(got == model.versions[model.version], f"full: {got}"))

    def _drain(self):
        from pyspark.sql import functions as F

        q = (
            self.t.stream_changes(starting_version=self.feed_start)
            # counts for the check; dv deletes arrive as key-only rows
            .observe("feed", F.count(F.lit(1)).alias("rows"),
                     F.count(F.when(F.col("v").isNull(), 1)).alias("key_only"))
            .writeStream.format("noop")
            .option("checkpointLocation", self.ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(150)
        progress = q.recentProgress
        progress = [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in progress]
        return {"run_id": str(q.runId), "progress": progress,
                "exception": q.exception()}

    def _check_drain(self, got) -> None:
        """The drain reached the table's version and emitted exactly the
        data-file rows the versions since the previous drain put on the
        feed, and a key-only delete row for each key they dv-deleted. A
        partition rewrite may emit key-only rows again for tombstones it
        folds (``defects`` reports how many); at most that many extra are
        accepted."""
        expect(got["exception"] is None, f"feed failed: {got['exception']}")
        ends = [p.get("sources", [{}])[0].get("endOffset") for p in got["progress"]]
        ends = [e for e in ends if e is not None]
        expect(bool(ends), "feed made no progress")
        end = int(re.findall(r"\d+", str(ends[-1]))[-1])
        expect(end == self.model.version, f"feed ended at {end}, table at {self.model.version}")
        rows = sum(p.get("numInputRows", 0) for p in got["progress"])
        key_only = sum(p.get("observedMetrics", {}).get("feed", {}).get("key_only", 0) for p in got["progress"])
        vs = range(self.fed + 1, end + 1)
        m = self.model
        want = sum(m.feed_file_rows[v] for v in vs)
        expect(rows - key_only == want,
               f"feed drained {rows - key_only} data-file rows for versions {self.fed + 1}..{end}, expected {want}")
        dv, folded = sum(m.feed_dv_keys[v] for v in vs), sum(m.folded[v] for v in vs)
        expect(dv <= key_only <= dv + folded,
               f"feed drained {key_only} key-only deletes for versions {self.fed + 1}..{end}, "
               f"expected {dv} (+ up to {folded} re-emitted)")
        self.reemitted += key_only - dv
        self.fed = end

    def final_checks(self) -> None:
        n = self.t.count_rows()
        expect(n == len(self.model.rows), f"count_rows {n} != {len(self.model.rows)}")
        vs = self.t.versions()
        expect(vs[-1] == self.model.version, f"version {vs[-1]} != {self.model.version}")

    def storage(self) -> dict[str, int]:
        return storage_of(self.root)


def exact_topk(corpus: np.ndarray, q: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Cosine top-k by numpy; zero-norm corpus rows have no cosine and
    never rank."""
    cn = np.linalg.norm(corpus, axis=1)
    qn = np.linalg.norm(q, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = (q @ corpus.T) / np.outer(qn, cn)
    cos[:, cn == 0] = -np.inf
    idx = np.argsort(-cos, axis=1, kind="stable")[:, :k]
    return idx, np.take_along_axis(cos, idx, axis=1)


class CurationOps:
    """Corpus curation: exact top-k search over embeddings stored in a
    table, MinHash and exact dedup over documents read back through a
    table and, with ``sizes.ann``, an IVF index build and ANN search."""

    K, N_PROBE = 10, 8
    # quality floors, fixed from seed runs at the default sizes
    RECALL_FLOOR, DEDUP_FLOOR = 0.80, 0.95

    def __init__(self, spark, work: str, seed: int, sizes: CorpusSizes) -> None:
        self.spark, self.work, self.seed, self.sizes = spark, work, seed, sizes

    def _vec_df(self, ids, x):
        import pandas as pd

        pdf = pd.DataFrame({"vec_id": ids, "shard": (ids % 4).astype(np.int32),
                            "embedding": list(x)})
        return self.spark.createDataFrame(pdf, schema="vec_id long, shard int, embedding array<double>")

    def setup(self, rep: int) -> None:
        from parquetranger_spark import AnnIndex, TableRepo

        s = self.sizes
        self.recalls, self.dedup_recalls = [], []
        self.root = os.path.join(self.work, f"corpus_{rep}")
        self.teardown()
        self.gen = CorpusGen(self.seed, s.dim, s.n_docs)
        ids, x = self.gen.vectors(s.n_vec)
        self.ids, self.x = ids, x
        self.emb = TableRepo(self.root + "/emb", group_cols="shard", index_cols="vec_id",
                             commit_mode="manifest", spark=self.spark)
        self.emb.extend(self._vec_df(ids, x))
        docs, exact, near = self.gen.documents()
        self.docs_pdf, self.pairs = docs, [tuple(sorted(p)) for p in exact + near]
        self.docs = TableRepo(self.root + "/docs", group_cols="shard", index_cols="doc_id",
                              commit_mode="manifest", spark=self.spark)
        self.docs.extend(self.spark.createDataFrame(docs, schema="doc_id long, shard int, text string"))
        self.index = AnnIndex(self.root + "/ann", spark=self.spark) if s.ann else None

    def teardown(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def ops(self, c: int) -> Iterator[Op]:
        from parquetranger_spark.operators.dedup import exact_dedup, near_dedup_minhash
        from parquetranger_spark.operators.similarity import topk_cosine_bruteforce

        s, gen = self.sizes, self.gen
        if s.ann and c == 0:
            n_ids = len(self.ids)

            def build_check(n_lists):
                expect(n_lists == max(4, math.isqrt(n_ids)), f"ann build: {n_lists} lists")
                n = self.index.postings.count_rows()
                expect(n == n_ids, f"ann postings {n} != {n_ids}")

            yield Op("ann_build", lambda: self.index.build(self.emb.get_full_df(), seed=self.seed % 1000),
                     build_check)

        # the batch sizes are fixed per cycle: the seed picks the queries,
        # not the amount of work
        for i, nq in enumerate(s.queries):
            qids, q = gen.queries(self.x, nq, qid0=10**9 + (len(s.queries) * c + i) * 1000)
            qdf = self._vec_df(qids, q)
            ref_idx, ref_cos = exact_topk(self.x, q, self.K)
            ids = self.ids

            if s.ann:
                def ann():
                    rows = self.index.query(qdf, k=self.K, n_probe=self.N_PROBE).collect()
                    return [(r["query_id"], r["neighbor_id"]) for r in rows]

                def ann_check(got):
                    found: dict[int, set] = {}
                    for qid, nid in got:
                        found.setdefault(int(qid), set()).add(int(nid))
                    hits = sum(len(found.get(int(qid), set()) & set(ids[ref_idx[i]].tolist()))
                               for i, qid in enumerate(qids))
                    r = hits / (len(qids) * self.K)
                    self.recalls.append(r)
                    expect(r >= self.RECALL_FLOOR, f"ann recall@{self.K} {r:.3f} < {self.RECALL_FLOOR}")

                yield Op("ann_search", ann, ann_check)

            def exact():
                rows = topk_cosine_bruteforce(qdf, self.emb.get_full_df(), k=self.K).collect()
                return [(r["query_id"], r["neighbor_id"], r["cos"]) for r in rows]

            def exact_check(got):
                byq: dict[int, list] = {}
                for qid, nid, cos in got:
                    byq.setdefault(int(qid), []).append((cos, int(nid)))
                for i, qid in enumerate(qids):
                    want = set(ids[ref_idx[i]].tolist())
                    have = byq.get(int(qid), [])
                    have_ids = {nid for _, nid in have}
                    if have_ids == want:
                        continue
                    # equal scores may legitimately swap at rank k
                    kth = ref_cos[i, -1]
                    ok = len(have) == self.K and all(
                        nid in want or (cos is not None and abs(cos - kth) < 1e-12) for cos, nid in have
                    )
                    expect(ok, f"exact top-{self.K} for query {qid}: {sorted(have_ids)} != {sorted(want)}")

            yield Op("exact_search", exact, exact_check)

        lo = (c * s.doc_slice // 2) % max(1, s.n_docs - s.doc_slice + 1)
        hi = lo + s.doc_slice

        def dedup():
            from pyspark.sql import functions as F

            sl = self.docs.get_full_df().where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            pairs = near_dedup_minhash(sl).select("id_a", "id_b").collect()
            groups = exact_dedup(sl).where(F.col("n_copies") > 1).collect()
            return ({tuple(sorted((int(r[0]), int(r[1])))) for r in pairs},
                    sorted((int(r["doc_id"]), int(r["n_copies"])) for r in groups))

        def dedup_check(got):
            pairs, groups = got
            inj = [p for p in self.pairs if lo <= p[0] < hi and lo <= p[1] < hi]
            r = sum(p in pairs for p in inj) / max(1, len(inj))
            self.dedup_recalls.append(r)
            expect(r >= self.DEDUP_FLOOR, f"dedup injected recall {r:.3f} < {self.DEDUP_FLOOR}")
            sl = self.docs_pdf[(self.docs_pdf.doc_id >= lo) & (self.docs_pdf.doc_id < hi)]
            sl = sl[sl.text.notna()]
            g = sl.groupby("text").doc_id.agg(["min", "count"])
            want = sorted((int(a), int(n)) for a, n in zip(g["min"], g["count"]) if n > 1)
            expect(groups == want, f"exact dedup groups {groups[:5]}... != {want[:5]}...")

        yield Op("dedup", dedup, dedup_check)

    def degenerate_probe(self) -> dict[str, str]:
        """The same search calls on a small corpus that holds zero-norm
        rows (0.1%, at least one), as real embedding tables do. Run once
        per run outside the timed loop; what fails is reported."""
        from parquetranger_spark import AnnIndex
        from parquetranger_spark.operators.similarity import topk_cosine_bruteforce

        gen = CorpusGen(self.seed + 7, self.sizes.dim, 0)
        ids, x = gen.vectors(self.sizes.probe_rows, zero_share=0.001)
        qids, q = gen.queries(x, 20, qid0=10**9)
        corpus, qdf = self._vec_df(ids, x), self._vec_df(qids, q)
        out = {}
        try:
            idx = AnnIndex(self.root + "/probe_ann", spark=self.spark)
            idx.build(corpus, seed=1)
            idx.query(qdf, k=self.K, n_probe=self.N_PROBE).collect()
            out["ann_search_with_zero_norm_rows"] = "ok"
        except Exception as e:  # the defect under report
            out["ann_search_with_zero_norm_rows"] = f"failed: {type(e).__name__}: {str(e).splitlines()[0][:120]}"
        rows = topk_cosine_bruteforce(qdf, corpus, k=self.K).collect()
        ref_idx, _ = exact_topk(x, q, self.K)
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), set()).add(int(r["neighbor_id"]))
        wrong = sum(got.get(int(qid), set()) != set(ids[ref_idx[i]].tolist()) for i, qid in enumerate(qids))
        out["exact_search_with_zero_norm_rows"] = f"{wrong}/{len(qids)} queries differ from numpy top-{self.K}"
        return out

    def final_checks(self) -> None:
        n = self.emb.count_rows()
        expect(n == len(self.ids), f"emb count_rows {n} != {len(self.ids)}")
        n = self.docs.count_rows()
        expect(n == self.sizes.n_docs, f"docs count_rows {n} != {self.sizes.n_docs}")

    def storage(self) -> dict[str, int]:
        subs = ("emb", "docs", "ann/postings", "ann/centroids") if self.sizes.ann else ("emb", "docs")
        out: dict[str, int] = {}
        for sub in subs:
            for k, v in storage_of(os.path.join(self.root, sub)).items():
                out[k] = out.get(k, 0) + v
        return out


class Workload:
    """A table part and a curation part, run one after the other in each
    cycle. ``SIZES`` is the benchmark scale, ``TINY`` the smoke-test
    scale and ``WARM`` the warm-up's, which runs each kind of operation
    once."""

    name: str
    SIZES: tuple[TableSizes, CorpusSizes]
    TINY: tuple[TableSizes, CorpusSizes]
    WARM: tuple[TableSizes, CorpusSizes]

    def __init__(self, spark, work: str, seed: int, sizes: tuple[TableSizes, CorpusSizes]) -> None:
        self.table = TableOps(spark, work, seed, sizes[0])
        self.corpus = CurationOps(spark, work, seed, sizes[1])
        self.parts = (self.table, self.corpus)

    def setup(self, rep: int) -> None:
        for p in self.parts:
            p.setup(rep)

    def teardown(self) -> None:
        for p in self.parts:
            p.teardown()

    def cycle(self, c: int) -> Iterator[Op]:
        for p in self.parts:
            yield from p.ops(c)

    def final_checks(self) -> None:
        for p in self.parts:
            p.final_checks()

    def storage(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for p in self.parts:
            for k, v in p.storage().items():
                out[k] = out.get(k, 0) + v
        return out

    def defects(self) -> dict[str, str]:
        """Library behaviour that is reported, not failed."""
        n = self.table.reemitted
        if not n:
            return {}
        return {"feed_reemitted_dv_deletes": f"{n} key-only delete rows emitted again, for keys "
                f"dv-deleted in earlier versions, by the partition rewrite that folded them"}

    @property
    def recalls(self) -> list[float]:
        return self.corpus.recalls

    @property
    def dedup_recalls(self) -> list[float]:
        return self.corpus.dedup_recalls


class IngestCdc(Workload):
    """Write-heavy: a 10k-row batch in three extends, a replace_records
    rewriting the newest partitions, dv deletes, partition reads and
    stats/bloom lookups, a Zipf-skewed time-travel read, a full read and
    two change-feed drains carrying the cycle's rewrites, on a table set
    up with one batch. Beside it, three exact searches and one
    dedup of a small corpus per cycle."""

    name = "ingest_cdc"
    SIZES = (TableSizes(batch_rows=10_000, delete_keys=500, upserts=("replace_records",), point_reads=2,
                        history_reads=True, setup_batches=1, appends=3),
             CorpusSizes(n_vec=2_000, n_docs=1_000, doc_slice=1_000, queries=(50,) * 3, ann=False))
    TINY = (TableSizes(batch_rows=600, delete_keys=20, upserts=("replace_records",), point_reads=1,
                       history_reads=True, appends=2),
            CorpusSizes(n_vec=300, n_docs=300, doc_slice=300, queries=(10,), ann=False, dim=16))
    WARM = (replace(TINY[0], appends=1, deletes=1, mid_drain=False), TINY[1])


class CorpusCuration(Workload):
    """The LLM-data pipeline: an IVF index build, ANN and exact top-k
    search, MinHash and exact dedup; work sits in the Python/Arrow
    kernels and the MinHash shuffles. Beside it, a small keyed
    document-metadata table: three extends, a merge, five dv deletes,
    partition read, point lookup and two feed drains per cycle."""

    name = "corpus_curation"
    SIZES = (TableSizes(batch_rows=2_000, delete_keys=100, upserts=("merge",), point_reads=1,
                        history_reads=False, setup_batches=1, appends=3),
             CorpusSizes(n_vec=4_000, n_docs=4_000, doc_slice=2_000, queries=(100,), ann=True))
    TINY = (TableSizes(batch_rows=600, delete_keys=20, upserts=("merge",), point_reads=1,
                       history_reads=False, setup_batches=1),
            CorpusSizes(n_vec=1_500, n_docs=600, doc_slice=300, queries=(10,), ann=True, dim=16,
                        probe_rows=300))
    # the warm-up leaves the index out: the timed cycle's build comes
    # first and warms the search path, and no latency metric counts it
    WARM = (replace(TINY[0], deletes=1, mid_drain=False), replace(TINY[1], ann=False))

    def degenerate_probe(self) -> dict[str, str]:
        return self.corpus.degenerate_probe()


WORKLOADS = {w.name: w for w in (IngestCdc, CorpusCuration)}

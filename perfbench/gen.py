"""Seeded input generators for the benchmark workloads.

Everything the library receives is built here from ``--seed`` with one
``numpy.random.Generator`` per stream, so the same seed yields the same
bytes whatever the run's timing. The generators also keep the
bookkeeping the correctness checks compare against (the live key set,
per-version aggregates); the library never sees that state.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _keys(ids: np.ndarray) -> np.ndarray:
    return np.array([f"k{i:09d}" for i in ids], dtype=object)


def _tokens(vals: np.ndarray) -> np.ndarray:
    return np.array([f"t{x:08x}" for x in vals], dtype=object)


class TableModel:
    """The row set a keyed, day-partitioned table should hold.

    ``rows`` maps key -> (day, v, s). ``versions`` maps every committed
    manifest version to the (count, sum of v) it should expose; the
    ``feed_*`` maps give the rows it should put on the change feed."""

    def __init__(self) -> None:
        self.rows: dict[str, tuple[int, int, str]] = {}
        self.version = 0
        self.versions: dict[int, tuple[int, int]] = {0: (0, 0)}
        self._sum_v = 0
        # rows held in each day's data files (dv-deleted rows stay there
        # until a rewrite) and the dv-deleted keys per day not yet rewritten
        # away. Per version, what it puts on the change feed: data-file rows
        # (its removed files' rows, then its added files' rows) and one
        # key-only delete row per dv-deleted key; and how many tombstones
        # its partition rewrite folds away.
        self.file_rows: dict[int, int] = {}
        self.tombstones: dict[int, int] = {}
        self.feed_file_rows: dict[int, int] = {}
        self.feed_dv_keys: dict[int, int] = {}
        self.folded: dict[int, int] = {}

    def commit(self, changes: list[tuple[str, tuple | None]], kind: str = "append") -> int:
        """Apply one committed write. ``kind`` is how the table writes it:
        ``append`` adds files, ``upsert`` rewrites every day partition its
        rows touch, ``dv`` only records the deleted keys."""
        days = {self.rows[k][0] if row is None else row[0] for k, row in changes
                if row is not None or k in self.rows}
        removed = folded = 0
        if kind == "upsert":
            removed = sum(self.file_rows.get(d, 0) for d in days)
            folded = sum(self.tombstones.pop(d, 0) for d in days)
        elif kind == "dv":
            for k, _ in changes:
                d = self.rows[k][0]
                self.tombstones[d] = self.tombstones.get(d, 0) + 1
        for k, row in changes:
            old = self.rows.pop(k, None)
            if old is not None:
                self._sum_v -= old[1]
            if row is not None:
                self.rows[k] = row
                self._sum_v += row[1]
        fed = 0
        if kind == "append":
            for _, row in changes:
                self.file_rows[row[0]] = self.file_rows.get(row[0], 0) + 1
            fed = len(changes)
        elif kind == "upsert":
            live = {d: 0 for d in days}
            for d, _, _ in self.rows.values():
                if d in live:
                    live[d] += 1
            self.file_rows.update(live)
            fed = removed + sum(live.values())
        self.version += 1
        self.versions[self.version] = (len(self.rows), self._sum_v)
        self.feed_file_rows[self.version] = fed
        self.feed_dv_keys[self.version] = len(changes) if kind == "dv" else 0
        self.folded[self.version] = folded
        return self.version

    def day_agg(self, day: int) -> tuple[int, int]:
        n = s = 0
        for d, v, _ in self.rows.values():
            if d == day:
                n += 1
                s += v
        return n, s


class TableGen:
    """Batches for the write-heavy table workload.

    ``day`` advances every two batches; ``late_share`` of each batch lands
    in one of the three previous days. Upserts take a share of the newest
    batch's still-live keys, so a rewrite touches the current partition
    plus the few older ones its late rows live in."""

    def __init__(
        self,
        seed: int,
        batch_rows: int,
        upsert_share: float = 0.10,
        delete_keys: int = 500,
        late_share: float = 0.05,
    ) -> None:
        self.rng = np.random.default_rng([seed, 1])
        self.batch_rows = batch_rows
        self.upsert_share = upsert_share
        self.delete_keys = delete_keys
        self.late_share = late_share
        self.next_id = 0
        self.batches = 0
        self.newest: np.ndarray = np.array([], dtype=object)

    @property
    def day(self) -> int:
        return max(self.batches - 1, 0) // 2

    def batch(self) -> pd.DataFrame:
        n, rng = self.batch_rows, self.rng
        day = self.batches // 2
        self.batches += 1
        ids = np.arange(self.next_id, self.next_id + n)
        self.next_id += n
        days = np.full(n, day, dtype=np.int32)
        if day > 0:
            late = rng.random(n) < self.late_share
            back = rng.integers(1, min(day, 3) + 1, size=n)
            days = np.where(late, day - back, days).astype(np.int32)
        df = pd.DataFrame(
            {
                "k": _keys(ids),
                "day": days,
                "v": rng.integers(0, 1_000_000, size=n, dtype=np.int64),
                "s": _tokens(rng.integers(0, 2**32, size=n, dtype=np.int64)),
            }
        )
        self.newest = df["k"].to_numpy()
        return df

    def upsert(self, live: dict[str, tuple]) -> pd.DataFrame:
        cand = [k for k in self.newest if k in live]
        n = max(1, int(len(self.newest) * self.upsert_share))
        pick = sorted(self.rng.choice(len(cand), size=min(n, len(cand)), replace=False))
        keys = [cand[i] for i in pick]
        return pd.DataFrame(
            {
                "k": np.array(keys, dtype=object),
                "day": np.array([live[k][0] for k in keys], dtype=np.int32),
                "v": self.rng.integers(0, 1_000_000, size=len(keys), dtype=np.int64),
                "s": _tokens(self.rng.integers(0, 2**32, size=len(keys), dtype=np.int64)),
            }
        )

    def deletes(self, live: dict[str, tuple]) -> pd.DataFrame:
        keys = sorted(live)
        pick = sorted(self.rng.choice(len(keys), size=min(self.delete_keys, len(keys)), replace=False))
        return pd.DataFrame({"k": np.array([keys[i] for i in pick], dtype=object)})

    def pick(self, n: int) -> int:
        return int(self.rng.integers(0, n))

    def zipf_back(self, n_versions: int) -> int:
        """How many versions back a time-travel read goes: Zipf-skewed
        toward the newest version, bounded by the versions retained."""
        return int(min(self.rng.zipf(1.5) - 1, n_versions - 1))


def rows_of(df: pd.DataFrame) -> list[tuple[str, tuple]]:
    return [
        (k, (int(d), int(v), s))
        for k, d, v, s in zip(df["k"], df["day"], df["v"], df["s"])
    ]


class CorpusGen:
    """Clustered embeddings (optionally with a sliver of zero-norm rows),
    and documents with injected exact and near duplicates plus a few null
    texts."""

    WORDS = 400

    def __init__(self, seed: int, dim: int, n_docs: int, n_centers: int = 24) -> None:
        self.rng = np.random.default_rng([seed, 2])
        self.dim = dim
        self.centers = self.rng.normal(size=(n_centers, dim)) * 3.0
        self.n_docs = n_docs
        self.next_vec = 0

    def vectors(self, n: int, zero_share: float = 0.0) -> tuple[np.ndarray, np.ndarray]:
        rng = self.rng
        which = rng.integers(0, len(self.centers), size=n)
        x = self.centers[which] + rng.normal(size=(n, self.dim))
        if zero_share > 0:
            x[rng.choice(n, size=max(1, int(round(n * zero_share))), replace=False)] = 0.0
        ids = np.arange(self.next_vec, self.next_vec + n, dtype=np.int64)
        self.next_vec += n
        return ids, x

    def queries(self, base: np.ndarray, n: int, qid0: int) -> tuple[np.ndarray, np.ndarray]:
        """Queries near stored vectors; drawn only from nonzero rows."""
        nz = np.flatnonzero(np.linalg.norm(base, axis=1) > 0)
        pick = self.rng.choice(nz, size=n, replace=False)
        q = base[pick] + self.rng.normal(scale=0.3, size=(n, self.dim))
        return np.arange(qid0, qid0 + n, dtype=np.int64), q

    def documents(self) -> tuple[pd.DataFrame, list[tuple[int, int]], list[tuple[int, int]]]:
        """Docs plus the injected (original, copy) pairs: exact copies and
        near copies (one word of ~40 changed)."""
        rng, n = self.rng, self.n_docs
        texts: list[str | None] = []
        for _ in range(n):
            words = rng.integers(0, self.WORDS, size=int(rng.integers(30, 50)))
            texts.append(" ".join(f"w{w}" for w in words))
        exact, near = [], []
        slots = rng.permutation(n)
        n_exact, n_near = n // 50, n // 25
        for j in range(n_exact):
            src, dst = int(slots[2 * j]), int(slots[2 * j + 1])
            texts[dst] = texts[src]
            exact.append((src, dst))
        base = 2 * n_exact
        for j in range(n_near):
            src, dst = int(slots[base + 2 * j]), int(slots[base + 2 * j + 1])
            words = texts[src].split(" ")
            words[int(rng.integers(0, len(words)))] = f"x{int(rng.integers(0, 10**6))}"
            texts[dst] = " ".join(words)
            near.append((src, dst))
        nulls = slots[base + 2 * n_near : base + 2 * n_near + max(1, n // 2000)]
        for i in nulls:
            texts[int(i)] = None
        df = pd.DataFrame(
            {
                "doc_id": np.arange(n, dtype=np.int64),
                "shard": (np.arange(n) % 4).astype(np.int32),
                "text": np.array(texts, dtype=object),
            }
        )
        return df, exact, near

"""Seeded input generator for the sync workload.

Everything here is plain pyarrow/numpy in the calling process, run outside
the timed windows. :class:`SyncCorpus` is the ``index_documents`` source,
written as ``events.parquet``: the table the program's
``sources.parquet.index_documents`` view reads. ``event_type`` is the index,
``event_id`` the id, ``props`` the JSON document, ``ts`` the ``updated_at``
watermark column, and ``event_id % 13 == 0`` marks a tombstone. Indexes have
Zipf sizes; documents are lognormal JSON around 1 KB.
:meth:`SyncCorpus.apply_batch` rewrites the table state for one CDC batch
and keeps the ground truth: the live ``id -> document`` per index.

The query workload generates nothing: it reads a copy of the repository's
sf0.01 test tables kept under ``perfbench/data``.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "archive record object media item scan photo video audio film tape "
    "letter manuscript folder batch ingest index mirror alias publish sync "
    "delta watermark schema field value title subject creator rights "
    "license collection series box page frame reel master copy access"
).split()

TOMBSTONE_MOD = 13  # the source view's rule: event_id % 13 == 0 is deleted
BASE_TS = datetime(2024, 1, 1)


def _text_pool(rng: np.random.Generator, n_chars: int) -> str:
    """A long random word stream; document bodies are slices of it."""
    n_words = n_chars // 6 + 16
    return " ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), n_words)])


def _document(schema: str, rev: int, body: str) -> str:
    return (
        '{"schema_maintainer":{"schema_name":"%s"},"rev":%d,"body":"%s"}'
        % (schema, rev, body)
    )


def zipf_weights(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1)
    return w / w.sum()


@dataclass
class BatchStats:
    """What one CDC batch changed, for write-amplification and reporting."""

    changed_rows: int
    changed_bytes: int


class SyncCorpus:
    """The source table state plus its ground truth, kept in memory.

    One row per id. A CDC batch updates rows in place, appends new ids and
    re-stamps tombstones; every touched row gets ``updated_at`` = the
    generation time, so the next incremental sync's inclusive watermark
    picks up exactly the batch."""

    def __init__(self, seed: int, n_docs: int, n_indexes: int):
        self.rng = np.random.default_rng(seed)
        self.pool = _text_pool(self.rng, 400_000)
        self.n_original = n_indexes
        self.indexes = [f"or-{k:02d}" for k in range(n_indexes)]
        self.schema_rev = {name: 1 for name in self.indexes}
        ids = self.rng.permutation(n_docs).astype(np.int64)
        self.id = ids
        self.index = self.rng.choice(n_indexes, size=n_docs, p=zipf_weights(n_indexes))
        self.rev = np.zeros(n_docs, dtype=np.int64)
        # old stamps: a month before any sync, so the first incremental
        # watermark (the full sync's start) excludes them
        self.ts = np.datetime64(BASE_TS, "us") + self.rng.integers(
            0, 30 * 86400, n_docs
        ).astype("timedelta64[s]")
        self.doc = [self._new_doc(int(i)) for i in self.index]
        self.next_id = n_docs
        self.n_new_indexes = 0

    # -- documents -----------------------------------------------------------
    def _body(self) -> str:
        n = int(np.clip(self.rng.lognormal(np.log(900), 0.5), 150, 8000))
        off = int(self.rng.integers(0, len(self.pool) - n))
        return self.pool[off : off + n].strip()

    def _new_doc(self, k: int, rev: int = 0) -> str:
        name = self.indexes[k]
        return _document(f"{name}_v{self.schema_rev[name]}", rev, self._body())

    # -- the table state -----------------------------------------------------
    def table(self) -> pa.Table:
        return pa.table(
            {
                "event_id": pa.array(self.id, pa.int64()),
                "ts": pa.array(self.ts, pa.timestamp("us")),
                "event_type": pa.array(np.asarray(self.indexes)[self.index]),
                "props": pa.array(self.doc, pa.string()),
            }
        )

    def write(self, src_dir: str) -> None:
        """Replace ``events.parquet`` atomically (write-temp-then-rename)."""
        os.makedirs(src_dir, exist_ok=True)
        tmp = os.path.join(src_dir, ".events.parquet.tmp")
        pq.write_table(self.table(), tmp, row_group_size=64 * 1024)
        os.replace(tmp, os.path.join(src_dir, "events.parquet"))

    def live(self) -> dict[str, dict[str, str]]:
        """Ground truth: the expected live ``id -> document`` per index."""
        out: dict[str, dict[str, str]] = {name: {} for name in self.indexes}
        dead = self.id % TOMBSTONE_MOD == 0
        for i, k, doc, d in zip(self.id, self.index, self.doc, dead):
            if not d:
                out[self.indexes[k]][str(i)] = doc
        return out

    def live_bytes(self) -> int:
        dead = self.id % TOMBSTONE_MOD == 0
        return sum(
            len(doc) + len(str(i))
            for i, doc, d in zip(self.id, self.doc, dead)
            if not d
        )

    # -- CDC -----------------------------------------------------------------
    def apply_batch(self, kind: str, share: float, stamp: datetime,
                    new_index: bool = False, drift: bool = False) -> BatchStats:
        """Apply one CDC batch of ``share`` of the corpus.

        ``small`` batches split their updates evenly over the same two
        original indexes, Zipf size ranks 0 and 2, so every small batch of
        every seed costs about the same, and a traced batch and an
        untraced one do the same work. ``large`` batches spread over every
        index. A batch is
        75% updates, 15% new ids and 10% re-stamped tombstones. ``new_index`` adds one index;
        ``drift`` bumps one small index's ``schema_name`` on all its rows,
        which forces the runner's schema-drift rebuild."""
        rng = self.rng
        n = max(3, int(round(share * len(self.id))))
        n_idx = len(self.indexes)
        if kind == "small":
            chosen = np.array([0, 2])
        else:
            chosen = np.arange(n_idx)
        in_chosen = np.isin(self.index, chosen)
        dead = self.id % TOMBSTONE_MOD == 0
        n_upd, n_new = int(n * 0.75), int(n * 0.15)
        n_tomb = n - n_upd - n_new
        touched: list[int] = []
        live = in_chosen & ~dead
        if kind == "small":  # the updates split evenly over the two indexes
            quotas = (n_upd - n_upd // 2, n_upd // 2)
            upd = np.concatenate([
                rng.choice(np.flatnonzero(live & (self.index == c)), q, replace=False)
                for c, q in zip(chosen, quotas)])
        else:
            upd = rng.choice(np.flatnonzero(live), n_upd, replace=False)
        tomb_pool = np.flatnonzero(in_chosen & dead)
        tomb = rng.choice(tomb_pool, min(n_tomb, len(tomb_pool)), replace=False)
        for row in upd:
            self.rev[row] += 1
            self.doc[row] = self._new_doc(int(self.index[row]), int(self.rev[row]))
        touched += [*upd.tolist(), *tomb.tolist()]
        new_k = rng.choice(chosen, n_new).tolist()
        if new_index:
            name = f"or-new{self.n_new_indexes:02d}"
            self.n_new_indexes += 1
            self.indexes.append(name)
            self.schema_rev[name] = 1
            new_k += [len(self.indexes) - 1] * max(8, n // 20)
        if drift:
            # the smallest original index: a rebuild, not a corpus rewrite
            drifted = self.indexes[self.n_original - 1]
            self.schema_rev[drifted] += 1
            k = self.indexes.index(drifted)
            rows = np.flatnonzero(self.index == k)
            for row in rows:
                self.rev[row] += 1
                self.doc[row] = self._new_doc(k, int(self.rev[row]))
            touched += rows.tolist()
        start = len(self.id)
        self._append(new_k)
        touched += list(range(start, len(self.id)))
        rows = np.unique(np.asarray(touched, dtype=np.int64))
        self.ts[rows] = np.datetime64(stamp, "us")
        return BatchStats(
            changed_rows=len(rows),
            changed_bytes=sum(len(self.doc[r]) + len(str(self.id[r])) for r in rows),
        )

    def _append(self, ks: list[int]) -> None:
        m = len(ks)
        if not m:
            return
        self.id = np.concatenate([self.id, np.arange(self.next_id, self.next_id + m)])
        self.next_id += m
        self.index = np.concatenate([self.index, np.asarray(ks, dtype=self.index.dtype)])
        self.rev = np.concatenate([self.rev, np.zeros(m, dtype=np.int64)])
        self.ts = np.concatenate([self.ts, np.full(m, BASE_TS, dtype="datetime64[us]")])
        self.doc += [self._new_doc(k) for k in ks]


def fingerprint(pairs) -> tuple[int, int]:
    """Order-insensitive ``(count, sum of 64-bit digests)`` of ``(id, doc)``
    pairs; the fake ES computes the same figure for an index."""
    total, n = 0, 0
    for i, doc in pairs:
        h = hashlib.blake2b(f"{i}\x1f{doc}".encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n, total

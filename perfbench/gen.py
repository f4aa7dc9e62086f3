"""Seeded input generators for the benchmark workloads.

Pure Python and deterministic: the same seed yields byte-identical base
tables and batches, and every batch is folded into a running digest so two
runs can show they measured the same load. Nothing here imports Spark or
``hoodie_spark``; the workloads turn these rows into DataFrames.

Orders mimic the sf0.1 ``orders`` table (150k rows, dates 1995-01-01 to
2001-08-01) plus an ``o_version`` column that serves as the precombine
field, so the latest write of a key always wins. Documents mimic the sf0.1
``documents`` table (~300-character bags of words).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random
from dataclasses import dataclass, field

import pyarrow as pa

ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.date32()), ("o_orderpriority", pa.string()),
    ("o_version", pa.int64())])
ORDER_COLUMNS = tuple(ORDERS_SCHEMA.names)
DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                         ("crawl", pa.string())])


def to_arrow(rows: list[tuple], schema: pa.Schema) -> pa.Table:
    """Row tuples as an Arrow table (Spark reads it without Python
    workers)."""
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
        schema=schema)


_STATUSES = ("F", "O", "P")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_DAY0 = dt.date(1995, 1, 1)
_DAYS = (dt.date(2001, 8, 1) - _DAY0).days


class Digest:
    """Running sha256 over everything a generator hands out."""

    def __init__(self):
        self._h = hashlib.sha256()
        self.batches = 0

    def add(self, rows) -> None:
        for r in rows:
            self._h.update(repr(r).encode())
            self._h.update(b"\n")
        self.batches += 1

    def hexdigest(self) -> str:
        return self._h.hexdigest()[:16]


@dataclass
class OrderBatch:
    round_no: int
    upserts: list[tuple]          # full rows; new keys included
    deletes: list[tuple]          # full rows of keys removed this round

    @property
    def records(self) -> int:
        return len(self.upserts) + len(self.deletes)


class OrderStream:
    """Base orders plus per-round upsert/delete batches.

    Each round upserts ``upsert_frac`` of the base size, ``recent_share``
    of it drawn from orders dated in the last ``recent_days`` (the
    latest partitions), adds ``new_per_round`` fresh keys, and every
    ``delete_every``-th round deletes ``delete_rows`` keys with the same
    skew. A
    deleted key is never written again, and a round's deletes are
    disjoint from its upserts, so the expected table is the last write
    of every key that was not deleted.
    """

    def __init__(self, seed: int, base_rows: int = 150_000,
                 upsert_frac: float = 0.01, new_per_round: int = 20,
                 delete_every: int = 3, delete_rows: int = 100,
                 recent_days: int = 365, recent_share: float = 0.9):
        self.rng = random.Random(seed)
        self.base_rows = base_rows
        self.upsert_rows = max(1, int(base_rows * upsert_frac))
        self.new_per_round = new_per_round
        self.delete_every = delete_every
        self.delete_rows = delete_rows
        self.recent_share = recent_share
        self.digest = Digest()
        self._recent_day = _DAYS - recent_days
        self._base = [self._order(k, self.rng.randrange(_DAYS), 0)
                      for k in range(base_rows)]
        self.dates = {r[0]: r[4] for r in self._base}
        self._all = list(range(base_rows))
        self._recent = [r[0] for r in self._base
                        if (r[4] - _DAY0).days >= self._recent_day]
        self.deleted: set[int] = set()
        self.next_key = base_rows
        self.round_no = 0
        self.digest.add(self._base)

    def _order(self, key: int, day: int, version: int) -> tuple:
        rng = self.rng
        return (key, rng.randrange(1, 15_000), rng.choice(_STATUSES),
                rng.randrange(100_000, 50_000_000) / 100.0,
                _DAY0 + dt.timedelta(days=day),
                rng.choice(_PRIORITIES), version)

    def base(self) -> list[tuple]:
        return self._base

    def _pick(self, pool: list[int], n: int, taken: set[int]) -> list[int]:
        out: list[int] = []
        while len(out) < n:
            k = pool[self.rng.randrange(len(pool))]
            if k not in taken and k not in self.deleted:
                taken.add(k)
                out.append(k)
        return out

    def next_batch(self) -> OrderBatch:
        self.round_no += 1
        v = self.round_no
        taken: set[int] = set()
        n_recent = int(self.upsert_rows * self.recent_share)
        keys = self._pick(self._recent, n_recent, taken)
        keys += self._pick(self._all, self.upsert_rows - n_recent, taken)
        ups = []
        for k in keys:
            r = self._order(k, 0, v)
            ups.append(r[:4] + (self.dates[k],) + r[5:])
        for _ in range(self.new_per_round):
            k = self.next_key
            self.next_key += 1
            taken.add(k)
            r = self._order(k, _DAYS - 1 - self.rng.randrange(30), v)
            self.dates[k] = r[4]
            self._recent.append(k)
            ups.append(r)
        dels = []
        if self.delete_every and v % self.delete_every == 0:
            n_recent = int(self.delete_rows * self.recent_share)
            for k in (self._pick(self._recent, n_recent, taken)
                      + self._pick(self._all, self.delete_rows - n_recent,
                                   taken)):
                dels.append(self._order(k, 0, v)[:4] + (self.dates[k],)
                            + (_PRIORITIES[0], v))
            self.deleted.update(r[0] for r in dels)
        batch = OrderBatch(v, ups, dels)
        self.digest.add(ups)
        self.digest.add(dels)
        return batch


# ------------------------------------------------------------- documents
_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "that", "for", "it",
              "with", "as", "on", "was", "by")


def _vocabulary(n: int = 600) -> list[str]:
    # fixed across seeds: the seed picks documents, not the language
    rng = random.Random(7)
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: list[str] = []
    seen: set[str] = set(_STOPWORDS)
    while len(words) < n:
        w = "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


_VOCAB = _vocabulary()
# Zipf-like weights so the bigram LM sees a head and a tail
_WEIGHTS = [1.0 / (i + 1) ** 0.9 for i in range(len(_VOCAB))]


@dataclass
class DocBatch:
    round_no: int
    crawl: str
    rows: list[tuple]                      # (doc_id, text, crawl)
    kinds: dict[int, str] = field(default_factory=dict)  # id -> kind

    def ids(self, kind: str) -> set[int]:
        return {i for i, k in self.kinds.items() if k == kind}


class DocStream:
    """Base corpus plus per-round document batches.

    A batch of ``batch_docs`` documents holds ``exact_share`` byte copies
    of earlier documents, ``near_share`` token-edited copies (about one
    word in twenty replaced), ``junk_share`` documents of fewer than 20
    words (the Gopher gate rejects them) and fresh documents for the
    rest. Copies are drawn from every document offered so far, kept or
    not, which is what the dedup state registers.
    """

    def __init__(self, seed: int, base_docs: int = 2500,
                 batch_docs: int = 200, exact_share: float = 0.15,
                 near_share: float = 0.10, junk_share: float = 0.05):
        self.rng = random.Random(seed)
        self.batch_docs = batch_docs
        self.exact_share = exact_share
        self.near_share = near_share
        self.junk_share = junk_share
        self.digest = Digest()
        self.texts: list[str] = []          # every text offered so far
        self.next_id = 0
        self.round_no = 0
        self._base = [self._row(self._fresh(), "c000")
                      for _ in range(base_docs)]
        self.digest.add(self._base)

    def _words(self, n: int) -> list[str]:
        rng = self.rng
        out = []
        for _ in range(n):
            if rng.random() < 0.3:
                out.append(rng.choice(_STOPWORDS))
            else:
                out.append(rng.choices(_VOCAB, _WEIGHTS)[0])
        return out

    def _fresh(self) -> str:
        return " ".join(self._words(self.rng.randint(25, 80)))

    def _near(self, text: str) -> str:
        words = text.split(" ")
        for _ in range(max(1, len(words) // 20)):
            words[self.rng.randrange(len(words))] = self._words(1)[0]
        out = " ".join(words)
        return out if out != text else out + " " + self._words(1)[0]

    def _row(self, text: str, crawl: str) -> tuple:
        row = (self.next_id, text, crawl)
        self.next_id += 1
        return row

    def base(self) -> list[tuple]:
        return self._base

    def _register(self, rows: list[tuple]) -> None:
        self.texts.extend(r[1] for r in rows)

    def start(self) -> None:
        """Mark the base corpus as offered (call once it is loaded)."""
        self._register(self._base)

    def next_batch(self) -> DocBatch:
        self.round_no += 1
        crawl = f"c{self.round_no:03d}"
        n = self.batch_docs
        n_exact = int(n * self.exact_share)
        n_near = int(n * self.near_share)
        n_junk = int(n * self.junk_share)
        kinds = (["exact"] * n_exact + ["near"] * n_near + ["junk"] * n_junk
                 + ["fresh"] * (n - n_exact - n_near - n_junk))
        self.rng.shuffle(kinds)
        seen = self.texts
        rows, by_id = [], {}
        for kind in kinds:
            if kind == "exact":
                text = seen[self.rng.randrange(len(seen))]
            elif kind == "near":
                text = self._near(seen[self.rng.randrange(len(seen))])
            elif kind == "junk":
                text = " ".join(self._words(self.rng.randint(5, 15)))
            else:
                text = self._fresh()
            row = self._row(text, crawl)
            by_id[row[0]] = kind
            rows.append(row)
        self._register(rows)
        self.digest.add(rows)
        return DocBatch(self.round_no, crawl, rows, by_id)

"""Seeded input generators with planted ground truth.

Every input the benchmark feeds the program is written here, as parquet
files under a work directory, from a single integer seed: the same seed
gives byte-identical files. The program only ever receives the file paths;
the generator keeps the truth (distinct keys, live keys, planted updates,
deletes, duplicates) that the end-of-run checks compare against.

Two generators:

* :class:`VaultGen` — a TPC-H-lineitem-shaped order/part/supplier fact
  feed plus a customer dimension. ``snapshot()`` writes the backfill;
  ``next_delta()`` writes one small lineitem delta (planted updates and
  new lines) or one full customer snapshot (planted updates, new keys and
  vanished keys, which a ``sat_full`` load turns into deletion rows).
* :class:`CorpusGen` — a synthetic text corpus with 64-dim embeddings:
  a history to index, then batches with planted exact duplicates,
  near duplicates (known token edits of a history document, embedding
  jittered) and low-quality documents that fail the default
  ``textops.quality_filter`` rules.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")

LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]
)

CUSTOMER_SCHEMA = pa.schema(
    [
        ("c_custkey", pa.int64()),
        ("c_name", pa.string()),
        ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
    ]
)


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


@dataclass
class VaultSizes:
    """Input sizes of one vault workload run."""

    orders: int = 2000          # backfill orders (1-7 lines each)
    parts: int = 2000
    suppliers: int = 100
    customers: int = 400
    delta_updates: int = 100    # lineitem lines re-versioned per delta
    delta_new_orders: int = 30  # new orders per delta (~4 lines each)
    cust_updates: int = 15      # customers re-versioned per snapshot
    cust_new: int = 5           # customers first seen per snapshot
    cust_deletes: int = 5       # customers vanishing per snapshot


@dataclass
class FlowFile:
    """One generated input file and what loading it must do."""

    source: str          # 'lineitem' or 'customer'
    path: str
    rows: int
    bytes: int
    distinct_hub_keys: int = 0   # distinct keys staged, summed over hubs
    distinct_link_keys: int = 0


@dataclass
class VaultTruth:
    """Cumulative expected vault state after every loaded file."""

    orders: set = field(default_factory=set)
    parts: set = field(default_factory=set)
    suppliers: set = field(default_factory=set)
    customers: set = field(default_factory=set)     # ever seen
    live_customers: set = field(default_factory=set)
    lines: int = 0               # distinct link keys
    lsat_rows: int = 0           # backfill versions + updates + new lines
    hsat_rows: int = 0           # versions + tombstones
    tombstones: int = 0


class VaultGen:
    """Lineitem + customer feed with planted deltas (see module docstring).

    Keeps the *current* payload of every line and customer, so every planted
    update is guaranteed to change the satellite hash diff and the
    expected row counts are exact."""

    def __init__(self, seed: int, out_dir: str):
        self.rng = np.random.default_rng(seed)
        self.out_dir = out_dir
        self.sizes = VaultSizes()
        self.truth = VaultTruth()
        self.n_files = 0
        os.makedirs(out_dir, exist_ok=True)
        # current lineitem state, one row per link key (order, line number)
        self.li: dict[str, np.ndarray] = {}
        # current customer state: custkey -> (name, nation, acctbal, segment)
        self.cust: dict[int, tuple] = {}
        self.next_order = 1
        self.next_part = self.sizes.parts + 1
        self.next_supp = self.sizes.suppliers + 1
        self.next_cust = 1

    # -- lineitem ----------------------------------------------------------

    def _new_lines(self, n_orders: int) -> dict[str, np.ndarray]:
        rng = self.rng
        per = rng.integers(1, 8, n_orders)
        okeys = np.repeat(np.arange(self.next_order, self.next_order + n_orders), per)
        self.next_order += n_orders
        linenos = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
        n = len(okeys)
        parts = rng.integers(1, self.next_part, n)
        supps = rng.integers(1, self.next_supp, n)
        # deltas plant a few first-seen parts and suppliers as well
        if self.truth.lines:
            fresh_p = rng.random(n) < 0.02
            parts[fresh_p] = np.arange(self.next_part, self.next_part + fresh_p.sum())
            self.next_part += int(fresh_p.sum())
            fresh_s = rng.random(n) < 0.005
            supps[fresh_s] = np.arange(self.next_supp, self.next_supp + fresh_s.sum())
            self.next_supp += int(fresh_s.sum())
        qty = rng.integers(1, 51, n).astype(np.float64)
        return {
            "l_orderkey": okeys.astype(np.int64),
            "l_partkey": parts.astype(np.int64),
            "l_suppkey": supps.astype(np.int64),
            "l_linenumber": linenos,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
            "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
            "l_returnflag": rng.choice(np.array(["A", "N", "R"], dtype=object), n),
            "l_linestatus": rng.choice(np.array(["F", "O"], dtype=object), n),
            "l_shipdate": EPOCH_1992
            + rng.integers(0, 2500, n).astype("timedelta64[D]").astype("timedelta64[us]"),
        }

    def _fold_lines(self, cols: dict[str, np.ndarray]) -> None:
        t = self.truth
        t.orders.update(cols["l_orderkey"].tolist())
        t.parts.update(cols["l_partkey"].tolist())
        t.suppliers.update(cols["l_suppkey"].tolist())
        n = len(cols["l_orderkey"])
        t.lines += n
        t.lsat_rows += n
        if self.li:
            self.li = {k: np.concatenate([self.li[k], v]) for k, v in cols.items()}
        else:
            self.li = dict(cols)

    def _write_lineitem(self, cols: dict[str, np.ndarray]) -> FlowFile:
        self.n_files += 1
        path = os.path.join(self.out_dir, f"lineitem_{self.n_files:05d}.parquet")
        rows = len(cols["l_orderkey"])
        ff = FlowFile("lineitem", path, rows,
                      _write(pa.table(cols, schema=LINEITEM_SCHEMA), path))
        ff.distinct_hub_keys = (
            len(np.unique(cols["l_orderkey"]))
            + len(np.unique(cols["l_partkey"]))
            + len(np.unique(cols["l_suppkey"]))
        )
        ff.distinct_link_keys = rows  # (order, line number) is unique per file
        return ff

    # -- customer ----------------------------------------------------------

    def _new_customers(self, n: int) -> None:
        rng = self.rng
        for _ in range(n):
            k = self.next_cust
            self.next_cust += 1
            self.cust[k] = (
                f"Customer#{k:09d}",
                int(rng.integers(0, 25)),
                float(np.round(rng.uniform(-999.99, 9999.99), 2)),
                SEGMENTS[int(rng.integers(0, len(SEGMENTS)))],
            )
            self.truth.customers.add(k)
            self.truth.live_customers.add(k)

    def _write_customers(self) -> FlowFile:
        self.n_files += 1
        path = os.path.join(self.out_dir, f"customer_{self.n_files:05d}.parquet")
        keys = sorted(self.cust)
        vals = [self.cust[k] for k in keys]
        table = pa.table(
            {
                "c_custkey": np.array(keys, dtype=np.int64),
                "c_name": [v[0] for v in vals],
                "c_nationkey": np.array([v[1] for v in vals], dtype=np.int32),
                "c_acctbal": np.array([v[2] for v in vals], dtype=np.float64),
                "c_mktsegment": [v[3] for v in vals],
            },
            schema=CUSTOMER_SCHEMA,
        )
        ff = FlowFile("customer", path, len(keys), _write(table, path))
        ff.distinct_hub_keys = len(keys)
        return ff

    # -- public ------------------------------------------------------------

    def snapshot(self) -> list[FlowFile]:
        """The backfill: a lineitem snapshot and a customer snapshot."""
        s = self.sizes
        cols = self._new_lines(s.orders)
        self._fold_lines(cols)
        ff = self._write_lineitem(cols)
        self._new_customers(s.customers)
        cf = self._write_customers()
        self.truth.hsat_rows += s.customers
        return [ff, cf]

    def next_delta(self, source: str) -> FlowFile:
        """One small delta file for ``source`` ('lineitem' or 'customer')."""
        if source == "lineitem":
            return self._lineitem_delta()
        return self._customer_delta()

    def _lineitem_delta(self) -> FlowFile:
        rng = self.rng
        s = self.sizes
        n_have = len(self.li["l_orderkey"])
        idx = rng.choice(n_have, size=min(s.delta_updates, n_have), replace=False)
        # an update ships a later ship date (always a new hash diff) and
        # sometimes a status flip
        self.li["l_shipdate"][idx] += np.timedelta64(1, "D").astype("timedelta64[us]")
        flip = rng.random(len(idx)) < 0.5
        st = self.li["l_linestatus"][idx]
        self.li["l_linestatus"][idx] = np.where(flip, np.where(st == "F", "O", "F"), st)
        upd = {k: v[idx] for k, v in self.li.items()}
        self.truth.lsat_rows += len(idx)
        new = self._new_lines(s.delta_new_orders)
        self._fold_lines(new)
        cols = {k: np.concatenate([upd[k], new[k]]) for k in upd}
        # shuffle so updates and inserts interleave within the file
        perm = rng.permutation(len(cols["l_orderkey"]))
        cols = {k: v[perm] for k, v in cols.items()}
        return self._write_lineitem(cols)

    def _customer_delta(self) -> FlowFile:
        rng = self.rng
        s = self.sizes
        live = np.array(sorted(self.cust), dtype=np.int64)
        pick = rng.choice(len(live), size=s.cust_updates + s.cust_deletes, replace=False)
        for k in live[pick[: s.cust_updates]].tolist():
            name, nation, bal, seg = self.cust[k]
            self.cust[k] = (name, nation, round(bal + 1.0 + float(rng.integers(0, 500)), 2),
                            SEGMENTS[int(rng.integers(0, len(SEGMENTS)))])
        gone = live[pick[s.cust_updates:]].tolist()
        for k in gone:
            del self.cust[k]
            self.truth.live_customers.discard(k)
        self._new_customers(s.cust_new)
        ff = self._write_customers()
        self.truth.hsat_rows += s.cust_updates + s.cust_new + len(gone)
        self.truth.tombstones += len(gone)
        return ff

    # -- query-answer helpers (current truth) -------------------------------

    def customer(self, key: int) -> tuple | None:
        return self.cust.get(key)

    def live_segment_count(self, segment: str) -> int:
        return sum(1 for v in self.cust.values() if v[3] == segment)

    def lines_for_parts(self, lo: int, hi: int) -> int:
        p = self.li["l_partkey"]
        return int(((p >= lo) & (p <= hi)).sum())

    def open_lines_for_parts(self, lo: int, hi: int) -> int:
        p = self.li["l_partkey"]
        return int(((p >= lo) & (p <= hi) & (self.li["l_linestatus"] == "O")).sum())


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

EN_STOP = ["the", "and", "of", "a", "to", "in", "is", "it"]
DIM = 64


@dataclass
class CorpusSizes:
    history: int = 800
    batch: int = 80
    exact_dup_share: float = 0.05   # copies of history documents
    batch_dup_share: float = 0.02   # in-batch copies of a clean batch document
    near_dup_share: float = 0.05    # history documents with 2 token edits
    low_quality_share: float = 0.05


@dataclass
class Batch:
    path: str
    bytes: int
    ids: list
    clean: set          # ids that must survive every stage
    exact_hist: set     # ids that copy a history document
    exact_batch: set    # ids that copy an earlier id of the same batch
    near: dict          # id -> id of the source history document
    low_quality: set


class CorpusGen:
    """Synthetic corpus with planted duplicates (see module docstring)."""

    def __init__(self, seed: int, out_dir: str):
        self.rng = np.random.default_rng(seed)
        self.out_dir = out_dir
        self.sizes = CorpusSizes()
        os.makedirs(out_dir, exist_ok=True)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        words = set()
        while len(words) < 4000:
            n = int(self.rng.integers(3, 10))
            words.add("".join(self.rng.choice(letters, n)))
        self.vocab = np.array(sorted(words), dtype=object)
        self.next_id = 1
        self.n_batches = 0
        # stored documents: id -> (text, embedding)
        self.docs: dict[int, tuple[str, np.ndarray]] = {}

    def _clean_text(self) -> str:
        rng = self.rng
        n = int(rng.integers(70, 140))
        toks = self.vocab[rng.integers(0, len(self.vocab), n)]
        stop = rng.random(n) < 0.12
        toks[stop] = np.array(EN_STOP, dtype=object)[rng.integers(0, len(EN_STOP), stop.sum())]
        return " ".join(toks.tolist())

    def _low_quality_text(self) -> str:
        rng = self.rng
        kind = int(rng.integers(0, 3))
        if kind == 0:  # too short
            return " ".join(self.vocab[rng.integers(0, len(self.vocab), 12)].tolist())
        if kind == 1:  # repetitive
            w = self.vocab[rng.integers(0, len(self.vocab), 3)].tolist()
            return " ".join(w * 30)
        # symbol garbage
        return " ".join("#%$@" + str(int(x)) for x in rng.integers(0, 10**6, 80))

    def _edit(self, text: str) -> str:
        toks = text.split(" ")
        for i in self.rng.choice(len(toks), 2, replace=False):
            toks[i] = self.vocab[int(self.rng.integers(0, len(self.vocab)))]
        return " ".join(toks)

    def _embedding(self) -> np.ndarray:
        return self.rng.standard_normal(DIM).astype(np.float32)

    def _write(self, rows: list[tuple[int, str, np.ndarray]], name: str) -> tuple[str, int]:
        path = os.path.join(self.out_dir, name)
        table = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "embedding": pa.array([r[2].tolist() for r in rows],
                                      pa.list_(pa.float32())),
            }
        )
        return path, _write(table, path)

    def history(self) -> tuple[str, int]:
        rows = []
        for _ in range(self.sizes.history):
            i = self.next_id
            self.next_id += 1
            rows.append((i, self._clean_text(), self._embedding()))
            self.docs[i] = (rows[-1][1], rows[-1][2])
        return self._write(rows, "history.parquet")

    def next_batch(self) -> Batch:
        """One crawl batch. Stored-history sources are drawn only from
        documents indexed before this batch, so planted truth never depends
        on the order of documents within the batch."""
        rng = self.rng
        s = self.sizes
        stored = np.array(sorted(self.docs), dtype=np.int64)
        n = s.batch
        kinds = rng.random(n)
        cut = np.cumsum([s.exact_dup_share, s.batch_dup_share, s.near_dup_share,
                         s.low_quality_share])
        rows: list[tuple[int, str, np.ndarray]] = []
        b = Batch("", 0, [], set(), set(), set(), {}, set())
        clean_rows: list[tuple[int, str, np.ndarray]] = []
        for kval in kinds:
            i = self.next_id
            self.next_id += 1
            if kval < cut[0]:
                src = int(stored[rng.integers(0, len(stored))])
                text, emb = self.docs[src]
                b.exact_hist.add(i)
            elif kval < cut[1] and clean_rows:
                _, text, emb = clean_rows[int(rng.integers(0, len(clean_rows)))]
                b.exact_batch.add(i)
            elif kval < cut[2]:
                src = int(stored[rng.integers(0, len(stored))])
                text = self._edit(self.docs[src][0])
                emb = (self.docs[src][1]
                       + 0.01 * rng.standard_normal(DIM)).astype(np.float32)
                b.near[i] = src
            elif kval < cut[3]:
                text, emb = self._low_quality_text(), self._embedding()
                b.low_quality.add(i)
            else:
                text, emb = self._clean_text(), self._embedding()
                b.clean.add(i)
                clean_rows.append((i, text, emb))
            rows.append((i, text, emb))
        self.n_batches += 1
        b.path, b.bytes = self._write(rows, f"batch_{self.n_batches:05d}.parquet")
        b.ids = [r[0] for r in rows]
        # survivors (clean documents) join the stored history
        for i, text, emb in clean_rows:
            self.docs[i] = (text, emb)
        return b

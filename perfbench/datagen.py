"""Seeded inputs for the benchmark: the corpus tables and a notes tree.

Everything here is a pure function of the seed. The tables follow the
schemas and value ranges of FIXTURES.md (a TPC-H-ish star, an events
stream, a documents corpus and a vector table), written as one parquet
file with one row group per table, which is the layout the query
registry's serial-plan gates key on.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PART_ADJ = ("blue", "cold", "hot", "red", "small", "new", "old", "large")
PART_NOUN = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "pin")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00 in microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def doc_texts(rng: np.random.Generator, n: int, duplicates: bool = True) -> list[str]:
    """Bag-of-words documents of 10-100 words. With ``duplicates``, 5% are
    near-duplicates (another document plus one word) and a handful are
    exact duplicates, so the dedup operators have work to find."""
    lengths = rng.integers(10, 101, size=n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), size=k)]) for k in lengths]
    if not duplicates:
        return texts
    for i in rng.choice(n, size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for _ in range(max(1, n // 600)):
        a, b = rng.choice(n, size=2, replace=False)
        texts[b] = texts[a]
    return texts


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def corpus_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten corpus tables at scale factor ``sf`` (sf 0.1 ≈ 600k lineitems)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), max(200, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(("O", "P", "F"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_EPOCH_1995 + odays * _DAY_US, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    ldays = rng.integers(1, 2499, n_line)  # 1995-01-02 .. 2001-11-04
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(("N", "A", "R"))[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(("O", "F"))[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_EPOCH_1995 + ldays * _DAY_US, pa.timestamp("us")),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_evt))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(_EPOCH_2024 + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n_evt // 66), n_evt), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = doc_texts(rng, n_doc)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, size=n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return t


def write_corpus(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-row-group parquet file per table, named ``<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))


class NotesTree:
    """A directory of markdown notes with seeded, deterministic churn.

    Every note starts with a unique header line, so its nearest neighbour
    under the hashing embedder is itself. A few notes are far over the
    8,191-token embed limit, so the pipeline's quarantine branch runs.
    Every mtime is stamped with ``os.utime`` from a logical clock: the
    pipeline truncates mtimes to whole seconds and re-embeds only strictly
    newer files, so wall-clock mtimes would make the change count drift.
    """

    def __init__(self, root: str, seed: int, n_notes: int, n_dirs: int, n_long: int):
        self.root = root
        self.seed = seed
        self.n_dirs = n_dirs
        self.rng = np.random.default_rng([seed, 2])
        self.clock = 1_600_000_000 + int(self.rng.integers(0, 1_000_000)) * 10
        self.mtimes: dict[str, int] = {}
        self.long: list[str] = []
        self.normal: list[str] = []
        self._next = 0
        # no duplicate bodies: two notes with one body whose header tokens
        # hash alike would tie at score 1.0
        texts = doc_texts(self.rng, n_notes, duplicates=False)
        for i, text in enumerate(texts):
            path = self._add(text, long=i < n_long)
            (self.long if i < n_long else self.normal).append(path)

    def _add(self, body: str, long: bool) -> str:
        i = self._next
        self._next += 1
        d = os.path.join(self.root, f"d{i % self.n_dirs:03d}")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"note{i:05d}.md")
        if long:  # ~24k words: far past the 8,191-token gate
            body = " ".join([body] * (24_000 // max(1, len(body.split())) + 1))
        self._write(path, f"# note {self.seed}-{i}\n{body}\n")
        return path

    def _write(self, path: str, content: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            f.write(content)
        os.utime(path, (self.clock, self.clock))
        self.mtimes[path] = self.clock

    def churn(self, n_edit: int, n_add: int) -> tuple[list[str], list[str], str]:
        """One round of edits: ``n_edit`` normal notes get a new line, ``n_add``
        notes are created and one over-long note is edited. Returns the
        edited paths, the added paths and the edited long note."""
        self.clock += 10
        edited = sorted(
            self.normal[j] for j in self.rng.choice(len(self.normal), n_edit, replace=False)
        )
        words = np.array(WORDS)
        for path in edited:
            with open(path, encoding="utf-8") as f:
                content = f.read()
            extra = " ".join(words[self.rng.integers(0, len(WORDS), 8)])
            self._write(path, f"{content}{extra}\n")
        added = []
        for text in doc_texts(self.rng, n_add, duplicates=False):
            path = self._add(text, long=False)
            self.normal.append(path)
            added.append(path)
        long_path = self.long[int(self.rng.integers(0, len(self.long)))]
        with open(long_path, encoding="utf-8") as f:
            content = f.read()
        self._write(long_path, content + "edit\n")
        return edited, added, long_path

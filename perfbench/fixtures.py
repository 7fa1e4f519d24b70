"""Seeded input generators for the benchmark.

``write_tables`` writes the ten catalog fixture tables (TPC-H-style star
schema plus ``events``, ``documents`` and ``embeddings``) with the column
names, types and value domains of the engine's test fixtures.  Each table
is ONE parquet row group, like the fixtures the engine is handed, so
``load_table`` pays its layout-cache re-chunk during set-up.

``SyncFeed`` describes the incremental-sync feed cut from the
``documents`` corpus: which ids each cycle appends and rewrites, the
last-write-wins state the target must hold after each cycle, and the
change feed of each cycle's commit.

The same seed always yields the same bytes of data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale factor 0.1 (lineitem ~600k rows).
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
N_SOURCES = 20
EMB_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _pick(rng: np.random.Generator, values, n: int) -> np.ndarray:
    return np.asarray(values)[rng.integers(0, len(values), n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _days(rng: np.random.Generator, span: int, n: int, offset: int = 0) -> np.ndarray:
    return _EPOCH_1995 + (rng.integers(0, span, n) + offset) * np.timedelta64(1, "D")


def random_text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[rng.integers(0, len(WORDS), n_words)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [random_text(rng, int(k)) for k in rng.integers(10, 101, n)]
    # Curation operators need duplicates to find: ~5% near-duplicates
    # (one word replaced, a marker word appended) and ~0.3% exact copies
    # of an earlier document.
    for i in range(1, n):
        u = rng.random()
        if u < 0.003:
            texts[i] = texts[int(rng.integers(0, i))]
        elif u < 0.053:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(_pick(rng, WORDS, 1)[0])
            texts[i] = " ".join(words + ["dup"])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, pa.array(x.ravel())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def _region(rng, n) -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS,
    })


def _nation(rng, n) -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })


def _customer(r, n) -> pa.Table:
    k = n["customer"]
    return pa.table({
        "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
        "c_name": _names("Customer", k),
        "c_nationkey": pa.array(r.integers(0, 25, k).astype(np.int32)),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": _pick(r, SEGMENTS, k),
    })


def _supplier(r, n) -> pa.Table:
    k = n["supplier"]
    return pa.table({
        "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
        "s_name": _names("Supplier", k),
        "s_nationkey": pa.array(r.integers(0, 25, k).astype(np.int32)),
        "s_acctbal": _money(r, -999.99, 9999.99, k),
    })


def _part(r, n) -> pa.Table:
    k = n["part"]
    return pa.table({
        "p_partkey": pa.array(np.arange(k, dtype=np.int64)),
        "p_name": np.char.add(np.char.add(_pick(r, PART_ADJ, k), " "), _pick(r, PART_NOUN, k)),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, k).astype(str)),
        "p_type": _pick(r, PART_TYPES, k),
        "p_size": pa.array(r.integers(1, 51, k).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 1),
    })


def _orders(r, n) -> pa.Table:
    k = n["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n["customer"], k, dtype=np.int64)),
        "o_orderstatus": _pick(r, ["F", "O", "P"], k),
        "o_totalprice": _money(r, 1000.0, 500_000.0, k),
        "o_orderdate": pa.array(_days(r, 2405, k)),
        "o_orderpriority": _pick(r, PRIORITIES, k),
    })


def _lineitem(r, n) -> pa.Table:
    k = n["lineitem"]
    qty = r.integers(1, 51, k).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], k, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, n["part"], k, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, k).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(18.0, 2100.0, k), 2),
        "l_discount": np.round(r.integers(0, 11, k) * 0.01, 2),
        "l_tax": np.round(r.integers(0, 9, k) * 0.01, 2),
        "l_returnflag": _pick(r, ["A", "N", "R"], k),
        "l_linestatus": _pick(r, ["F", "O"], k),
        "l_shipdate": pa.array(_days(r, 2499, k, offset=1)),
    })


def _events(r, n) -> pa.Table:
    k = n["events"]
    ts = np.sort(r.integers(0, 30 * _DAY_US, k))
    return pa.table({
        "event_id": pa.array(np.arange(k, dtype=np.int64)),
        "ts": pa.array(_EPOCH_2024 + ts.astype("timedelta64[us]")),
        "user_id": pa.array(r.integers(0, 1500, k, dtype=np.int64)),
        "event_type": _pick(r, EVENT_TYPES, k),
        "value": np.round(r.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
    })


# Table -> builder(rng, rows).  Seeded tables come first, in the order
# their child random streams are spawned; region and nation are fixed.
_BUILDERS = {
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": lambda r, n: _documents(r, n["documents"]),
    "embeddings": lambda r, n: _embeddings(r, n["embeddings"]),
    "region": _region,
    "nation": _nation,
}
_SEEDED = 8


def make_tables(seed: int, names=None, rows: dict[str, int] = SF01_ROWS) -> dict[str, pa.Table]:
    """The fixture tables ``names`` (default: all ten) for ``seed``.  Each
    table draws from its own child random stream, so a table's bytes do
    not depend on which other tables are made or on their sizes."""
    streams = np.random.SeedSequence(seed).spawn(_SEEDED)
    out = {}
    for idx, (name, build) in enumerate(_BUILDERS.items()):
        if names is None or name in names:
            rng = np.random.default_rng(streams[idx]) if idx < _SEEDED else None
            out[name] = build(rng, rows)
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """Write each table as ``<out_dir>/<name>.parquet`` in one row group;
    returns the file sizes in bytes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        sizes[name] = os.path.getsize(path)
    return sizes


class SyncFeed:
    """The incremental-sync feed, in the shape of
    ``tools/stress_incremental_e2e.py``.

    The seeded ``documents`` corpus is cut into ``N_SLICES`` contiguous
    ``doc_id`` slices.  Slice 0 is the target's first commit.  Cycle ``k``
    (from 1) appends slice ``k`` (new keys above every committed one) plus
    the low-key update slice: the ``n_upd`` lowest ids again, with
    ``" [rev<k>]"`` appended to their text and every other column as in
    the corpus.  ``n_upd`` keeps the stress tool's ratio of updated to
    fresh keys at its default scale (1000 against 100k per cycle).

    The feed only computes what a correct target holds; the documents
    themselves are read from the corpus by the workload.
    """

    N_SLICES = 5
    UPD_PER_FRESH = 1000 / 100_000

    def __init__(self, corpus: pa.Table):
        self.rows = {
            r["doc_id"]: (r["text"], r["lang"], r["source"], r["n_chars"])
            for r in corpus.to_pylist()
        }
        self.per = len(self.rows) // self.N_SLICES
        self.n_upd = max(1, round(self.per * self.UPD_PER_FRESH))

    def fresh_range(self, k: int) -> tuple[int, int]:
        """``[lo, hi)`` of the ids cycle ``k`` appends (slice 0: the seed)."""
        hi = (k + 1) * self.per if k < self.N_SLICES - 1 else len(self.rows)
        return k * self.per, hi

    def revised(self, doc_id: int, k: int) -> tuple:
        text, lang, source, n_chars = self.rows[doc_id]
        return (f"{text} [rev{k}]" if k else text), lang, source, n_chars

    def state(self, k: int) -> dict[int, tuple]:
        """``doc_id -> (text, lang, source, n_chars)`` after cycle ``k``."""
        hi = self.fresh_range(k)[1]
        return {
            d: self.revised(d, k if d < self.n_upd else 0) for d in range(hi)
        }

    def changes(self, k: int) -> dict[tuple[int, str], tuple]:
        """The net change feed of cycle ``k``'s commit:
        ``(doc_id, change type) -> row``."""
        lo, hi = self.fresh_range(k)
        out = {(d, "insert"): self.rows[d] for d in range(lo, hi)}
        for d in range(self.n_upd):
            out[(d, "update_preimage")] = self.revised(d, k - 1)
            out[(d, "update_postimage")] = self.revised(d, k)
        return out

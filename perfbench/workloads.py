"""The benchmark's workloads, driving the engine's public functions.

``CatalogRead`` times catalog ``Query.build`` plus materialising the
result to the driver for read-only catalog entries; ``IncrementalSync``
times the reference's daily loop: append to the document store, drain
it with an ``availableNow`` ``foreachBatch`` stream, upsert each batch
into a ``VersionedParquetTable`` with the file-pruned MERGE, then read
the commit's change feed and clone the table.

Every op's output is checked outside its timed region: ``verify`` runs
after each op, ``failures`` after the measured region, and a mismatch
counts as a failed op.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import shutil

from fixtures import SyncFeed
from tracing import Tracer

# Read-only catalog entries, none of which commits.  Analytic plans:
# scan/aggregate (q1, q6), an as-of join over events and the reference's
# transform-dedup-join-merge plan.  Curation operators: exact
# deduplication, BM25 retrieval, winnowing fingerprints and the unigram
# language model, which materialises through an eager localCheckpoint
# inside build().  The subset keeps one run inside the benchmark's time
# budget, because every op's DuckDB oracle runs in the same run:
# x_minhash_lsh (3.7 s oracle) and x_simhash_wide_near_dup (9 s) are left
# out for that reason.  x_ann_pq and x_ann_ivf_trained are left out
# because they persist a trained index under a fixed path outside the run
# directory, so a run would read what the previous run left behind.
CATALOG_OPS = [
    "q1_pricing_summary", "q6_forecast_revenue", "j_asof_attribution",
    "pipeline_e2e_merge", "x_exact_dedup", "x_bm25_retrieval",
    "x_winnow_fingerprint", "x_unigram_logprob",
]


class WrongOutput(Exception):
    """An op finished but its output differs from the expected one."""


def canonical_rows(pdf) -> list[tuple]:
    """Order-independent canonical form of a pandas frame: columns sorted
    by name, floats rounded to 9 places, every other value as text, rows
    sorted.  The same rules as ``tools/check_oracle.py``, kept here so the
    benchmark's check does not change when the repo's tools do."""
    cols = sorted(pdf.columns)
    out = []
    for row in pdf[cols].itertuples(index=False, name=None):
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append(None)
            elif isinstance(v, float):
                vals.append(round(v, 9))
            elif isinstance(v, datetime.datetime):
                vals.append(v.replace(tzinfo=None).isoformat())
            elif hasattr(v, "tolist"):
                vals.append(str(v.tolist()))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple("" if x is None else str(x) for x in t))
    return out


def digest(columns, rows: list[tuple]) -> tuple[int, str]:
    """Row count plus a content hash of canonical rows."""
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for r in rows:
        h.update(repr(r).encode())
    return len(rows), h.hexdigest()


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def layout_cache_dirs() -> list[str]:
    """The engine's layout-cache copies of fixture tables.  The cache root
    is private to the run, so every finished entry is one of its tables."""
    from airflow_embeddings_pipeline_spark.sources import registry

    root = registry.LAYOUT_CACHE_DIR
    return [os.path.join(root, d) for d in os.listdir(root) if ".tmp." not in d]


def load_fixtures(spark, tracer: Tracer, fixture_dir: str, tables) -> None:
    from airflow_embeddings_pipeline_spark.sources.registry import load_table

    for t in tables:
        with tracer.span("registry.load_table"):
            load_table(spark, fixture_dir, t)


class CatalogRead:
    """Read-only catalog entries.  One op = ``build()`` plus materialising
    every column of every result row to the driver as Arrow; the check
    compares exactly what the op returned."""

    tables = ("lineitem", "events", "documents")

    def __init__(self, spark, tracer: Tracer, run_dir: str, seed: int):
        """``seed`` is unused: the catalog ops read only the seeded fixtures."""
        from airflow_embeddings_pipeline_spark.plans import get_catalog

        self.spark, self.tracer, self.run_dir = spark, tracer, run_dir
        catalog = get_catalog()
        self.queries = [catalog[n] for n in CATALOG_OPS]
        self.pass_ops = [q.name for q in self.queries]
        self.got: list[tuple] = []
        self.fixture_dir = None

    def setup(self, fixture_dir: str) -> None:
        self.fixture_dir = fixture_dir
        load_fixtures(self.spark, self.tracer, fixture_dir, self.tables)

    def start_pass(self, p: int) -> None:
        pass

    def op(self, i: int):
        q = self.queries[i % len(self.queries)]
        with self.tracer.span("plans.build"):
            df = q.build(self.spark, self.fixture_dir)
        with self.tracer.span("exec.materialize"):
            return q, df.toArrow()

    def verify(self, i: int, result) -> None:
        """Record the digest of what op ``i`` returned; ``failures``
        compares it with the oracle once the run is over."""
        q, table = result
        pdf = table.to_pandas()
        self.got.append((i, q, digest(pdf.columns, canonical_rows(pdf))))

    def failures(self) -> list[str]:
        """Ops whose output differs from the catalog's DuckDB oracle on
        the same fixture files.  Runs after the measured region."""
        expected: dict[str, tuple[int, str]] = {}
        out = []
        for i, q, got in self.got:
            if q.name not in expected:
                expected[q.name] = self._oracle(q)
            if got != expected[q.name]:
                out.append(f"op {i} ({q.name}): got {got}, oracle {expected[q.name]}")
        return out

    def _oracle(self, q) -> tuple[int, str]:
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.tables:
                path = os.path.join(self.fixture_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            odf = con.execute(q.oracle).df()
        finally:
            con.close()
        return digest(odf.columns, canonical_rows(odf))

    def bytes_per_live_byte(self) -> float:
        """Fixture files plus their layout-cache copies, per fixture byte."""
        live = dir_bytes(self.fixture_dir)
        cache = sum(dir_bytes(d) for d in layout_cache_dirs())
        return (live + cache) / live


class IncrementalSync:
    """One op = one cycle of the reference's daily loop: append the
    cycle's documents to the document store, drain them into the target
    with the file-pruned MERGE (one committed version), read that commit's
    change feed (the reference's downstream CDC consumer) and clone the
    table.

    Set-up makes the target's first commit (corpus slice 0) and runs one
    untimed warm-up cycle, so the first MERGE, change-feed read and clone
    of the process are not timed, and keeps the result as the base state.
    Every pass starts from a fresh copy of the base and replays the same
    cycles, so a run's table history is the same however many passes fit
    into it."""

    tables = ("documents",)
    WARMUP_CYCLES = 1
    CYCLES_PER_PASS = 2

    def __init__(self, spark, tracer: Tracer, run_dir: str, seed: int):
        """``seed`` is unused: the feed is cut from the seeded corpus."""
        from airflow_embeddings_pipeline_spark.sources.document_store import (
            register_document_store,
        )

        register_document_store(spark)
        self.spark, self.tracer, self.run_dir = spark, tracer, run_dir
        self.pass_ops = ["cycle"] * self.CYCLES_PER_PASS
        self.merges: list[dict] = []
        self.stream_progress: list[dict] = []
        self.root = self.table = None

    def _use(self, root: str) -> None:
        from airflow_embeddings_pipeline_spark.sources.versioned import (
            VersionedParquetTable,
        )

        self.root = root
        self.store, self.target, self.ckpt = (
            os.path.join(root, d) for d in ("store", "target", "ckpt")
        )
        self.table = VersionedParquetTable(self.target)

    def setup(self, fixture_dir: str) -> None:
        """Load the corpus, make the target's first commit from slice 0
        and run the warm-up cycles."""
        import pyarrow.parquet as pq

        from airflow_embeddings_pipeline_spark.sources.registry import load_table

        load_fixtures(self.spark, self.tracer, fixture_dir, self.tables)
        self.docs = load_table(self.spark, fixture_dir, "documents")
        self.feed = SyncFeed(pq.read_table(os.path.join(fixture_dir, "documents.parquet")))
        self.base = os.path.join(self.run_dir, "sync", "base")
        self._use(self.base)
        self._append(self._cycle_docs(0))
        self._drain()
        for k in range(1, 1 + self.WARMUP_CYCLES):
            shutil.rmtree(self._cycle(k)[2])
        # op-level numbers cover timed cycles only
        self.stream_progress.clear()
        self.merges.clear()

    def start_pass(self, p: int) -> None:
        """Continue from a fresh copy of the base state."""
        if p:
            shutil.rmtree(self.root)
        root = os.path.join(self.run_dir, "sync", f"pass{p}")
        shutil.copytree(self.base, root)
        self._use(root)
        self.k = self.WARMUP_CYCLES

    def _cycle_docs(self, k: int):
        """Cycle ``k``'s documents, cut from the corpus as the feed says."""
        from pyspark.sql import functions as F

        lo, hi = self.feed.fresh_range(k)
        fresh = self.docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        if k == 0:
            return fresh
        upd = self.docs.filter(F.col("doc_id") < self.feed.n_upd).withColumn(
            "text", F.concat(F.col("text"), F.lit(f" [rev{k}]"))
        )
        return fresh.unionByName(upd)

    def _append(self, df) -> None:
        with self.tracer.span("docstore.append"):
            (df.write.format("document_store").option("path", self.store)
             .mode("append").save())

    def _batch(self, df, epoch_id) -> None:
        from airflow_embeddings_pipeline_spark.operators.merge import (
            merge_upsert_write_pruned,
        )

        batch = df.select("doc_id", "text", "lang", "source", "n_chars")
        if self.table.current_version() is None:
            self.table.commit_with_manifest(batch, "doc_id", cluster_partitions=8)
            return
        with self.tracer.span("merge"):
            stats = merge_upsert_write_pruned(self.target, batch, "doc_id", vacuum_keep_last=None)
        self.merges.append(stats)

    def _drain(self) -> None:
        with self.tracer.span("stream.drain"):
            q = (
                self.spark.readStream.format("document_store")
                .option("path", self.store).load()
                .writeStream.foreachBatch(self._batch)
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination()
        self.stream_progress.extend(dict(p.durationMs) for p in q.recentProgress)

    def _cycle(self, k: int):
        v0 = self.table.current_version()
        self._append(self._cycle_docs(k))
        self._drain()
        with self.tracer.span("versioned.cdf"):
            changes = self.table.changes_since(self.spark, v0, key="doc_id").toArrow()
        clone = os.path.join(self.root, f"clone{k}")
        with self.tracer.span("versioned.clone"):
            self.table.clone_to(clone)
        return k, changes, clone

    def op(self, i: int):
        self.k += 1
        return self._cycle(self.k)

    def _rows(self, table) -> dict[int, tuple]:
        rows = table.read(self.spark).toArrow().to_pylist()
        out = {r["doc_id"]: (r["text"], r["lang"], r["source"], r["n_chars"]) for r in rows}
        if len(out) != len(rows):
            raise WrongOutput(f"{table.root}: duplicate doc_id")
        return out

    def verify(self, i: int, result) -> None:
        """The target and its clone hold the feed's last-write-wins state,
        the target has ``1 + k`` versions, and the change feed is the
        cycle's net change set."""
        from airflow_embeddings_pipeline_spark.sources.versioned import (
            VersionedParquetTable,
        )

        k, changes, clone = result
        try:
            versions = len(self.table.versions())
            if versions != 1 + k:
                raise WrongOutput(f"{versions} versions after cycle {k}, expected {1 + k}")
            want = self.feed.state(k)
            if self._rows(self.table) != want:
                raise WrongOutput(f"target differs from last-write-wins state after cycle {k}")
            if self._rows(VersionedParquetTable(clone)) != want:
                raise WrongOutput(f"clone differs from the target after cycle {k}")
            rows = changes.to_pylist()
            got = {(r["doc_id"], r["_change_type"]): (r["text"], r["lang"], r["source"], r["n_chars"])
                   for r in rows}
            if len(got) != len(rows) or got != self.feed.changes(k):
                raise WrongOutput(f"change feed of cycle {k} differs from the cycle's changes")
        finally:
            shutil.rmtree(clone, ignore_errors=True)

    def failures(self) -> list[str]:
        return []

    def bytes_per_live_byte(self) -> float:
        """Bytes under the target root, per parquet byte of its read-back."""
        out = os.path.join(self.run_dir, "live_readback")
        self.table.read(self.spark).write.mode("overwrite").parquet(out)
        live = sum(
            os.path.getsize(os.path.join(out, f)) for f in os.listdir(out) if f.endswith(".parquet")
        )
        shutil.rmtree(out, ignore_errors=True)
        return dir_bytes(self.target) / live

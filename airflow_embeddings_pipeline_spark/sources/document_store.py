"""Custom Python DataSource: a block-organized JSONL document store —
the reference's MongoDB-collection source surface
(embeddings-pipeline.py:166-177: paginated cursor scan with `$match`
pushed server-side) rebuilt on Spark 4's DataSource API.

Spark-first mapping of the reference's connector behaviors:

- the paginated cursor (LIMIT/SKIP batches, reference O2) becomes
  PARALLEL input partitions, all read at once: consecutive store
  blocks pack into one partition of up to ``PACK_BYTES`` (a bigger
  block is a partition of its own), so a store of many tiny appended
  blocks costs one Python task, not one per block;
- `$match` pushdown becomes :meth:`DocumentStoreReader.pushFilters`:
  range/equality predicates on the indexed ``doc_id`` prune whole
  blocks via the store manifest's per-block [min_id, max_id] BEFORE any
  file is opened, and the residual predicate is re-applied per row
  (rows inside a surviving block can still fail it);
- the schemaless-document defensiveness (``doc.get(k, default)``)
  becomes explicit: missing JSON fields surface as NULLs.

At 100 TB the same reader fans out to one task per ``PACK_BYTES`` of
surviving blocks and prunes by manifest exactly like parquet partition
pruning — the Python row parse is the slow path (documented; the
parquet scan is the engine's fast path, this source exists for
Mongo-shaped stores where parquet isn't an option).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    WriterCommitMessage,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

STORE_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


# Byte budget of one input partition: Spark's own file source charges
# every file spark.sql.files.openCostInBytes (default 4 MB) when it packs
# small files into a task, i.e. a task is not worth starting for less.
# Each Python task pays a worker round trip that dwarfs parsing a few MB
# of JSONL, so consecutive surviving blocks share a task up to this size.
PACK_BYTES = 4 * 1024 * 1024


class _Pack(InputPartition):
    """Consecutive manifest blocks read by one task (empty: the zero-row
    sentinel — Spark requires >= 1 partition from a Python data source;
    an empty sequence makes it invoke read(None))."""

    def __init__(self, paths: list[str]):
        self.paths = paths


def _pack_blocks(root: str, blocks: list[dict]) -> list[_Pack]:
    """Pack ``blocks`` (already pruned, in manifest order) into partitions
    of up to :data:`PACK_BYTES`; a block bigger than that gets its own.
    Only the kept blocks are stat'ed, never opened."""
    packs: list[_Pack] = []
    cur: list[str] = []
    cur_bytes = 0
    for b in blocks:
        path = os.path.join(root, b["file"])
        size = os.path.getsize(path)
        if cur and cur_bytes + size > PACK_BYTES:
            packs.append(_Pack(cur))
            cur, cur_bytes = [], 0
        cur.append(path)
        cur_bytes += size
    if cur:
        packs.append(_Pack(cur))
    return packs or [_Pack([])]


def _read_docs(partition: _Pack) -> Iterator[dict]:
    for path in partition.paths:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


class DocumentStoreReader(DataSourceReader):
    """Manifest-pruned block reader with doc_id predicate pushdown."""

    _PUSHABLE = (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)

    def __init__(self, schema: StructType, options: dict):
        self.root = options["path"]
        self.fields = [f.name for f in schema.fields]
        with open(os.path.join(self.root, "manifest.json")) as fh:
            self.manifest = json.load(fh)
        # (op, value) bounds accepted for doc_id block pruning
        self.pushed: list[tuple[str, int]] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept doc_id range/equality filters; everything else is
        returned to Spark for post-scan evaluation.  Accepted filters
        are ALSO re-applied row-level in :meth:`read` — block pruning
        alone is necessarily coarse."""
        for f in filters:
            if isinstance(f, self._PUSHABLE) and tuple(f.attribute) == ("doc_id",):
                self.pushed.append((type(f).__name__, f.value))
            else:
                yield f

    def _block_survives(self, lo: int, hi: int) -> bool:
        for op, v in self.pushed:
            if op == "EqualTo" and not (lo <= v <= hi):
                return False
            if op == "GreaterThan" and hi <= v:
                return False
            if op == "GreaterThanOrEqual" and hi < v:
                return False
            if op == "LessThan" and lo >= v:
                return False
            if op == "LessThanOrEqual" and lo > v:
                return False
        return True

    def _row_passes(self, doc_id: int | None) -> bool:
        # SQL NULL semantics: a NULL doc_id fails every pushed
        # comparison (including EqualTo).  Accepted filters are not
        # re-evaluated by Spark, so this row-level check is the only
        # evaluation — returning False here (not raising) preserves the
        # schemaless absent-field->NULL contract for filtered scans.
        # A TYPE-mismatched doc_id (a schemaless store can hold
        # '"42"' or an object where a long belongs) gets the same
        # treatment: an un-comparable value fails the predicate rather
        # than killing the whole scan task with a TypeError.
        if doc_id is None or not isinstance(doc_id, (int, float)):
            return not self.pushed
        for op, v in self.pushed:
            if op == "EqualTo" and doc_id != v:
                return False
            if op == "GreaterThan" and doc_id <= v:
                return False
            if op == "GreaterThanOrEqual" and doc_id < v:
                return False
            if op == "LessThan" and doc_id >= v:
                return False
            if op == "LessThanOrEqual" and doc_id > v:
                return False
        return True

    def partitions(self) -> Sequence[InputPartition]:
        return _pack_blocks(
            self.root,
            [
                b
                for b in self.manifest["blocks"]
                if self._block_survives(b["min_id"], b["max_id"])
            ],
        )

    def read(self, partition: _Pack) -> Iterator[tuple]:
        for doc in _read_docs(partition):
            if not self._row_passes(doc.get("doc_id")):
                continue
            # schemaless defensiveness: absent fields -> NULL
            yield tuple(doc.get(k) for k in self.fields)


class DocumentStoreDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "document_store"

    def schema(self) -> str:
        return STORE_SCHEMA

    def reader(self, schema: StructType) -> DocumentStoreReader:
        return DocumentStoreReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> "DocumentStoreWriter":
        return DocumentStoreWriter(self.options, overwrite)

    def streamReader(self, schema: StructType) -> "DocumentStoreStreamReader":
        return DocumentStoreStreamReader(schema, self.options)


def stage_document_store(
    sf_dir: str, *, n_blocks: int = 8, cache_root: str = "/tmp/spark_graft_docstore"
) -> str:
    """Materialize the fixture documents table as a block-organized
    JSONL store + manifest (the fake Mongo collection).  Keyed by
    source mtime like the layout cache: regenerated fixtures get a new
    store, reruns reuse it."""
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "documents.parquet")
    key = src.strip("/").replace("/", "_")
    out = os.path.join(
        cache_root, f"{key}.m{int(os.path.getmtime(src) * 1000)}"
    )
    if os.path.exists(os.path.join(out, "manifest.json")):
        return out
    # pid-suffixed staging dir: two processes staging concurrently
    # (bench + oracle check) each build their own copy; the rename
    # loser just drops its identical bytes — the layout-cache contract.
    tmp = f"{out}.tmp.{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    tbl = pq.read_table(src).sort_by("doc_id").to_pylist()
    per = (len(tbl) + n_blocks - 1) // n_blocks
    blocks = []
    for i in range(n_blocks):
        rows = tbl[i * per : (i + 1) * per]
        if not rows:
            continue
        fname = f"block-{i:04d}.jsonl"
        with open(os.path.join(tmp, fname), "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        blocks.append(
            {"file": fname, "min_id": rows[0]["doc_id"], "max_id": rows[-1]["doc_id"]}
        )
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump({"blocks": blocks}, fh)
    try:
        os.rename(tmp, out)
    except OSError:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return out


def register_document_store(spark) -> None:
    """Idempotent per-session registration of the custom source.

    Also enables ``spark.sql.python.filterPushdown.enabled`` (runtime
    conf, default false in Spark 4.1): without it Spark REFUSES any
    reader that implements pushFilters rather than silently skipping
    pushdown.  Set here rather than in the session factory so the
    source works under ANY caller's session (the driver builds its
    own)."""
    if not getattr(spark, "_docstore_registered", False):
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        # Ship this module BY VALUE inside the pickled source: the
        # DataSource worker is a separate process that inherits the
        # JVM's PYTHONPATH, not the driver's in-process sys.path — a
        # caller who did `sys.path.insert(0, repo)` before building the
        # session (the driver-contract "fresh plain session" shape) gets
        # ModuleNotFoundError in every scan task if the class pickles
        # by reference.  register_pickle_by_value on pyspark's vendored
        # cloudpickle makes the worker self-contained instead.
        try:
            from pyspark import cloudpickle

            import airflow_embeddings_pipeline_spark.sources.document_store as _m

            cloudpickle.register_pickle_by_value(_m)
        except Exception:
            pass  # older vendored cloudpickle: by-reference still works
            # whenever the package is on the worker's import path
        spark.dataSource.register(DocumentStoreDataSource)
        spark._docstore_registered = True


# -------------------------------------------------- manifest lock
from contextlib import contextmanager


def _pid_alive(pid: int) -> bool:
    """Is ``pid`` a live process on this host?  (Every lock here and in
    the versioned table is local-filesystem, so its holder is by
    definition local.)  The engine's one liveness test lives in this
    module because the module ships BY VALUE to Python workers
    (:func:`register_document_store`): the writer's commit takes the
    manifest lock in a worker that may not be able to import the
    package, so the lock cannot import this from elsewhere."""
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


@contextmanager
def _manifest_lock(root: str):
    """Exclusive manifest commit lock — the versioned store's
    single-writer guard (``versioned.py:_acquire_lock``) applied to
    this store's manifest read-modify-write: writer commits and
    compaction both load the manifest, mutate the block list, and
    publish, so two concurrent committers without the lock would
    silently drop one side's blocks (lost update).  ``O_CREAT|O_EXCL``
    is atomic on POSIX; a lock left by a CRASHED committer (pid no
    longer alive) is stolen exactly once; a live holder raises loudly
    — this store is a local/posix analog, so the holder is by
    definition local."""
    lock = os.path.join(root, ".commit.lock")
    os.makedirs(root, exist_ok=True)
    acquired = False
    for _ in range(2):  # second pass only after a stale-lock steal
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as f:
                f.write(str(os.getpid()))
            acquired = True
            break
        except FileExistsError:
            try:
                with open(lock) as f:
                    holder = int(f.read().strip() or 0)
            except (OSError, ValueError):
                holder = 0
            if holder and holder != os.getpid() and not _pid_alive(holder):
                # Crashed committer: steal ATOMICALLY by renaming the
                # stale lock to a unique grave name — rename(2) succeeds
                # for exactly one contender, so two stealers can never
                # both enter (the unlink-then-create variant had a
                # TOCTOU: the slower unlink deleted the lock the faster
                # stealer had just re-created).  The rename loser falls
                # through to the O_EXCL retry and sees the winner's
                # fresh lock as a live holder.  Re-reading the grave's
                # pid catches the stealer-vs-fresh-acquirer case: if a
                # faster contender stole first and already re-created a
                # live lock, that FRESH lock is what we renamed — put
                # it back (no-clobber link) and retry instead of
                # unlinking it.  Narrowed, not eliminated: the residual
                # window is the rename/link-back pair with no I/O
                # between (full elimination needs flock, which has no
                # object-store analog).
                import uuid as _uuid

                grave = f"{lock}.stale.{_uuid.uuid4().hex}"
                try:
                    os.rename(lock, grave)
                except OSError:
                    continue  # someone else stole (or released) it first
                try:
                    with open(grave) as f:
                        buried = int(f.read().strip() or 0)
                except (OSError, ValueError):
                    buried = 0
                if buried == holder:
                    try:
                        os.unlink(grave)  # we buried the dead holder
                    except OSError:
                        pass
                else:
                    # fresh lock renamed away by mistake: restore it
                    # without clobbering a third contender's create
                    try:
                        os.link(grave, lock)
                    except OSError:
                        pass  # a newer lock exists; theirs stands
                    try:
                        os.unlink(grave)
                    except OSError:
                        pass
                continue
            raise RuntimeError(
                f"{root}: manifest commit already in flight (lock held "
                f"by pid {holder or '?'}); serialize committers"
            )
    if not acquired:
        raise RuntimeError(f"{root}: could not acquire manifest lock")
    try:
        yield
    finally:
        try:
            os.unlink(lock)
        except OSError:
            pass


# ----------------------------------------------------------- writer
# The sink half of the connector (reference S4/S9 analog: staged
# parquet publish + warehouse load, embeddings-pipeline.py:248-255):
# each task writes its rows to a uniquely-named block under a hidden
# staging prefix and returns a (file, min_id, max_id, n_rows) commit
# message; the DRIVER commit renames blocks into place under
# GENERATION-UNIQUE names (never clobbering a name a live manifest
# references) and publishes the manifest LAST — readers holding the
# old manifest keep reading the old generation's bytes, and a crash
# anywhere before the manifest swap leaves the old store fully intact;
# old-generation files are swept only AFTER the swap.  Task retries
# are safe: an orphaned attempt's block is never referenced by the
# manifest and is swept by abort/cleanup.
from dataclasses import dataclass


@dataclass
class _BlockCommit(WriterCommitMessage):
    file: str
    min_id: int | None
    max_id: int | None
    n_rows: int


class DocumentStoreWriter(DataSourceWriter):
    def __init__(self, options: dict, overwrite: bool):
        self.root = options["path"]
        self.overwrite = overwrite

    def write(self, iterator) -> _BlockCommit:
        import os
        import uuid

        os.makedirs(self.root, exist_ok=True)
        fname = f".staged-{uuid.uuid4().hex}.jsonl"
        lo = hi = None
        n = 0
        with open(os.path.join(self.root, fname), "w") as fh:
            for row in iterator:
                doc = row.asDict()
                did = doc.get("doc_id")
                if did is not None:
                    lo = did if lo is None else min(lo, did)
                    hi = did if hi is None else max(hi, did)
                fh.write(json.dumps(doc) + "\n")
                n += 1
        return _BlockCommit(file=fname, min_id=lo, max_id=hi, n_rows=n)

    def commit(self, messages) -> None:
        with _manifest_lock(self.root):
            self._commit_locked(messages)

    def _commit_locked(self, messages) -> None:
        import uuid

        manifest_path = os.path.join(self.root, "manifest.json")
        existing: list[dict] = []
        prev_generation = "0"
        if os.path.exists(manifest_path):
            with open(manifest_path) as fh:
                manifest = json.load(fh)
            prev_generation = manifest.get("generation", "0")
            if not self.overwrite:
                existing = manifest["blocks"]
        # Overwrite starts a NEW generation id (streams keying their
        # offset on it fail loudly instead of reading positionally-
        # sliced blocks from a different generation); append keeps it.
        generation = uuid.uuid4().hex[:8] if self.overwrite else prev_generation
        blocks = list(existing)
        for i, m in enumerate(sorted(
            (m for m in messages if m is not None and m.n_rows > 0),
            key=lambda m: (m.min_id if m.min_id is not None else 0, m.file),
        )):
            # Commit-unique final names: a staged block is never
            # os.replace'd onto a name an older manifest references, so
            # concurrent readers of the old generation are undisturbed
            # and a crash mid-commit cannot corrupt the live store.
            final = f"block-{uuid.uuid4().hex[:8]}-{len(existing) + i:04d}.jsonl"
            os.replace(
                os.path.join(self.root, m.file), os.path.join(self.root, final)
            )
            blocks.append(
                {"file": final, "min_id": m.min_id, "max_id": m.max_id}
            )
        for m in messages:  # empty-task leftovers
            if m is not None and m.n_rows == 0:
                try:
                    os.remove(os.path.join(self.root, m.file))
                except OSError:
                    pass
        tmp = os.path.join(self.root, ".manifest.tmp")
        with open(tmp, "w") as fh:
            json.dump({"generation": generation, "blocks": blocks}, fh)
        os.replace(tmp, manifest_path)
        if self.overwrite:
            # old generations are unreferenced after the swap; sweep them
            live = {b["file"] for b in blocks} | {"manifest.json"}
            for f in os.listdir(self.root):
                if f.endswith(".jsonl") and f not in live:
                    try:
                        os.remove(os.path.join(self.root, f))
                    except OSError:
                        pass

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None:
                try:
                    os.remove(os.path.join(self.root, m.file))
                except OSError:
                    pass


# ------------------------------------------------------- compaction
def compact_document_store(
    root: str,
    *,
    min_block_bytes: int = 1 << 20,
    max_group_bytes: int | None = None,
    spark=None,
) -> dict:
    """Merge adjacent small blocks into fewer large ones — the
    small-files maintenance pass every block store needs once appends
    accumulate (each tiny block is a whole scan task + an open/parse
    round trip; at 100 TB a million 50 KB blocks turns the manifest
    prune into the bottleneck).  Reference analog: the warehouse-side
    micro-partition re-clustering the reference gets for free from
    Snowflake (embeddings-pipeline.py:248-255 loads into a managed
    table); this store must do it explicitly.

    Same never-clobber commit protocol as the writer (proven by the
    overwrite property tests): merged groups are written under
    commit-unique staged names, the manifest is published LAST via
    atomic rename, and superseded files are swept only AFTER the swap —
    a crash anywhere before the swap leaves the old store fully intact,
    and readers holding the old manifest read old bytes until the
    sweep.  Only ADJACENT runs of blocks smaller than
    ``min_block_bytes`` are merged (byte-level concatenation — JSONL
    needs no parse), so untouched large blocks keep their exact files
    and the manifest's doc_id ordering is preserved; each merged
    group's [min_id, max_id] is the union of its members', keeping the
    pruning index exact.  ``max_group_bytes`` (default 64 x
    ``min_block_bytes``) caps a merged block's size so one degenerate
    run can't produce an unsplittable giant.

    Compaction changes block POSITIONS, so it stamps a fresh
    generation id: a running stream keyed on (generation, block-count)
    fails loudly at its next micro-batch instead of silently serving
    re-sliced blocks as appended rows — identical semantics to
    overwrite, and the honest choice given positional offsets.
    No-op (and generation-preserving) when nothing qualifies.

    Each group merge is an independent byte copy.  Pass ``spark=`` to
    fan the merges out as ONE SPARK TASK PER GROUP (a self-contained
    closure — executors never import this package), which is the
    shape that matters when a million-block store has thousands of
    merge groups; without a session the driver loops, which on a
    local store is filesystem-bound anyway.  Either way the manifest
    publish stays a single atomic driver swap, and both tiers produce
    byte-identical stores (unit-asserted).

    Returns ``{"blocks_before", "blocks_after", "groups_merged",
    "bytes_rewritten", "generation_changed"}``.
    """
    with _manifest_lock(root):
        return _compact_locked(root, min_block_bytes, max_group_bytes, spark)


def _compact_locked(
    root: str,
    min_block_bytes: int,
    max_group_bytes: int | None,
    spark=None,
) -> dict:
    import uuid

    manifest_path = os.path.join(root, "manifest.json")
    with open(manifest_path) as fh:
        manifest = json.load(fh)
    blocks = manifest["blocks"]
    cap = max_group_bytes if max_group_bytes is not None else 64 * min_block_bytes

    def _size(b: dict) -> int:
        try:
            return os.path.getsize(os.path.join(root, b["file"]))
        except OSError:
            return min_block_bytes  # unreadable -> treat as not-small

    # Partition the manifest order into runs: keep large blocks as-is,
    # group adjacent small ones up to the cap.
    out_blocks: list[dict] = []
    staged: list[tuple[str, list[dict]]] = []  # (staged file, members)
    run: list[dict] = []
    run_bytes = 0

    def _flush_run() -> None:
        nonlocal run, run_bytes
        if len(run) >= 2:
            # PLAN only — execution happens below, driver-loop or
            # one-Spark-task-per-group
            fname = f".compact-{uuid.uuid4().hex}.jsonl"
            mins = [b["min_id"] for b in run if b["min_id"] is not None]
            maxs = [b["max_id"] for b in run if b["max_id"] is not None]
            merged = {
                "file": fname,
                "min_id": min(mins) if mins else None,
                "max_id": max(maxs) if maxs else None,
            }
            staged.append((fname, list(run)))
            out_blocks.append(merged)
        else:
            out_blocks.extend(run)
        run, run_bytes = [], 0

    for b in blocks:
        sz = _size(b)
        if sz < min_block_bytes:
            if run and run_bytes + sz > cap:
                _flush_run()
            run.append(b)
            run_bytes += sz
        else:
            _flush_run()
            out_blocks.append(b)
    _flush_run()

    # execute the merge plans — nested closure with zero captures
    # beyond the plan tuple, so cloudpickle ships it BY VALUE and the
    # Spark tier works from any session (the fresh-session
    # portability shape: executors never import this package)
    def _merge_group(plan: tuple) -> int:
        import os as _os
        import shutil as _shutil

        g_root, staged_name, members = plan
        out_path = _os.path.join(g_root, staged_name)
        with open(out_path, "wb") as out:
            for m in members:
                with open(_os.path.join(g_root, m), "rb") as src:
                    _shutil.copyfileobj(src, out)
        return _os.path.getsize(out_path)

    plans = [
        (root, fname, [m["file"] for m in members])
        for fname, members in staged
    ]
    if spark is not None and len(plans) > 1:
        # one task per group; the byte copies run on executors, the
        # manifest publish below stays a single atomic driver swap
        spark.sparkContext.parallelize(plans, len(plans)).map(
            _merge_group
        ).collect()
    else:
        for plan in plans:
            _merge_group(plan)

    if not staged:
        return {
            "blocks_before": len(blocks),
            "blocks_after": len(blocks),
            "groups_merged": 0,
            "bytes_rewritten": 0,
            "generation_changed": False,
        }

    # publish: rename staged merges to commit-unique final names, then
    # swap the manifest, then sweep the superseded members
    bytes_rewritten = 0
    superseded: list[str] = []
    for fname, members in staged:
        final = f"block-{uuid.uuid4().hex[:8]}-compact.jsonl"
        os.replace(os.path.join(root, fname), os.path.join(root, final))
        for ob in out_blocks:
            if ob["file"] == fname:
                ob["file"] = final
        bytes_rewritten += os.path.getsize(os.path.join(root, final))
        superseded.extend(m["file"] for m in members)
    tmp = os.path.join(root, ".manifest.tmp")
    with open(tmp, "w") as fh:
        json.dump(
            {"generation": uuid.uuid4().hex[:8], "blocks": out_blocks}, fh
        )
    os.replace(tmp, manifest_path)
    for f in superseded:
        try:
            os.remove(os.path.join(root, f))
        except OSError:
            pass
    return {
        "blocks_before": len(blocks),
        "blocks_after": len(out_blocks),
        "groups_merged": len(staged),
        "bytes_rewritten": bytes_rewritten,
        "generation_changed": True,
    }


def vacuum_document_store(root: str, *, grace_seconds: float = 3600.0) -> dict:
    """Reclaim files no manifest references — the store's analog of the
    parquet sink's best-effort cleanup (reference E4) and the versioned
    store's ``vacuum``.  Orphans accumulate from two legitimate crash
    paths the commit protocol deliberately leaves behind (correctness
    first, space later): a committer that died after renaming blocks
    but before the manifest swap, and staged ``.staged-*`` /
    ``.compact-*`` temporaries from aborted attempts.

    Runs under the manifest lock and only deletes files older than
    ``grace_seconds`` (mtime): an IN-FLIGHT commit's staged files are
    always younger than any sane grace window, so vacuum can run
    concurrently with writers without eating their work — same
    reasoning as the layout cache's GC grace.  Never touches the
    manifest, the lock, or any referenced block, so a reader holding
    the CURRENT manifest is unaffected; only readers of long-dead
    generations (already invalidated by the generation id) can lose
    bytes, and they lose them loudly (FileNotFoundError), not wrongly.

    Returns ``{"removed", "kept_young", "bytes_reclaimed"}``.
    """
    import time as _time

    with _manifest_lock(root):
        manifest_path = os.path.join(root, "manifest.json")
        try:
            with open(manifest_path) as fh:
                live = {b["file"] for b in json.load(fh)["blocks"]}
        except FileNotFoundError:
            live = set()
        now = _time.time()
        removed = kept_young = 0
        reclaimed = 0
        for f in os.listdir(root):
            if f in live or f in ("manifest.json", ".commit.lock"):
                continue
            if not (
                f.endswith(".jsonl")
                or f.startswith((".staged-", ".compact-"))
                or f == ".manifest.tmp"  # crashed pre-swap manifest write
            ):
                continue
            p = os.path.join(root, f)
            try:
                if now - os.path.getmtime(p) < grace_seconds:
                    kept_young += 1
                    continue
                sz = os.path.getsize(p)
                os.remove(p)
                removed += 1
                reclaimed += sz
            except OSError:
                pass
        return {
            "removed": removed,
            "kept_young": kept_young,
            "bytes_reclaimed": reclaimed,
        }


# --------------------------------------------------- streaming reader
# The reference's incremental pull — "fetch documents newer than the
# stored watermark" (embeddings-pipeline.py:107-130, per-source
# timestamp state) — as a NATIVE streaming source: the offset is the
# count of published manifest blocks, each micro-batch reads exactly
# the blocks appended since the last committed offset, and Spark's
# checkpoint replaces the hand-rolled watermark JSON.  Blocks are
# immutable once referenced by the manifest (the writer only appends
# within a generation), which is what makes block-count a valid
# monotonic offset — WITHIN one store generation.  mode("overwrite")
# stamps a fresh generation id into the manifest; the stream records
# the generation in its offset and FAILS LOUDLY when it changes rather
# than silently serving positionally-sliced blocks from a different
# generation as "appended" rows.
from pyspark.sql.datasource import DataSourceStreamReader


class DocumentStoreStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self.root = options["path"]
        self.fields = [f.name for f in schema.fields]

    def _manifest(self) -> dict:
        try:
            with open(os.path.join(self.root, "manifest.json")) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {"generation": "0", "blocks": []}

    def initialOffset(self) -> dict:
        return {"gen": self._manifest().get("generation", "0"), "block": 0}

    def latestOffset(self) -> dict:
        m = self._manifest()
        return {"gen": m.get("generation", "0"), "block": len(m["blocks"])}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        m = self._manifest()
        gen = m.get("generation", "0")
        for off in (start, end):
            if off.get("gen", gen) != gen:
                # A zero-block offset has consumed NOTHING from its
                # generation, so rebasing it onto the current one is
                # positionally safe — this is the common start-on-empty-
                # store-then-overwrite-once pattern, which must not fail.
                # Only an offset with blocks actually consumed from the
                # old generation is a real positional lie.
                if off.get("block", 0) == 0:
                    continue
                raise RuntimeError(
                    "document_store generation changed under a running "
                    f"stream (offset gen {off.get('gen')!r} != store gen "
                    f"{gen!r}): the store was overwritten; restart the "
                    "stream with a fresh checkpoint"
                )
        return _pack_blocks(self.root, m["blocks"][start["block"] : end["block"]])

    def read(self, partition: _Pack) -> Iterator[tuple]:
        for doc in _read_docs(partition):
            yield tuple(doc.get(k) for k in self.fields)

    def commit(self, end: dict) -> None:
        pass  # progress lives in Spark's checkpoint, nothing external

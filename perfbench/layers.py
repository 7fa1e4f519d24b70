"""Per-layer numbers of a traced run.

Spans come from the benchmark's own calls into each layer plus three
wrappers installed from outside the package: ``DataFrame.localCheckpoint``
(materialisation) and ``VersionedParquetTable.prepare_commit`` /
``commit_with_manifest`` (the commit layer under MERGE).  Spark jobs are
read from the event log and charged to the innermost span open when they
were submitted.

Only op spans count towards layer numbers; set-up spans give the
registry numbers; verification spans are charged nowhere.
"""

from __future__ import annotations

import functools
import glob
import os

from tracing import Tracer, parse_event_log, sql_driver_seconds
from workloads import layout_cache_dirs

# Layers whose self time is reported as a share of op wall.  A workload
# that never enters a layer reports 0 for it.
SHARE_LAYERS = (
    "plans.build", "exec.materialize", "materialize.local_checkpoint",
    "docstore.append", "stream.drain", "merge", "versioned.prepare",
    "versioned.commit", "versioned.cdf", "versioned.clone",
)
JOB_SUMS = ("run_s", "cpu_s", "deser_s", "wait_s", "gc_s")
BYTE_SUMS = ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def _wrap(owner, attr: str, tracer: Tracer, span: str) -> None:
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*a, **kw):
        with tracer.span(span):
            return orig(*a, **kw)

    setattr(owner, attr, wrapper)


def install_wrappers(spark, tracer: Tracer) -> None:
    from airflow_embeddings_pipeline_spark.sources.versioned import VersionedParquetTable

    # the session's concrete DataFrame class, which overrides the API class
    _wrap(type(spark.range(0)), "localCheckpoint", tracer, "materialize.local_checkpoint")
    _wrap(VersionedParquetTable, "prepare_commit", tracer, "versioned.prepare")
    _wrap(VersionedParquetTable, "commit_with_manifest", tracer, "versioned.commit")


def collect(spark, tracer: Tracer, workload) -> dict:
    """Numbers read from the engine while the session is still up."""
    out = {"rechunked_tables": len(layout_cache_dirs()),
           "versioned.versions": 0, "versioned.files_live": 0, "merge.files_touched_frac": 0.0,
           "merge.bytes_rewritten": 0, "stream.batches": 0, "stream.add_batch_ms": 0.0,
           "stream.wal_commit_ms": 0.0}
    table = getattr(workload, "table", None)
    if table is not None:
        out["versioned.versions"] = len(table.versions())
        out["versioned.files_live"] = table.detail()["n_files"]
        merges = workload.merges
        total = sum(m["files_total"] for m in merges)
        out["merge.files_touched_frac"] = sum(m["files_touched"] for m in merges) / total if total else 0.0
        out["merge.bytes_rewritten"] = sum(m["bytes_rewritten"] for m in merges)
        progress = workload.stream_progress
        out["stream.batches"] = len(progress)
        out["stream.add_batch_ms"] = float(sum(p.get("addBatch", 0) for p in progress))
        out["stream.wal_commit_ms"] = float(sum(p.get("walCommit", 0) for p in progress))
    return out


def _ancestors(tracer: Tracer) -> dict[int, list[str]]:
    """Span id -> names of the span and all its ancestors."""
    by_id = {s.sid: s for s in tracer.spans}
    out = {}
    for s in tracer.spans:
        names, cur = [], s
        while cur is not None:
            names.append(cur.name)
            cur = by_id.get(cur.parent) if cur.parent is not None else None
        out[s.sid] = names
    return out


def finish(engine: dict, eventlog_dir: str, tracer: Tracer, traced_wall_s: float) -> dict:
    """Join spans and event-log jobs into the per-layer metrics."""
    logs = glob.glob(os.path.join(eventlog_dir, "*"))
    log = parse_event_log(logs[0])
    selft = tracer.self_times()
    chain = _ancestors(tracer)
    ops = [s for s in tracer.spans if s.name == "op"]
    op_wall = sum(s.t1 - s.t0 for s in ops)

    # self and total seconds per layer, op spans only
    layer_self: dict[str, float] = {}
    layer_total: dict[str, float] = {}
    for s in tracer.spans:
        if "op" in chain[s.sid]:
            layer_self[s.name] = layer_self.get(s.name, 0.0) + selft[s.sid]
            layer_total[s.name] = layer_total.get(s.name, 0.0) + (s.t1 - s.t0)
    coverage = min((1 - selft[s.sid] / (s.t1 - s.t0) for s in ops if s.t1 > s.t0), default=1.0)

    # jobs charged to the innermost span open at submission
    in_ops = {k: 0.0 for k in JOB_SUMS + BYTE_SUMS + ("jobs", "tasks")}
    layer_jobs: dict[str, dict[str, int]] = {}
    for job in log["jobs"].values():
        span = tracer.innermost(job["submit"])
        names = chain[span.sid] if span else []
        if "op" not in names:
            continue
        in_ops["jobs"] += 1
        in_ops["tasks"] += job["tasks"]
        for k in JOB_SUMS + BYTE_SUMS:
            in_ops[k] += job[k]
        for n in set(names):
            d = layer_jobs.setdefault(n, {"jobs": 0, "tasks": 0})
            d["jobs"] += 1
            d["tasks"] += job["tasks"]
    op_sql = {"jobs": log["jobs"],
              "sql": {k: e for k, e in log["sql"].items()
                      if (sp := tracer.innermost(e["start"])) and "op" in chain[sp.sid]}}

    load_s = sum(s.t1 - s.t0 for s in tracer.spans
                 if s.name == "registry.load_table" and "setup" in chain[s.sid])

    per_layer = {
        "trace.wall_s": (traced_wall_s, "s"),
        "trace.span_coverage_min": (coverage, "frac"),
        "registry.load_table_s": (load_s, "s"),
        "registry.rechunked_tables": (engine["rechunked_tables"], "count"),
        "plans.build_jobs": (layer_jobs.get("plans.build", {}).get("jobs", 0), "count"),
        "plans.build_tasks": (layer_jobs.get("plans.build", {}).get("tasks", 0), "count"),
        "merge.jobs": (layer_jobs.get("merge", {}).get("jobs", 0), "count"),
        "versioned.cdf_jobs": (layer_jobs.get("versioned.cdf", {}).get("jobs", 0), "count"),
        "merge.files_touched_frac": (engine["merge.files_touched_frac"], "frac"),
        "merge.bytes_rewritten": (engine["merge.bytes_rewritten"], "bytes"),
        "versioned.files_live": (engine["versioned.files_live"], "count"),
        "versioned.versions": (engine["versioned.versions"], "count"),
        "stream.batches": (engine["stream.batches"], "count"),
        "materialize.local_checkpoints": (
            sum(1 for s in tracer.spans if s.name == "materialize.local_checkpoint"
                and "op" in chain[s.sid]), "count"),
        "spark.jobs": (int(in_ops["jobs"]), "count"),
        "spark.tasks": (int(in_ops["tasks"]), "count"),
        "spark.task_run_s": (in_ops["run_s"], "s"),
        "spark.task_cpu_s": (in_ops["cpu_s"], "s"),
        "spark.task_deser_s": (in_ops["deser_s"], "s"),
        "spark.task_wait_s": (in_ops["wait_s"], "s"),
        "spark.gc_s": (in_ops["gc_s"], "s"),
        "spark.planning_s": (sql_driver_seconds(op_sql), "s"),
        "spark.shuffle_read_bytes": (int(in_ops["shuffle_read_bytes"]), "bytes"),
        "spark.shuffle_write_bytes": (int(in_ops["shuffle_write_bytes"]), "bytes"),
        "spark.spill_bytes": (int(in_ops["spill_bytes"]), "bytes"),
    }
    for name in SHARE_LAYERS:
        per_layer[f"{name}.self_frac"] = (layer_self.get(name, 0.0) / op_wall, "frac")
    setup_self: dict[str, float] = {}
    for s in tracer.spans:
        if "setup" in chain[s.sid]:
            setup_self[s.name] = setup_self.get(s.name, 0.0) + selft[s.sid]
    everything = {
        "op_wall_s": op_wall,
        "setup_self_s": setup_self,
        "self_s": layer_self,
        "total_s": layer_total,
        "jobs": layer_jobs,
        "stream_ms": {"add_batch": engine["stream.add_batch_ms"],
                      "wal_commit": engine["stream.wal_commit_ms"]},
    }
    return {
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()},
        "all": everything,
    }

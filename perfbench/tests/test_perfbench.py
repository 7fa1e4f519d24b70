"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import fixtures  # noqa: E402
import tracing  # noqa: E402
from workloads import canonical_rows, digest  # noqa: E402

SMALL = {"customer": 50, "supplier": 10, "part": 40, "orders": 100,
         "lineitem": 300, "events": 80, "documents": 60, "embeddings": 20}


def test_percentile_rule():
    values = [float(v) for v in range(1, 11)]
    # inclusive: linear between order statistics, never past the maximum
    assert tracing.p90(values) == pytest.approx(9.1)
    assert tracing.p90([3.0, 1.0, 2.0]) == pytest.approx(2.8)
    assert tracing.p90([4.0]) == 4.0


def test_covered_merges_overlapping_parts_and_clips():
    assert tracing.covered((0, 10), []) == 0
    assert tracing.covered((0, 10), [(1, 3), (2, 5), (8, 12)]) == 6
    assert tracing.covered((0, 10), [(-5, 1), (9.5, 20)]) == 1.5


def _span(tracer, name, parent, t0, t1):
    s = tracing.Span(len(tracer.spans), parent.sid if parent else None, name, t0)
    s.t1 = t1
    tracer.spans.append(s)
    return s


def test_sql_driver_seconds_counts_nested_executions_once():
    log = {
        "sql": {1: {"start": 0.0, "end": 10.0}, 2: {"start": 2.0, "end": 6.0},
                3: {"start": 20.0, "end": 21.0}, 4: {"start": 30.0, "end": None}},
        "jobs": {1: {"submit": 3.0, "end": 5.0}, 2: {"submit": 8.0, "end": 9.0},
                 3: {"submit": 40.0, "end": None}},
    }
    # [0, 10] and [20, 21] minus the jobs' [3, 5] and [8, 9]
    assert tracing.sql_driver_seconds(log) == pytest.approx(8.0)


def test_self_time_subtracts_children_only():
    t = tracing.Tracer(True)
    op = _span(t, "op", None, 0.0, 10.0)
    build = _span(t, "plans.build", op, 1.0, 4.0)
    _span(t, "materialize.local_checkpoint", build, 2.0, 3.5)
    _span(t, "exec.materialize", op, 4.0, 9.0)
    st = t.self_times()
    assert st[0] == pytest.approx(2.0)   # 10 - (3 + 5)
    assert st[1] == pytest.approx(1.5)   # 3 - 1.5; the grandchild is not the op's
    assert st[2] == pytest.approx(1.5)
    assert st[3] == pytest.approx(5.0)
    assert sum(st.values()) == pytest.approx(10.0)
    assert t.innermost(2.5).name == "materialize.local_checkpoint"
    assert t.innermost(5.0).name == "exec.materialize"
    assert t.innermost(11.0) is None


def test_disabled_tracer_records_nothing():
    t = tracing.Tracer(False)
    with t.span("op") as s:
        assert s is None
    assert t.spans == []


def test_tracer_nests_live_spans():
    t = tracing.Tracer(True)
    with t.span("op"):
        with t.span("plans.build") as inner:
            pass
    assert inner.parent == 0
    assert t.spans[0].t0 <= inner.t0 <= inner.t1 <= t.spans[0].t1


def test_event_log_parser_on_a_tiny_query(tmp_path):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]").appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(log_dir))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    t = tracing.Tracer(True)
    try:
        with t.span("op"):
            with t.span("exec.materialize"):
                rows = (spark.range(0, 1000, 1, 4)
                        .groupBy((F.col("id") % 10).alias("g")).count().collect())
    finally:
        spark.stop()
    assert sorted(r["count"] for r in rows) == [100] * 10
    (path,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    log = tracing.parse_event_log(path)
    jobs = list(log["jobs"].values())
    assert jobs and all(j["end"] is not None and j["end"] >= j["submit"] for j in jobs)
    # 4 map tasks plus 3 reduce tasks over the job(s) of the query
    assert sum(j["tasks"] for j in jobs) == 7
    assert sum(j["shuffle_write_bytes"] for j in jobs) > 0
    assert sum(j["shuffle_read_bytes"] for j in jobs) == sum(j["shuffle_write_bytes"] for j in jobs)
    assert all(j["run_s"] >= 0 and j["cpu_s"] >= 0 and j["wait_s"] >= 0 for j in jobs)
    assert log["sql"] and all(e["end"] >= e["start"] for e in log["sql"].values())
    assert all(j["sql"] in log["sql"] for j in jobs)
    # every job was submitted inside the span that ran the query
    assert {t.innermost(j["submit"]).name for j in jobs} == {"exec.materialize"}
    assert 0 <= tracing.sql_driver_seconds(log) <= sum(
        e["end"] - e["start"] for e in log["sql"].values()
    )


def test_tables_are_seed_deterministic(tmp_path):
    a = fixtures.make_tables(5, rows=SMALL)
    b = fixtures.make_tables(5, rows=SMALL)
    c = fixtures.make_tables(6, rows=SMALL)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert len(a) == 10
    # a subset is made from the same streams as the full set
    sub = fixtures.make_tables(5, ("documents", "nation"), rows=SMALL)
    assert sorted(sub) == ["documents", "nation"]
    assert all(sub[t].equals(a[t]) for t in sub)
    sizes = fixtures.write_tables(a, str(tmp_path))
    import pyarrow.parquet as pq

    for name in a:
        f = pq.ParquetFile(os.path.join(tmp_path, f"{name}.parquet"))
        assert f.metadata.num_row_groups == 1 and sizes[name] > 0


def _feed(seed):
    return fixtures.SyncFeed(fixtures.make_tables(seed, ("documents",), rows=SMALL)["documents"])


def test_sync_feed_is_seed_deterministic():
    f1, f2, f3 = _feed(9), _feed(9), _feed(10)
    for k in range(fixtures.SyncFeed.N_SLICES):
        assert f1.state(k) == f2.state(k)
        assert k == 0 or f1.changes(k) == f2.changes(k)
    assert f1.state(2) != f3.state(2)


def test_sync_feed_slices_and_last_write_wins():
    f = _feed(9)
    n = SMALL["documents"]
    assert f.per == n // 5 and f.n_upd == max(1, round(f.per / 100))
    # contiguous fresh slices above every committed id, covering the corpus
    ranges = [f.fresh_range(k) for k in range(f.N_SLICES)]
    assert ranges[0][0] == 0 and ranges[-1][1] == n
    assert all(a[1] == b[0] for a, b in zip(ranges, ranges[1:]))
    # applying cycle k's change feed to the state after k-1 gives state k
    state = f.state(0)
    assert len(state) == f.per
    for k in range(1, f.N_SLICES):
        changes = f.changes(k)
        for (doc_id, kind), row in changes.items():
            if kind == "update_preimage":
                assert state[doc_id] == row
            else:
                state[doc_id] = row
        assert state == f.state(k)
        assert sum(1 for _, kind in changes if kind == "insert") == ranges[k][1] - ranges[k][0]
        assert state[0][0].endswith(f" [rev{k}]")
        assert state[f.n_upd] == f.rows[f.n_upd]


def test_canonical_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [2, 1], "v": [0.1 + 0.2, None], "s": ["x", "y"]})
    b = pd.DataFrame({"s": ["y", "x"], "v": [None, 0.3], "k": [1, 2]})
    assert digest(a.columns, canonical_rows(a)) == digest(b.columns, canonical_rows(b))
    c = b.assign(k=[1, 3])
    assert digest(a.columns, canonical_rows(a)) != digest(c.columns, canonical_rows(c))


def test_tree_rss_counts_this_process():
    assert tracing.tree_rss_bytes(os.getpid()) > 1 << 20
    assert os.getpid() not in tracing.descendants(os.getpid())


def test_rss_sampler_pause_drops_samples():
    rss = tracing.RssSampler(interval_s=0.01)
    with rss.paused(), rss:
        time.sleep(0.1)
    assert rss.peak == 0
    with tracing.RssSampler(interval_s=0.01) as rss:
        time.sleep(0.1)
    assert rss.peak > 0

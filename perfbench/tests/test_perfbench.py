"""Tests of the benchmark's own code (no Spark session needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.csv as pacsv
import pyarrow.parquet as pq
import pytest

from perfbench import core, gen, tracing
from perfbench.spans import Span, read_event_log, self_times, stage_totals

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


# --- generator ---------------------------------------------------------------


def _keys(rows: dict) -> set:
    return set(zip(rows["l_orderkey"].tolist(), rows["l_linenumber"].tolist()))


def test_lineitem_rows_deterministic_per_seed():
    a = gen.lineitem_rows(3, 1, 200)
    b = gen.lineitem_rows(3, 1, 200)
    c = gen.lineitem_rows(4, 1, 200)
    for k in gen.LINEITEM_COLUMNS:
        assert np.array_equal(a[k], b[k])
    assert not np.array_equal(a["l_orderkey"], c["l_orderkey"])


def test_primary_key_unique_across_files():
    seen: set = set()
    total = 0
    for i in range(4):
        rows = gen.lineitem_rows(1, i, 300)
        keys = _keys(rows)
        assert len(keys) == len(rows["l_orderkey"])
        assert not keys & seen
        seen |= keys
        total += len(keys)
    assert len(seen) == total


def test_row_order_is_shuffled():
    keys = gen.lineitem_rows(1, 0, 300)["l_orderkey"]
    assert not np.all(keys[:-1] <= keys[1:])


def test_dump_files_are_distinct_and_agree_across_formats(tmp_path):
    tables = [("t_csv", "csv", 3, 50), ("t_pq", "parquet", 3, 50), ("t_sql", "sql", 3, 50)]
    meta = gen.lineitem_dump(str(tmp_path), 5, tables)
    again = gen.lineitem_dump(str(tmp_path), 5, tables)
    assert meta == again
    d = meta["dir"]
    inodes = {os.stat(os.path.join(d, f)).st_ino for f in os.listdir(d)}
    assert len(inodes) == len(os.listdir(d))

    csv_keys: set = set()
    for i in range(3):
        t = pacsv.read_csv(os.path.join(d, f"bench.t_csv.{i:03d}.csv"))
        csv_keys |= set(zip(t["l_orderkey"].to_pylist(), t["l_linenumber"].to_pylist()))
    assert len(csv_keys) == meta["tables"]["t_csv"]["rows"]
    pq_rows = sum(
        pq.ParquetFile(os.path.join(d, f"bench.t_pq.{i:03d}.parquet")).metadata.num_rows
        for i in range(3)
    )
    assert pq_rows == meta["tables"]["t_pq"]["rows"]
    sql = open(os.path.join(d, "bench.t_sql.000.sql")).read()
    n_rows = len(gen.lineitem_rows(5, 0, 50)["l_orderkey"])
    assert sql.count("),\n(") + sql.count("VALUES\n(") == n_rows
    for t in ("t_csv", "t_pq", "t_sql"):
        assert os.path.exists(os.path.join(d, f"bench.{t}-schema.sql"))


def test_registry_tables_deterministic(tmp_path):
    a = gen.registry_tables(str(tmp_path / "a"), 9, 2000)
    b = gen.registry_tables(str(tmp_path / "b"), 9, 2000)
    assert a["rows"] == b["rows"]
    for name in a["rows"]:
        ta = pq.read_table(os.path.join(a["dir"], f"{name}.parquet"))
        tb = pq.read_table(os.path.join(b["dir"], f"{name}.parquet"))
        assert ta.equals(tb), name
    emb = pq.read_table(os.path.join(a["dir"], "embeddings.parquet"))
    assert len(emb["embedding"][0]) == 64
    orders = pq.read_table(os.path.join(a["dir"], "orders.parquet"))
    assert orders["o_orderkey"].to_pylist() == list(range(orders.num_rows))


# --- metric names --------------------------------------------------------------

PINNED_END_TO_END = {
    "setup_s": "s", "op_s": "s", "input_mib_s": "MiB/s", "peak_rss_mib": "MiB",
}
PINNED_PER_LAYER = {
    "loader.discover_s", "loader.files", "ddl.parse_s",
    "csv_source.read_s", "csv_source.tasks", "csv_source.cpu_s",
    "sqldump_source.read_s", "sqldump_source.chunks", "sqldump_source.cpu_s",
    "parquet_source.read_s", "parquet_source.tasks",
    "transform.self_s", "transform.cpu_s",
    "files_sink.write_self_s", "files_sink.jobs", "files_sink.files_out",
    "files_sink.bytes_out", "files_sink.stored_bytes_ratio",
    "files_sink.shuffle_write_mib", "files_sink.spill_mib", "files_sink.gc_s",
    "checksum.readback_s", "pipeline.traced_import_s", "pipeline.other_s",
    "queries.construct_s", "queries.exec_s", "queries.jobs",
    "queries.shuffle_write_mib", "queries.spill_mib", "queries.gc_s",
    *(
        f"queries.{e}.{m}"
        for e in ("semdedup_prune", "near_dup_embeddings_lsh", "near_dup_simhash_pairs",
                  "embedding_rp_recall", "setjoin_prefix_jaccard", "checksum_lineitem")
        for m in ("construct_s", "exec_s", "jobs")
    ),
    "streaming.cdc_replay_s", "streaming.cdc_jobs",
    "trace.coverage", "trace.overhead_ratio",
}


def test_metric_names_pinned_and_match_benchmark_json():
    assert core.END_TO_END == PINNED_END_TO_END
    assert set(tracing.PER_LAYER) == PINNED_PER_LAYER
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == core.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == tracing.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(core.WORKLOADS)


def test_layer_metrics_fill_every_per_layer_name():
    spans = [
        Span("t.1", "pipeline.traced_import", 0.0, 10.0, None, "t"),
        Span("t.2", "files_sink.write", 1.0, 5.0, "t.1", "t"),
        Span("t.3", "csv_source.read", 11.0, 12.0, None, "t"),
        Span("t.4", "transform.force", 12.0, 14.0, None, "t"),
        Span("t.5", "queries.streaming_cdc_replay.construct", 15.0, 16.0, None, "t"),
    ]
    info = {"files_listed": 30, "commits": [(4, 1000)], "stored_ratio": 0.4}
    m = tracing.layer_metrics(spans, {}, info, untraced_op_s=8.0, traced_op_s=10.0)
    assert set(m) == set(tracing.PER_LAYER)
    assert m["csv_source.read_s"] == pytest.approx(1.0)
    assert m["transform.self_s"] == pytest.approx(1.0)
    assert m["files_sink.write_self_s"] == pytest.approx(2.0)
    assert m["pipeline.other_s"] == pytest.approx(6.0)
    # layer self times plus the unattributed rest make up the import wall
    assert m["trace.coverage"] + m["pipeline.other_s"] / 10.0 == pytest.approx(1.0)
    assert m["trace.overhead_ratio"] == pytest.approx(1.25)


# --- spans ---------------------------------------------------------------------


def test_self_times_on_hand_built_tree():
    #  root [0,10]
    #    a [1,4]      (child b [2,3])
    #    c [3.5,6]    (overlaps a by 0.5)
    #  other [20,21]  (separate root)
    spans = [
        Span("r", "root", 0.0, 10.0, None, "x"),
        Span("a", "a", 1.0, 4.0, "r", "x"),
        Span("b", "b", 2.0, 3.0, "a", "x"),
        Span("c", "c", 3.5, 6.0, "r", "x"),
        Span("o", "other", 20.0, 21.0, None, "x"),
    ]
    st = self_times(spans)
    assert st["r"] == pytest.approx(10.0 - 5.0)  # union of [1,4] and [3.5,6]
    assert st["a"] == pytest.approx(2.0)
    assert st["b"] == pytest.approx(1.0)
    assert st["c"] == pytest.approx(2.5)
    assert st["o"] == pytest.approx(1.0)


def test_child_outside_parent_is_clipped():
    spans = [
        Span("p", "p", 0.0, 2.0, None, "x"),
        Span("k", "k", 1.5, 3.0, "p", "x"),
    ]
    assert self_times(spans)["p"] == pytest.approx(1.5)


def test_tracer_nests_spans():
    from perfbench.spans import Tracer

    t = Tracer("run")
    with t.span("outer"):
        with t.span("inner"):
            pass
    inner, outer = t.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert {inner.run_id, outer.run_id} == {"run"}


# --- event log -------------------------------------------------------------------


def test_stage_totals_on_recorded_log():
    events = list(read_event_log(os.path.join(HERE, "data", "eventlog")))
    # spans cover the recorded jobs: group "g.1" by job group, and the job
    # submitted without a group falls to the span open at that time
    starts = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    assert len(starts) == 3
    t_free = starts[2]["Submission Time"] / 1000.0
    spans = [
        Span("g.1", "grouped", 0.0, 1.0, None, "g"),
        Span("g.2", "by-time", t_free - 1.0, t_free + 1.0, None, "g"),
    ]
    tot = stage_totals(events, spans)
    assert tot["g.1"]["jobs"] == 2
    assert tot["g.2"]["jobs"] == 1
    ends = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    assert tot["g.1"]["tasks"] + tot["g.2"]["tasks"] == len(ends)
    cpu = sum(e["Task Metrics"]["Executor CPU Time"] for e in ends) / 1e9
    assert tot["g.1"]["cpu_s"] + tot["g.2"]["cpu_s"] == pytest.approx(cpu)
    shuffle = sum(
        e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"] for e in ends
    )
    assert tot["g.1"]["shuffle_write_bytes"] + tot["g.2"]["shuffle_write_bytes"] == shuffle
    assert tot["g.1"]["shuffle_write_bytes"] > 0

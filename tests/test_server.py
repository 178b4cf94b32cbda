"""Status server (M5) + Prometheus metrics (M6) tests.

Model: the reference's HTTP surface lightning.go:95-214 (endpoint set,
task queue one-at-a-time semantics, pause gate) and metric families
metric.go:49-199. The server is exercised over a real TCP socket with
urllib; the import task runs the real pipeline through the shared Spark
session.
"""

from __future__ import annotations

import json
import os
import threading
import urllib.error
import urllib.request

import pytest

from tidb_lightning_spark import metrics
from tidb_lightning_spark.server import StatusServer, TaskQueue


# ---------------------------------------------------------------------------
# metrics registry unit tests
# ---------------------------------------------------------------------------


def test_counter_vec_render():
    reg = metrics.Registry()
    c = reg.counter("t_tables", "help text", ["state", "result"])
    c.inc("completed", "success")
    c.inc("completed", "success")
    c.inc("completed", "failure")
    out = reg.render()
    assert "# HELP t_tables help text" in out
    assert "# TYPE t_tables counter" in out
    assert 't_tables{state="completed",result="success"} 2' in out
    assert 't_tables{state="completed",result="failure"} 1' in out


def test_gauge_set_and_integer_format():
    reg = metrics.Registry()
    g = reg.gauge("t_workers", "h", ["name"])
    g.set("io", value=5.0)
    assert 't_workers{name="io"} 5\n' in reg.render()
    g.set("io", value=2.5)
    assert 't_workers{name="io"} 2.5' in reg.render()


def test_histogram_buckets_cumulative():
    reg = metrics.Registry()
    h = reg.histogram("t_sec", "h", metrics.exponential_buckets(0.125, 2, 6))
    # buckets: 0.125 0.25 0.5 1 2 4
    for v in (0.1, 0.3, 0.3, 8.0):
        h.observe(v)
    out = reg.render()
    assert 't_sec_bucket{le="0.125"} 1' in out
    assert 't_sec_bucket{le="0.5"} 3' in out
    assert 't_sec_bucket{le="4"} 3' in out
    assert 't_sec_bucket{le="+Inf"} 4' in out
    assert "t_sec_count 4" in out
    assert "t_sec_sum 8.7" in out


def test_exponential_buckets_match_reference():
    # prometheus.ExponentialBuckets(0.125, 2, 6) — metric.go:107
    assert metrics.exponential_buckets(0.125, 2, 6) == [
        0.125, 0.25, 0.5, 1.0, 2.0, 4.0]


# ---------------------------------------------------------------------------
# HTTP server tests
# ---------------------------------------------------------------------------


def _req(base, path, method="GET", body=None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(base + path, data=data, method=method)
    if data:
        req.add_header("Content-Type", "application/json")
    with urllib.request.urlopen(req, timeout=10) as resp:
        return resp.status, resp.read().decode()


@pytest.fixture
def server(tmp_path):
    """StatusServer on an ephemeral port with a controllable fake runner."""
    ran = []
    gate = threading.Event()

    def runner(tid, cfg):
        gate.wait(timeout=10)
        ran.append((tid, cfg))
        return {"ok": True, "echo": cfg}

    queue = TaskQueue(runner)
    srv = StatusServer(("127.0.0.1", 0), queue, target_dir=str(tmp_path))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    yield base, queue, gate, ran
    srv.shutdown()
    queue.shutdown()
    srv.server_close()


def test_task_lifecycle(server):
    base, queue, gate, ran = server
    # empty queue
    status, body = _req(base, "/tasks")
    assert json.loads(body) == {"current": None, "queue": []}

    # submit two; runner is gated so both visible
    _, b1 = _req(base, "/tasks", "POST", {"target": "/tmp/w1"})
    _, b2 = _req(base, "/tasks", "POST", {"target": "/tmp/w2"})
    t1, t2 = json.loads(b1)["id"], json.loads(b2)["id"]
    assert (t1, t2) == (1, 2)

    # queued task is inspectable and deletable; invalid id is a 400
    _, body = _req(base, f"/tasks/{t2}")
    assert json.loads(body)["config"] == {"target": "/tmp/w2"}
    with pytest.raises(urllib.error.HTTPError) as ei:
        _req(base, "/tasks/zzz")
    assert ei.value.code == 400
    _req(base, f"/tasks/{t2}", "DELETE")
    with pytest.raises(urllib.error.HTTPError) as ei:
        _req(base, f"/tasks/{t2}")
    assert ei.value.code == 404

    # release the runner; t1 executes exactly once, result retrievable
    gate.set()
    assert queue.wait_idle(timeout=10)
    assert [tid for tid, _ in ran] == [t1]
    _, body = _req(base, f"/tasks/{t1}")
    assert json.loads(body)["result"]["ok"] is True

    # POST without target is a 400
    with pytest.raises(urllib.error.HTTPError) as ei:
        _req(base, "/tasks", "POST", {"source": "x"})
    assert ei.value.code == 400


def test_pause_resume_flag(server, tmp_path):
    base, *_ = server
    flag = tmp_path / "_tls_pause"
    _, body = _req(base, "/pause")
    assert json.loads(body) == {"paused": False}
    _req(base, "/pause", "PUT")
    assert flag.exists()
    _, body = _req(base, "/pause")
    assert json.loads(body) == {"paused": True}
    _req(base, "/resume", "PUT")
    assert not flag.exists()
    _, body = _req(base, "/pause")
    assert json.loads(body) == {"paused": False}


def test_progress_table_reads_checkpoints(server, tmp_path):
    base, *_ = server
    cps = {"mydb.people": {"status": "checksummed", "signature": "abc"}}
    (tmp_path / "_tls_checkpoints.json").write_text(json.dumps(cps))
    _, body = _req(base, "/progress/table?t=mydb.people")
    assert json.loads(body)["status"] == "checksummed"
    with pytest.raises(urllib.error.HTTPError) as ei:
        _req(base, "/progress/table?t=mydb.nope")
    assert ei.value.code == 404


def test_metrics_endpoint_serves_exposition(server):
    base, *_ = server
    status, body = _req(base, "/metrics")
    assert status == 200
    assert "# TYPE lightning_tables counter" in body
    assert "# TYPE lightning_import_seconds histogram" in body


def test_loglevel_roundtrip(server):
    import logging

    base, *_ = server
    before = logging.getLogger().getEffectiveLevel()
    try:
        _req(base, "/loglevel", "PUT", {"level": "warning"})
        assert logging.getLogger().getEffectiveLevel() == logging.WARNING
        _, body = _req(base, "/loglevel")
        assert json.loads(body)["level"] == "warning"
    finally:
        logging.getLogger().setLevel(before)


# ---------------------------------------------------------------------------
# end-to-end: server-submitted task runs the real pipeline
# ---------------------------------------------------------------------------


def test_server_runs_real_import(spark, tmp_path):
    from tidb_lightning_spark.server import pipeline_runner

    d = str(tmp_path / "dump")
    os.makedirs(d)
    with open(f"{d}/db1-schema-create.sql", "w") as f:
        f.write("CREATE DATABASE IF NOT EXISTS db1;")
    with open(f"{d}/db1.t-schema.sql", "w") as f:
        f.write("CREATE TABLE t (a INT PRIMARY KEY, b VARCHAR(10));")
    with open(f"{d}/db1.t.csv", "w") as f:
        f.write("a,b\n1,x\n2,y\n")
    target = str(tmp_path / "wh")

    queue = TaskQueue(pipeline_runner)
    srv = StatusServer(("127.0.0.1", 0), queue, target_dir=target)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        tables_before = metrics.TABLES.get(
            metrics.TABLE_STATE_COMPLETED, metrics.TABLE_RESULT_SUCCESS
        )
        _, body = _req(
            base, "/tasks", "POST",
            {"source": d, "target": target, "checksum": "required"},
        )
        tid = json.loads(body)["id"]
        assert queue.wait_idle(timeout=120)

        _, body = _req(base, f"/tasks/{tid}")
        res = json.loads(body)["result"]
        assert res["ok"] is True, res
        assert [r["a"] for r in sorted(
            spark.read.parquet(f"{target}/db1/t").collect())] == [1, 2]

        # pipeline pushed progress + metrics visible over HTTP
        _, body = _req(base, "/progress/task")
        prog = json.loads(body)
        assert prog["status"] == "ok" and prog["tables_done"] == 1
        _, body = _req(base, "/metrics")
        assert metrics.TABLES.get(
            metrics.TABLE_STATE_COMPLETED, metrics.TABLE_RESULT_SUCCESS
        ) == tables_before + 1
        assert 'lightning_tables{state="completed",result="success"}' in body
        # per-table checkpoint served (checksum=required -> checksummed)
        _, body = _req(base, "/progress/table?t=db1.t")
        assert json.loads(body)["status"] in ("checksummed", "analyzed")
    finally:
        srv.shutdown()
        queue.shutdown()
        srv.server_close()


def test_web_progress_page(server):
    base = server[0]
    status, body = _req(base, "/")
    assert status == 200
    assert "spark-lightning import progress" in body
    assert "/progress/task" in body  # polls the JSON endpoints


def test_progress_tables_lists_all(server, tmp_path):
    """/progress/tables feeds the web page's per-table rows: every
    checkpointed table with a human-readable status in one call."""
    base, *_ = server
    cps = {
        "mydb.people": {"status": "checksummed", "signature": "abc"},
        "mydb.orders": {"status": "loaded", "signature": "def"},
    }
    (tmp_path / "_tls_checkpoints.json").write_text(json.dumps(cps))
    _, body = _req(base, "/progress/tables")
    got = json.loads(body)
    assert got["mydb.people"]["status"] == "checksummed"
    assert got["mydb.orders"]["status"] == "loaded"
    # the page itself references the endpoint and renders table rows
    _, page = _req(base, "/web")
    assert "/progress/tables" in page


def test_progress_tables_skips_task_record(server, tmp_path):
    """A running import keeps its task record (pinned timestamp) in the
    same store; /progress/tables lists tables only."""
    from tidb_lightning_spark.checkpoints import CheckpointStore

    base, *_ = server
    store = CheckpointStore(str(tmp_path / "_tls_checkpoints.json"))
    store.update("__task__", "__meta__", "loaded", pinned_ts="2020-01-01")
    store.update("mydb", "people", "imported", rows=7)
    _, body = _req(base, "/progress/tables")
    assert json.loads(body) == {
        "mydb.people": {"status": "imported", "rows": 7}
    }


# ---------------------------------------------------------------------------
# configlist_test.go + lightning.go PATCH/DELETE mining (r12)
# ---------------------------------------------------------------------------


def test_move_front_back_reference_contract():
    """configlist_test.go:107-132: MoveToFront/MoveToBack are
    idempotent, unknown ids return False, and the relative order of the
    other entries is preserved."""
    gate = threading.Event()
    queue = TaskQueue(lambda tid, cfg: gate.wait(timeout=10) or {"ok": True})
    try:
        # block the worker on a sacrificial task so 1/2/3 stay queued
        queue.submit({"target": "/tmp/block"})
        t1 = queue.submit({"target": "/tmp/1"})
        t2 = queue.submit({"target": "/tmp/2"})
        t3 = queue.submit({"target": "/tmp/3"})
        import time

        deadline = time.time() + 5
        while queue.status()["queue"][:1] != [t1] and time.time() < deadline:
            time.sleep(0.01)
        assert queue.status()["queue"] == [t1, t2, t3]

        assert queue.move_to_front(t2)
        assert queue.status()["queue"] == [t2, t1, t3]
        assert queue.move_to_front(t2)  # idempotent
        assert queue.status()["queue"] == [t2, t1, t3]
        assert not queue.move_to_front(123456)
        assert queue.status()["queue"] == [t2, t1, t3]

        assert queue.move_to_back(t2)
        assert queue.status()["queue"] == [t1, t3, t2]
        assert queue.move_to_back(t2)
        assert queue.status()["queue"] == [t1, t3, t2]
        assert not queue.move_to_back(123456)
        assert queue.status()["queue"] == [t1, t3, t2]
    finally:
        gate.set()
        queue.shutdown()


def test_patch_front_back_http(server):
    """lightning.go:517-546: PATCH /tasks/<id>/front|back over HTTP;
    unknown verb is 400, unknown id 404, and the queue-jumped task runs
    next."""
    base, queue, gate, ran = server
    ids = [
        json.loads(_req(base, "/tasks", "POST", {"target": f"/tmp/w{i}"})[1])["id"]
        for i in range(4)
    ]
    # ids[0] is (or will be) running; the rest are queued
    import time

    deadline = time.time() + 5
    while queue.status()["current"] != ids[0] and time.time() < deadline:
        time.sleep(0.01)
    assert queue.status()["queue"] == ids[1:]

    _req(base, f"/tasks/{ids[3]}/front", "PATCH")
    assert queue.status()["queue"] == [ids[3], ids[1], ids[2]]
    _req(base, f"/tasks/{ids[3]}/back", "PATCH")
    assert queue.status()["queue"] == [ids[1], ids[2], ids[3]]

    with pytest.raises(urllib.error.HTTPError) as ei:
        _req(base, f"/tasks/{ids[1]}/sideways", "PATCH")
    assert ei.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as ei:
        _req(base, "/tasks/99999/front", "PATCH")
    assert ei.value.code == 404

    gate.set()
    assert queue.wait_idle(timeout=10)


def test_delete_running_task_cancels(tmp_path):
    """lightning.go:482-515: DELETE of the RUNNING task cancels it (the
    reference cancels the task context; here the canceller hook fires)
    and the worker records the failure, freeing the queue."""
    cancelled = threading.Event()
    started = threading.Event()

    def runner(tid, cfg):
        started.set()
        if not cancelled.wait(timeout=10):
            return {"ok": True}
        raise RuntimeError("task cancelled")

    queue = TaskQueue(runner, canceller=lambda tid, cfg: cancelled.set())
    try:
        tid = queue.submit({"target": "/tmp/x"})
        assert started.wait(timeout=10)
        assert queue.status()["current"] == tid
        assert queue.delete(tid)  # running -> cancel, not 404
        assert queue.wait_idle(timeout=10)
        res = queue.get(tid)["result"]
        assert res["ok"] is False and "cancelled" in res["error"]
        # finished tasks are no longer cancellable/removable
        assert not queue.delete(tid)
    finally:
        cancelled.set()
        queue.shutdown()


def test_delete_status_codes_reference(server):
    """lightning_test.go:289-320: DELETE /tasks and /tasks/ and a
    non-numeric id are 400; an unknown id is 404."""
    base, queue, gate, ran = server
    for path in ("/tasks", "/tasks/", "/tasks/abcdef"):
        with pytest.raises(urllib.error.HTTPError) as ei:
            _req(base, path, "DELETE")
        assert ei.value.code == 400, path
    with pytest.raises(urllib.error.HTTPError) as ei:
        _req(base, "/tasks/123456", "DELETE")
    assert ei.value.code == 404
    gate.set()

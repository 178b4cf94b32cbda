"""The seams the benchmark's traced mode (`perfbench/tracing.py`) wraps
in the pipeline. A refactor that renames or bypasses one of them leaves
the traced benchmark blind to a layer without failing it; these tests
fail instead."""

from __future__ import annotations

import os

from perfbench.spans import Tracer
from perfbench.tracing import ImportTrace, patched


def test_trace_targets_resolve():
    for owner, attr, _ in ImportTrace(Tracer("t")).targets():
        assert callable(getattr(owner, attr, None)), (owner.__name__, attr)


def _write(path, content):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(content)


def test_traced_files_restore_records_layer_spans(spark, tmp_path):
    from tidb_lightning_spark.config import Config
    from tidb_lightning_spark.pipeline import Restorer

    d = str(tmp_path / "dump")
    _write(f"{d}/s-schema-create.sql", "CREATE DATABASE s;")
    _write(f"{d}/s.t-schema.sql", "CREATE TABLE t (a INT PRIMARY KEY, b VARCHAR(10));")
    _write(f"{d}/s.t.csv", "a,b\n1,x\n2,y\n3,z\n")
    cfg = Config.from_toml(
        None, source_dir=d, target_dir=str(tmp_path / "wh"), checksum="required"
    )
    tracer = Tracer("t")
    trace = ImportTrace(tracer)
    restorer = Restorer(spark, cfg)
    with patched(trace.targets()):
        trace.hook(restorer)
        rep = restorer.run()
    assert rep.ok, [t.error for t in rep.tables]
    names = {s.name for s in tracer.spans}
    assert {
        "pipeline.traced_import",
        "loader.discover",
        "ddl.parse",
        "csv_source.construct",
        "transform.construct",
        "files_sink.write",
        "checksum.readback",
    } <= names, names
    # the write and readback spans nest inside the traced import
    (run,) = [s for s in tracer.spans if s.name == "pipeline.traced_import"]
    for s in tracer.spans:
        if s.name in ("files_sink.write", "checksum.readback"):
            assert s.parent == run.span_id
    assert trace.commits and trace.commits[0][0] >= 1
    assert trace.files_listed == 1

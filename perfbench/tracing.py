"""Traced mode: one traced import and one traced registry pass, in a
fresh session with the Spark event log on, reduced to per-layer metrics.

Both traces run whatever the workload, so every per-layer metric is
measured in every traced run.  The traced session first makes the
untraced warm-up imports and a registry pass that pins fingerprints
(without the DuckDB oracle, which the untraced registry runs check), so
no trace pays first-run compilation.

Spans are recorded from the benchmark's side only.  During the traced
``Restorer.run()`` the layer entry points the pipeline calls are wrapped
for the duration of the call, so each call runs in a span with its own
Spark job group and with the pipeline's own arguments.  Spark is lazy:
the source and transform calls only build plans, which execute inside
``FilesSink.write_table``.  Their scan and transform cost is measured
after the import by forcing the captured DataFrames with a ``noop``
write: ``<source>.read`` forces the scan, ``transform.force`` the scan
plus the transform.  The layer self times are

* ``<source>.read_s``         = construct call + forced scan
* ``transform.self_s``        = construct calls + forced transforms - forced scans
* ``files_sink.write_self_s`` = ``write_table`` self time - forced transforms
* ``pipeline.other_s``        = import wall minus what its child spans cover

so the layer self times and ``pipeline.other_s`` add up to
``pipeline.traced_import_s``.
"""

from __future__ import annotations

import contextlib
import json
import os

from perfbench import core
from perfbench.spans import Tracer, read_event_log, self_times, stage_totals

SOURCES = ("csv_source", "sqldump_source", "parquet_source")
NAMED_ENTRIES = [e for e in core.REGISTRY_ENTRIES if e != "streaming_cdc_replay"]

PER_LAYER = {
    "loader.discover_s": "s",
    "loader.files": "count",
    "ddl.parse_s": "s",
    "csv_source.read_s": "s",
    "csv_source.tasks": "count",
    "csv_source.cpu_s": "s",
    "sqldump_source.read_s": "s",
    "sqldump_source.chunks": "count",
    "sqldump_source.cpu_s": "s",
    "parquet_source.read_s": "s",
    "parquet_source.tasks": "count",
    "transform.self_s": "s",
    "transform.cpu_s": "s",
    "files_sink.write_self_s": "s",
    "files_sink.jobs": "count",
    "files_sink.files_out": "count",
    "files_sink.bytes_out": "bytes",
    "files_sink.stored_bytes_ratio": "ratio",
    "files_sink.shuffle_write_mib": "MiB",
    "files_sink.spill_mib": "MiB",
    "files_sink.gc_s": "s",
    "checksum.readback_s": "s",
    "pipeline.traced_import_s": "s",
    "pipeline.other_s": "s",
    "queries.construct_s": "s",
    "queries.exec_s": "s",
    "queries.jobs": "count",
    "queries.shuffle_write_mib": "MiB",
    "queries.spill_mib": "MiB",
    "queries.gc_s": "s",
    **{
        f"queries.{e}.{m}": u
        for e in NAMED_ENTRIES
        for m, u in (("construct_s", "s"), ("exec_s", "s"), ("jobs", "count"))
    },
    "streaming.cdc_replay_s": "s",
    "streaming.cdc_jobs": "count",
    "trace.coverage": "ratio",
    "trace.overhead_ratio": "ratio",
}

# the spans whose self times make up the import, for trace.coverage
IMPORT_LAYERS = (
    "loader.discover_s", "ddl.parse_s", *(f"{s}.read_s" for s in SOURCES),
    "transform.self_s", "files_sink.write_self_s", "checksum.readback_s",
)


@contextlib.contextmanager
def patched(targets):
    """Temporarily replace ``owner.attr`` with ``make(original)`` for each
    ``(owner, attr, make)``."""
    saved = []
    try:
        for owner, attr, make in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, make(orig))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


class ImportTrace:
    """Wraps the pipeline's layer entry points for one traced import and
    keeps the lazily built source and transform DataFrames."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.reads: list = []  # (source module, DataFrame)
        self.transforms: list = []
        self.files_listed = 0
        self.commits: list = []  # (files, bytes)

    def _wrap(self, name: str, on_result=None):
        def make(orig):
            def wrapper(*a, **k):
                with self.tracer.span(name):
                    out = orig(*a, **k)
                if on_result is not None:
                    on_result(out)
                return out

            return wrapper

        return make

    def _keep_read(self, source: str):
        def keep(out):
            self.reads.append((source, out[0] if isinstance(out, tuple) else out))

        return keep

    def _count_files(self, result) -> None:
        self.files_listed += sum(len(t.data_files) for t in result.sorted_tables())

    def _commit(self, commit) -> None:
        self.commits.append((commit.n_files, core.dir_bytes(commit.path)))

    def targets(self) -> list:
        from tidb_lightning_spark import pipeline as P
        from tidb_lightning_spark.operators import transform as T
        from tidb_lightning_spark.sources import csv_source, sqldump_source

        return [
            (P, "discover", self._wrap("loader.discover", self._count_files)),
            (P, "parse_create_table", self._wrap("ddl.parse")),
            (csv_source, "read_csv_files",
             self._wrap("csv_source.construct", self._keep_read("csv_source"))),
            (sqldump_source, "read_sql_files",
             self._wrap("sqldump_source.construct", self._keep_read("sqldump_source"))),
            (P, "read_table",
             self._wrap("parquet_source.construct", self._keep_read("parquet_source"))),
            (P, "transform_table", self._wrap("transform.construct", self.transforms.append)),
            (T, "transform_parquet_table",
             self._wrap("transform.construct", self.transforms.append)),
            (P, "_readback_pass", self._wrap("checksum.readback")),
        ]

    def hook(self, restorer) -> None:
        """Wrap ``run`` and the sink of the Restorer about to run."""
        restorer.run = self._wrap("pipeline.traced_import")(restorer.run)
        restorer.sink.write_table = self._wrap("files_sink.write", self._commit)(
            restorer.sink.write_table
        )

    def force_captured(self) -> None:
        for source, df in self.reads:
            with self.tracer.span(f"{source}.read"):
                df.write.format("noop").mode("overwrite").save()
        for df in self.transforms:
            with self.tracer.span("transform.force"):
                df.write.format("noop").mode("overwrite").save()


def layer_metrics(spans, totals: dict, import_info: dict, untraced_op_s: float,
                  traced_op_s: float) -> dict:
    """Per-layer metrics from the traced run's spans and per-span stage
    totals; ``import_info`` carries the counts the wrappers saw."""
    st = self_times(spans)

    def self_s(name):
        return sum(st[s.span_id] for s in spans if s.name == name)

    def dur(name):
        return sum(s.duration for s in spans if s.name == name)

    def stage(pred, field):
        return sum(totals.get(s.span_id, {}).get(field, 0) for s in spans if pred(s.name))

    def named(name):
        return lambda n: n == name

    mib = 2**20
    m = {
        "loader.discover_s": self_s("loader.discover"),
        "loader.files": import_info["files_listed"],
        "ddl.parse_s": self_s("ddl.parse"),
    }
    for src in SOURCES:
        m[f"{src}.read_s"] = self_s(f"{src}.construct") + dur(f"{src}.read")
    m["csv_source.tasks"] = stage(named("csv_source.read"), "tasks")
    m["csv_source.cpu_s"] = stage(named("csv_source.read"), "cpu_s")
    m["sqldump_source.chunks"] = stage(named("sqldump_source.read"), "tasks")
    m["sqldump_source.cpu_s"] = stage(named("sqldump_source.read"), "cpu_s")
    m["parquet_source.tasks"] = stage(named("parquet_source.read"), "tasks")
    reads = [f"{s}.read" for s in SOURCES]
    m["transform.self_s"] = (
        self_s("transform.construct") + dur("transform.force") - sum(dur(r) for r in reads)
    )
    m["transform.cpu_s"] = stage(named("transform.force"), "cpu_s") - stage(
        lambda n: n in reads, "cpu_s"
    )
    write = named("files_sink.write")
    m["files_sink.write_self_s"] = self_s("files_sink.write") - dur("transform.force")
    m["files_sink.jobs"] = stage(write, "jobs")
    m["files_sink.files_out"] = sum(n for n, _ in import_info["commits"])
    m["files_sink.bytes_out"] = sum(b for _, b in import_info["commits"])
    m["files_sink.stored_bytes_ratio"] = import_info["stored_ratio"]
    m["files_sink.shuffle_write_mib"] = stage(write, "shuffle_write_bytes") / mib
    m["files_sink.spill_mib"] = stage(write, "spill_bytes") / mib
    m["files_sink.gc_s"] = stage(write, "gc_s")
    m["checksum.readback_s"] = self_s("checksum.readback")
    wall = dur("pipeline.traced_import")
    m["pipeline.traced_import_s"] = wall
    m["pipeline.other_s"] = self_s("pipeline.traced_import")
    m["trace.coverage"] = sum(m[k] for k in IMPORT_LAYERS) / wall

    def is_q(n):
        return n.startswith("queries.")

    for part in ("construct", "exec"):
        m[f"queries.{part}_s"] = sum(
            s.duration for s in spans if is_q(s.name) and s.name.endswith("." + part)
        )
    m["queries.jobs"] = stage(is_q, "jobs")
    m["queries.shuffle_write_mib"] = stage(is_q, "shuffle_write_bytes") / mib
    m["queries.spill_mib"] = stage(is_q, "spill_bytes") / mib
    m["queries.gc_s"] = stage(is_q, "gc_s")
    for e in NAMED_ENTRIES:
        m[f"queries.{e}.construct_s"] = dur(f"queries.{e}.construct")
        m[f"queries.{e}.exec_s"] = dur(f"queries.{e}.exec")
        m[f"queries.{e}.jobs"] = stage(lambda n, e=e: n.startswith(f"queries.{e}."), "jobs")
    cdc = "queries.streaming_cdc_replay."
    m["streaming.cdc_replay_s"] = dur(cdc + "construct") + dur(cdc + "exec")
    m["streaming.cdc_jobs"] = stage(lambda n: n.startswith(cdc), "jobs")
    m["trace.overhead_ratio"] = traced_op_s / untraced_op_s
    return m


def traced(conf: dict, work: str, workload: str, seed: int, dumps: tuple, tables: dict,
           untraced_op_s: float, log) -> tuple[dict, dict]:
    """Run the traced session; returns the values and units of PER_LAYER."""
    evdir = os.path.join(work, "eventlog")
    spark = core.start_session({
        **conf,
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + evdir,
        "spark.eventLog.compress": "false",
    })
    tracer = Tracer("trace", spark)
    it = ImportTrace(tracer)
    dump, warm_dump = dumps
    importer = core.make_importer(dump)
    registry = core.Registry(tables, seed)
    try:
        problems = (
            core.make_importer(warm_dump).run(spark)["problems"]
            + importer.run(spark)["problems"]
            + registry.warm(spark, oracle=False)
        )
        with patched(it.targets()):
            imp = importer.run(spark, restorer_hook=it.hook)
        it.force_captured()
        reg = registry.run(spark, tracer=tracer)
        problems += imp["problems"] + reg["problems"]
        if problems:
            raise RuntimeError(f"traced operations failed: {problems}")
    finally:
        spark.stop()
    totals = stage_totals(read_event_log(evdir), tracer.spans)
    tracer.dump(os.path.join(work, "trace.json"), totals)
    info = {
        "files_listed": it.files_listed,
        "commits": it.commits,
        "stored_ratio": imp["stored_ratio"],
    }
    traced_op_s = imp["seconds"] if workload == "ingest" else reg["seconds"]
    values = layer_metrics(tracer.spans, totals, info, untraced_op_s, traced_op_s)
    log("trace: " + json.dumps({k: round(v, 4) for k, v in values.items()}))
    return values, dict(PER_LAYER)

"""Restore orchestration (reference: lightning/restore/restore.go
RestoreController.Run, the 7-step plan at restore.go:275-320).

`Restorer.run` discovers the dump and restores its tables smallest-first
(loader.go:267-281). `Restorer.restore_table` runs one table through the
same phases on every backend:

    checkpoint skip -> view replay -> table info -> read+transform
    -> duplicate policy -> strict gate -> deliver -> readback + verify
    -> checkpoint statuses -> post-process -> report

Only the delivery and its readback source depend on the backend
(restore.go:206-243):

* files: the sorted, staged `FilesSink.write_table` commit, or one
  independently committed engine per file group when the table exceeds
  `engine_bytes` (chunk-level resume, checkpoints.go:43-56); read back
  from the committed files.
* JDBC: rows land in a `<table>__tls_stg` staging table that swaps in
  after verification (with crash recovery around the swap), or append
  straight into a table this tool did not create; read back from the
  target table.

Driver-side control flow only; all data movement is lazy DataFrame work.
"""

from __future__ import annotations

import functools
import logging
import os
import re
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_lightning_spark.checkpoints import open_checkpoint_store
from tidb_lightning_spark.config import Config
from tidb_lightning_spark.functions.checksum import Checksum, checksum
from tidb_lightning_spark.operators.transform import ERR_COL, transform_table
from tidb_lightning_spark.paths import is_remote
from tidb_lightning_spark.schema.ddl import TableInfo, parse_create_table
from tidb_lightning_spark.sinks.files_sink import FilesSink
from tidb_lightning_spark.sources import csv_source, sqldump_source
from tidb_lightning_spark import metrics
from tidb_lightning_spark.sources.loader import MDTableMeta, discover
from tidb_lightning_spark.sources.parquet_source import read_table
from tidb_lightning_spark.sources.router import FileRouter
from tidb_lightning_spark.sources.table_filter import TableFilter
from tidb_lightning_spark.sources.table_router import TableRouter

log = logging.getLogger("tidb_lightning_spark")


class IngestError(RuntimeError):
    pass


# object-store schemes -> (connector jar coordinates, credential confs).
# The reference preflights its allowed schemes at config time
# (config.go:741-783, allowed: local/s3/gcs/noop); the Spark analog is
# "does this JVM have a FileSystem implementation for the scheme", which
# fails at first touch deep inside an executor scan unless checked here.
_REMOTE_SCHEME_HINTS = {
    "s3a": (
        "org.apache.hadoop:hadoop-aws:<hadoop-version> (bundles the AWS "
        "SDK); pass via spark.jars.packages or drop hadoop-aws + "
        "aws-java-sdk-bundle jars on the classpath",
        "fs.s3a.access.key / fs.s3a.secret.key (or an IAM instance "
        "profile / AWS_* env credentials); for S3-COMPATIBLE stores "
        "(MinIO, moto, Ceph RGW) also fs.s3a.endpoint=http://host:port "
        "and fs.s3a.path.style.access=true",
    ),
    "s3": (
        "org.apache.hadoop:hadoop-aws:<hadoop-version>, plus "
        "spark.hadoop.fs.s3.impl=org.apache.hadoop.fs.s3a.S3AFileSystem",
        "fs.s3a.access.key / fs.s3a.secret.key",
    ),
    "gs": (
        "com.google.cloud.bigdataoss:gcs-connector:hadoop3-<version> "
        "shaded jar",
        "google.cloud.auth.service.account.json.keyfile (or workload "
        "identity)",
    ),
    "abfs": (
        "hadoop-azure + hadoop-azure-datalake jars",
        "fs.azure.account.key.<account>.dfs.core.windows.net",
    ),
    "abfss": (
        "hadoop-azure + hadoop-azure-datalake jars",
        "fs.azure.account.key.<account>.dfs.core.windows.net",
    ),
    "oss": ("hadoop-aliyun jar", "fs.oss.accessKeyId / fs.oss.accessKeySecret"),
}


def preflight_remote_scheme(spark, uri: str | None) -> None:
    """Config-time check (M7) that a scheme'd source/target URI has a
    loadable Hadoop FileSystem implementation in THIS JVM — otherwise the
    failure surfaces minutes later as a ClassNotFoundException inside an
    executor scan. Names the missing jars and the credential confs for
    the scheme instead. No-op for local paths and schemes the JVM knows."""
    if not uri or "://" not in uri or uri.startswith("file:"):
        return
    scheme = uri.split("://", 1)[0].lower()
    try:
        jvm = spark._jvm
        jvm.org.apache.hadoop.fs.FileSystem.getFileSystemClass(
            scheme, spark._jsc.hadoopConfiguration()
        )
    except Exception as exc:
        jars, creds = _REMOTE_SCHEME_HINTS.get(
            scheme, (f"a Hadoop FileSystem connector for '{scheme}://'", "-")
        )
        # resolve <hadoop-version> to THIS JVM's Hadoop so the remedy is
        # copy-pasteable (connector jars must match the Hadoop minor)
        try:
            hv = str(
                spark._jvm.org.apache.hadoop.util.VersionInfo.getVersion()
            )
            jars = jars.replace("<hadoop-version>", hv)
        except Exception:
            pass
        raise IngestError(
            f"no Hadoop FileSystem for scheme '{scheme}://' ({uri!r}): "
            f"this Spark classpath cannot reach the store. Add {jars}; "
            f"credentials: {creds}. (Underlying: "
            f"{str(exc).splitlines()[0][:160]})"
        ) from None


def _partition_columns(info: TableInfo) -> list[str] | None:
    """Hive-style output partitioning for MySQL RANGE/LIST COLUMNS tables
    (H4). Only value-based single-column partitioning maps cleanly to a
    directory layout (one dir per value — dates, categories); HASH/KEY
    partitioning stays physical-only (the range sink already spreads it).
    """
    import re

    if not info.partition_by:
        return None
    m = re.search(
        r"(RANGE|LIST)\s+COLUMNS?\s*\(\s*([^)]+?)\s*\)",
        info.partition_by,
        re.IGNORECASE,
    )
    if not m:
        return None
    cols = [c.strip().strip("`") for c in m.group(2).split(",")]
    known = {c.name.lower() for c in info.columns}
    if len(cols) == 1 and cols[0].lower() in known:
        return cols
    return None


def _readback_pass(
    df: DataFrame,
    cols: list[str],
    want_checksum: bool,
    want_stats: bool,
    auto_max=None,
) -> tuple[int, Checksum | None, dict | None, int | None]:
    """ONE readback scan serving every post-process consumer: row count,
    the verification checksum triple (L2), ANALYZE column stats (L3) and
    the allocator rebase max (`auto_max`, a Column) ride the same
    aggregate, so enabling checksum+analyze costs one pass, not three."""
    from pyspark.sql import functions as SF

    from tidb_lightning_spark.functions.checksum import canonical_row, row_hash64

    aggs = [SF.count(SF.lit(1)).alias("rows___")]
    if want_checksum:
        canon = canonical_row(cols)
        aggs.append(SF.sum(SF.length(canon)).cast("bigint").alias("cks_bytes___"))
        aggs.append(SF.bit_xor(row_hash64(cols)).alias("cks_value___"))
    if auto_max is not None:
        aggs.append(auto_max.alias("auto_max___"))
    numeric_ish = ("int", "bigint", "smallint", "tinyint", "double", "float",
                   "decimal", "date", "timestamp")
    if want_stats:
        for f in df.schema.fields:
            name = f.name
            aggs.append(
                SF.sum(SF.col(name).isNull().cast("long")).alias(f"nulls__{name}")
            )
            aggs.append(SF.approx_count_distinct(name, rsd=0.1).alias(f"ndv__{name}"))
            if any(f.dataType.simpleString().startswith(t) for t in numeric_ish):
                aggs.append(SF.min(name).alias(f"min__{name}"))
                aggs.append(SF.max(name).alias(f"max__{name}"))
    row = df.agg(*aggs).collect()[0].asDict()
    rows = row.pop("rows___")
    top = row.pop("auto_max___", None)
    cks = (
        Checksum(rows, row.pop("cks_bytes___") or 0, row.pop("cks_value___") or 0)
        if want_checksum
        else None
    )
    stats: dict[str, dict] | None = None
    if want_stats:
        stats = {}
        for k, v in row.items():
            stat, _, col = k.partition("__")
            stats.setdefault(col, {})[stat] = v
    return rows, cks, stats, None if top is None else int(top)


def _text_size(f) -> int:
    """Bytes of text a scan of data file `f` parses: the input of row-id
    reservation. Local files report their DECOMPRESSED size — a gz
    file's rows can exceed its compressed bytes // divisor and overrun
    the next base. Remote files keep the discovery size: a plain one is
    its text size; a compressed one cannot be probed locally, so warn
    that its range may overrun."""
    if os.path.exists(f.path):
        return sqldump_source.decompressed_size(f.path)
    if f.compression or sqldump_source._is_compressed(f.path):
        log.warning(
            "remote compressed file %s: row-id range reserved from "
            "COMPRESSED size — ranges may overrun on highly-compressible "
            "data; prefer uncompressed remote sources",
            f.path,
        )
    return f.file_size


def _auto_id_column(info: TableInfo):
    """The column whose target allocator is rebased after a JDBC load:
    the AUTO_INCREMENT column, else the AUTO_RANDOM one, else None."""
    return next((c for c in info.columns if c.auto_increment), None) or next(
        (c for c in info.columns if c.auto_random_bits), None
    )


def _auto_max_agg(info: TableInfo):
    """The readback aggregate behind the allocator rebase: the max id,
    or for AUTO_RANDOM the max INCREMENTAL part. The composed
    auto-random id carries hash shard bits in the top, so the raw max
    would overshoot the allocator by ~2^shard_bits (the reference
    rebases the allocator's rowid base, tidb.go:384-395
    AlterAutoRandom)."""
    c = _auto_id_column(info)
    if c is None:
        return None
    col = F.col(c.name).cast("long")
    if c.auto_random_bits:
        col = col.bitwiseAND(F.lit((1 << (63 - c.auto_random_bits)) - 1))
    return F.max(col)


def _observed(obs) -> Checksum | None:
    """The ingest checksum an observation accumulated during delivery."""
    return None if obs is None else Checksum.from_row(obs.get)


def _record(c: Checksum) -> dict:
    """A checksum's persisted form (checkpoints, table meta, reports)."""
    return {"kvs": c.kvs, "bytes": c.total_bytes, "value": c.value}


def _task_fingerprint(cfg) -> dict:
    """The config facets a checkpoint is only valid under (reference
    verifyCheckpoint, restore.go — backend, source, target identity)."""
    return {
        "tikv-importer.backend": cfg.backend,
        "mydumper.data-source-dir": cfg.source_dir,
        "tidb.jdbc-url": cfg.jdbc_url,
        "tikv-importer.output-format": cfg.output_format,
    }


def _verify_task_checkpoint(cfg, task_rec: dict) -> None:
    """Refuse to resume under a config that differs from the one the
    checkpoint was created with (restore_test.go:123-219). Message shape
    matches the reference; remediation mirrors its hint."""
    from tidb_lightning_spark import __version__

    saved = task_rec.get("cfg_fingerprint") or {}
    if not saved:
        return  # pre-fingerprint checkpoint: nothing to compare
    for key, now in _task_fingerprint(cfg).items():
        was = saved.get(key)
        if was is not None and was != now:
            raise IngestError(
                f"config '{key}' value '{now}' different from checkpoint "
                f"value '{was}'. You may set 'lightning.check-requirements "
                "= false' to skip this check, or run `cli ctl "
                "--checkpoint-remove` to restart from scratch"
            )
    was_ver = task_rec.get("version")
    if was_ver and was_ver != __version__:
        raise IngestError(
            f"lightning version is '{__version__}', but checkpoint was "
            f"created at '{was_ver}'. You may set "
            "'lightning.check-requirements = false' to skip this check"
        )


def allocate_engine_ids(
    data_file_sizes: list,
    batch_size: float,
    batch_import_ratio: float,
    table_concurrency: float,
) -> list[int]:
    """Exact reference engine allocation (AllocateEngineIDs,
    region.go:60-129): non-uniform batch sizes growing by
    B_{i+1} = B_i * (R/(N-i) + 1) so each engine's sorted output lands
    just as the previous import drains — the engine count N solves
    Total/B1 = (N - 1/Beta(N,R))/(1-R) by brute-force search. Ratio 0
    degrades to uniform batches; totals <= batch_size stay one engine.
    Distributions pinned verbatim against region_test.go:107-186."""
    import math

    total = float(sum(data_file_sizes))
    if total <= batch_size or not data_file_sizes:
        return [0] * len(data_file_sizes)

    cur_id = 0
    cur_size = 0.0
    cur_batch = batch_size

    ratio = total * (1 - batch_import_ratio) / batch_size
    n = math.ceil(ratio)
    if batch_import_ratio > 0.0:
        inv_beta = math.exp(
            math.lgamma(n + batch_import_ratio)
            - math.lgamma(n)
            - math.lgamma(batch_import_ratio)
        )
    else:
        inv_beta = 0.0
    n = float(n)
    while True:
        if n <= 0 or n > table_concurrency:
            n = table_concurrency
            break
        real_ratio = n - inv_beta
        if real_ratio >= ratio:
            # not enough engines: shrink the first batch to keep the
            # pipeline smooth
            cur_batch = total * (1 - batch_import_ratio) / real_ratio
            break
        inv_beta *= 1 + batch_import_ratio / n  # Gamma(x+1) = x*Gamma(x)
        n += 1.0

    ids: list[int] = []
    for size in data_file_sizes:
        ids.append(cur_id)
        cur_size += size
        if cur_size >= cur_batch:
            cur_size = 0.0
            cur_id += 1
            i = float(cur_id)
            if i >= n:
                cur_batch = batch_size
            else:
                cur_batch *= batch_import_ratio / (n - i) + 1.0
    return ids


class Pauser:
    """Driver-side pause gate (reference common/pause.go + HTTP
    /pause|/resume, lightning.go:589-623): a flag file under the
    warehouse, polled between commit units (tables and engines — Spark
    stages themselves are not preemptible). `cli ctl --pause/--resume`
    toggles it; an operator can also just touch/rm the file."""

    def __init__(self, target_dir: str, poll_s: float = 2.0):
        self.flag = os.path.join(target_dir, "_tls_pause")
        # cooperative abort gate (reference: per-task context cancel,
        # lightning.go:482-515): DELETE /tasks/<current> writes this;
        # in-flight Spark jobs die via the job-group cancel, and this
        # flag aborts the run at the next commit-unit boundary so the
        # retry wrapper / between-jobs driver work can't resurrect it
        self.cancel_flag = os.path.join(target_dir, "_tls_cancel")
        self.poll_s = poll_s

    def check_cancelled(self) -> None:
        # the flag is consumed when honored; it must NOT be cleared at
        # run start — a cancel issued while the task's Spark session is
        # still starting up lands before run() begins, and eating it
        # there completes the very task the user just cancelled
        if os.path.exists(self.cancel_flag):
            try:
                os.remove(self.cancel_flag)
            except OSError:
                pass
            raise IngestError("task cancelled (DELETE /tasks of the running task)")

    def wait_if_paused(self) -> None:
        self.check_cancelled()
        waited = False
        while os.path.exists(self.flag):
            if not waited:
                log.info("paused (flag %s present); waiting...", self.flag)
                waited = True
            time.sleep(self.poll_s)
            self.check_cancelled()
        if waited:
            log.info("resumed")


@dataclass
class TableReport:
    db: str
    table: str
    status: str
    rows: int = 0
    files: int = 0
    seconds: float = 0.0
    checksum: dict | None = None
    error: str | None = None


@dataclass
class RunReport:
    tables: list[TableReport] = field(default_factory=list)
    seconds: float = 0.0

    @property
    def ok(self) -> bool:
        return all(t.status in ("imported", "skipped") for t in self.tables)


@dataclass
class _JDBCTarget:
    """One table's place at the live JDBC target and how its rows get
    there: into a staging table that swaps in after verification, or
    appended straight into the live table."""

    db: str
    name: str
    final_count: int | None = None  # live rows before the import; None = absent
    use_swap: bool = True
    auto_max: int | None = None  # allocator rebase base, from the readback

    @property
    def table(self) -> str:
        return f"{self.db}.{self.name}"

    @property
    def staging_name(self) -> str:
        return f"{self.name}__tls_stg"

    @property
    def staging(self) -> str:
        return f"{self.db}.{self.staging_name}"

    @property
    def delivery_name(self) -> str:
        """The table the rows are written into."""
        return self.staging_name if self.use_swap else self.name

    @property
    def delivery(self) -> str:
        return f"{self.db}.{self.delivery_name}"


class Restorer:
    def __init__(self, spark: SparkSession, cfg: Config):
        self.spark = spark
        self.cfg = cfg
        self.sink = FilesSink(cfg.target_dir, fmt=cfg.output_format)
        # backend selection (reference restore.go:206-243): jdbc/tidb ->
        # rows delivered to a live database (tidb.go:370-419); otherwise
        # the files (local-analog) sink. Config.validate() guarantees
        # jdbc_url is set for jdbc/tidb — no silent parquet fallback.
        self.jdbc_sink = None
        if cfg.backend in ("tidb", "jdbc"):
            from tidb_lightning_spark.sinks.jdbc_sink import JDBCSink

            props = {"driver": cfg.jdbc_driver} if cfg.jdbc_driver else {}
            self.jdbc_sink = JDBCSink(
                cfg.jdbc_url, properties=props, on_duplicate=cfg.on_duplicate
            )
        # per-db cache of TARGET-fetched table models (no-schema + jdbc)
        self._remote_models: dict[str, dict] = {}
        # resolve trash dirs stranded by a crash between Import's renames
        self.sink.sweep_trash()
        self.checkpoints = open_checkpoint_store(
            cfg.target_dir,
            driver=cfg.checkpoint_driver,
            enabled=cfg.checkpoint_enable,
            spark=spark,
            jdbc_url=cfg.jdbc_url,
            jdbc_properties=(
                {"driver": cfg.jdbc_driver} if cfg.jdbc_driver else {}
            ),
        )
        # pinned timestamp for CURRENT_TIMESTAMP defaults (determinism —
        # session.go:203, restore.go:2490-2496). PERSISTED in the
        # checkpoint as task metadata and reused on resume: rows imported
        # before and after a kill must share ONE default timestamp
        # (reference TaskCheckpoint; tests/checkpoint_timestamp pins
        # COUNT(DISTINCT ts)=1 across five killed-and-resumed runs). The
        # task meta is retired when a run completes, so the next task
        # stamps fresh.
        task_rec = self.checkpoints.get("__task__", "__meta__")
        self.pinned_ts = task_rec.get("pinned_ts")
        if self.pinned_ts:
            # resuming an interrupted task: the checkpoint was built for
            # ONE config — silently continuing under a different backend
            # or source dir writes garbage, so refuse like the reference
            # (verifyCheckpoint, restore.go; restore_test.go:123-219:
            # "config '<key>' value '<new>' different from checkpoint
            # value <old>"). lightning.check-requirements=false skips,
            # also per the reference.
            if cfg.check_requirements:
                _verify_task_checkpoint(cfg, task_rec)
        else:
            self.pinned_ts = time.strftime("%Y-%m-%d %H:%M:%S")
            from tidb_lightning_spark import __version__

            self.checkpoints.update(
                "__task__", "__meta__", "loaded",
                pinned_ts=self.pinned_ts,
                cfg_fingerprint=_task_fingerprint(cfg),
                version=__version__,
            )
        self.pauser = Pauser(cfg.target_dir)
        # per-table caches released in restore_table's finally: only the
        # SQL-dump branch registers here (see _read_and_transform — the
        # Python statement parse is expensive enough that the range
        # sampler re-executing it flips the cache-vs-rescan economics
        # that keep the CSV path uncached). THREAD-LOCAL: with
        # table_concurrency > 1 each restore_table runs wholly on one
        # worker thread, and instance-level lists would let one table's
        # engine-commit/finally sweep unpersist another in-flight
        # table's caches (and engine index k collides across tables).
        self._cache_tls = threading.local()

    @property
    def _table_caches(self) -> list[DataFrame]:
        tc = getattr(self._cache_tls, "table_caches", None)
        if tc is None:
            tc = self._cache_tls.table_caches = []
        return tc

    @property
    def _engine_cache_slices(self) -> dict[int, tuple[int, int]]:
        sl = getattr(self._cache_tls, "engine_slices", None)
        if sl is None:
            sl = self._cache_tls.engine_slices = {}
        return sl

    # ------------------------------------------------------------------

    @staticmethod
    def _build_table_filter(cfg):
        """The legacy [black-white-list] REPLACES the -f glob filter
        when configured (reference: loader.go:119-124 picks one or the
        other, never both; config validation already rejected a
        non-default mydumper.filter alongside a BWList). A BWList that
        whitelists a table the -f defaults would exclude must behave
        like the reference: the BWList alone decides."""
        from tidb_lightning_spark.sources.table_filter import BWListFilter

        if cfg.bw_list:
            return BWListFilter(cfg.bw_list, cfg.case_sensitive)
        return TableFilter(cfg.filter, cfg.case_sensitive)

    def run(self) -> RunReport:
        t0 = time.time()
        cfg = self.cfg
        # session-global analog of @@block_encryption_mode (the reference
        # reads it from the live target at restore start,
        # restore.go setGlobalVariables) — consumed by AES_ENCRYPT/
        # AES_DECRYPT generated-column translation
        from tidb_lightning_spark.operators import gencols

        gencols.BLOCK_ENCRYPTION_MODE = cfg.block_encryption_mode
        preflight_remote_scheme(self.spark, cfg.source_dir)
        preflight_remote_scheme(self.spark, cfg.target_dir)
        result = discover(
            cfg.source_dir,
            file_router=FileRouter.build(cfg.file_routes, cfg.default_file_rules),
            table_filter=self._build_table_filter(cfg),
            table_router=TableRouter(cfg.routes, cfg.case_sensitive)
            if cfg.routes
            else None,
            no_schema=cfg.no_schema,
            spark=self.spark,
        )
        report = RunReport()
        tables = result.sorted_tables()
        # progress/ETA mirrors restore.go:840-981: completed bytes over
        # total, current speed, remaining-time estimate — one log line per
        # finished table (M6)
        total_bytes = sum(t.total_size for t in tables) or 1
        metrics.BYTES.inc(metrics.BYTE_STATE_ESTIMATED, by=total_bytes)
        metrics.set_progress(
            status="running", tables_total=len(tables), tables_done=0,
            bytes_total=total_bytes, bytes_done=0,
        )
        import threading

        progress_lock = threading.Lock()
        state = {"done": 0, "bytes": 0}

        def _restore_one(tbl: MDTableMeta) -> TableReport:
            self.pauser.wait_if_paused()
            rep = self.restore_table(tbl)
            with progress_lock:
                state["done"] += 1
                state["bytes"] += tbl.total_size
                elapsed = max(time.time() - t0, 0.001)
                speed = state["bytes"] / elapsed
                eta = (total_bytes - state["bytes"]) / max(speed, 1.0)
                log.info(
                    "progress: %d/%d tables, %.1f/%.1f MiB (%.0f%%), "
                    "%.2f MiB/s, ETA %.0fs",
                    state["done"], len(tables), state["bytes"] / 1048576,
                    total_bytes / 1048576,
                    100.0 * state["bytes"] / total_bytes,
                    speed / 1048576, eta,
                )
                metrics.update_progress(
                    tables_done=state["done"], bytes_done=state["bytes"],
                    current=f"{tbl.db}.{tbl.name}",
                    speed_mib_s=round(speed / 1048576, 3),
                    eta_s=round(eta, 1),
                )
            return rep

        # driver-side table parallelism (reference table-concurrency,
        # worker.go:23-65): Spark schedules jobs from N threads
        # concurrently; small-table-first submission order is preserved in
        # the report. Spark already parallelizes within a table, so >1
        # only helps many-small-tables workloads.
        conc = max(1, int(self.cfg.table_concurrency or 1))
        if conc == 1:
            for tbl in tables:
                report.tables.append(_restore_one(tbl))
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=conc) as ex:
                report.tables.extend(ex.map(_restore_one, tables))
        report.seconds = time.time() - t0
        if report.ok:
            # task finished: retire the task meta so the NEXT import
            # stamps a fresh CURRENT_TIMESTAMP default (only an
            # incomplete task's resume must reuse the old one)
            self.checkpoints.remove("__task__", "__meta__")
        metrics.update_progress(
            status="ok" if report.ok else "failed", current=None,
            seconds=round(report.seconds, 3),
        )
        return report

    # ------------------------------------------------------------------
    def _min_skip_status(self) -> str:
        """Lowest checkpoint status a resume may skip at. Every REQUIRED
        post-process phase must have run for a skip to be legal: with
        verification on, 'imported but never checksummed' re-runs so the
        checksum executes (ADVICE r1: masked verification failure); with
        analyze=required, 'checksummed but never analyzed' re-runs so a
        failed required ANALYZE is actually retried rather than silently
        skipped forever."""
        if self.cfg.analyze == "required":
            return "analyzed"
        if self.cfg.checksum != "off":
            return "checksummed"
        return "imported"

    # ------------------------------------------------------------------
    def _duplicate_policy(self, info: TableInfo) -> str | None:
        """The PK-conflict policy this table's rows go through, or None.
        The JDBC backend always resolves with `on-duplicate` (the
        reference tidb backend's REPLACE / INSERT IGNORE semantics,
        tidb.go:80-88); the files backend only when
        `duplicate-resolution` asks for it."""
        if not info.primary_key:
            return None
        if self.jdbc_sink is not None:
            return self.cfg.on_duplicate
        if self.cfg.duplicate_resolution != "none":
            return self.cfg.duplicate_resolution
        return None

    # ------------------------------------------------------------------
    def restore_table(self, tbl: MDTableMeta) -> TableReport:
        """Restore one table through the phases in the module docstring.
        Each decision runs here once for both backends; `tgt` (the JDBC
        target, None on the files backend) selects the delivery and the
        post-process."""
        t0 = time.time()
        rep = TableReport(db=tbl.db, table=tbl.name, status="failed")
        sig = self.checkpoints.source_signature(tbl.data_files)
        try:
            if self.checkpoints.should_skip(
                tbl.db, tbl.name, sig, min_status=self._min_skip_status()
            ):
                rep.status = "skipped"
                return rep
            tgt = None
            if self.jdbc_sink is not None:
                tgt = _JDBCTarget(
                    f"{self.cfg.jdbc_table_prefix}{tbl.db}", tbl.name
                )
                # schema replay step 0: the database itself (restoreSchema,
                # restore.go:553-602) — on mysql-family targets every probe
                # below would otherwise fail with 'Unknown database' (1049)
                self.jdbc_sink.ensure_database(self.spark, tgt.db)
            if tbl.view_schema_file:
                self._replay_view(tbl, tgt)
                # a replayed view is fully done — no data to checksum or
                # analyze — so it parks at the top status and every resume
                # skips it
                self.checkpoints.update(
                    tbl.db, tbl.name, "analyzed", signature=sig, view=True
                )
                rep.status = "imported"
                log.info("replayed view `%s`.`%s`", tbl.db, tbl.name)
                return rep

            info = self._table_info(tbl)
            column_stats = None
            if tgt is None or not self._prepare_jdbc_target(tbl, tgt, sig, rep):
                # a new attempt consumes any pre-swap marker of an old one
                self.checkpoints.update(
                    tbl.db, tbl.name, "loaded", signature=sig, staged=None
                )
                df, engine_plans = self._plan_reads(tbl, info, tgt)
                if df is None:  # schema-only table: DDL replay was the work
                    if tgt is not None:
                        self.jdbc_sink.ensure_table(self.spark, info, tgt.table)
                    self.checkpoints.update(
                        tbl.db, tbl.name, "imported", signature=sig
                    )
                    rep.status = "imported"
                    return rep
                column_stats = self._load(
                    tbl, info, tgt, sig, rep, df, engine_plans
                )
            self.checkpoints.update(
                tbl.db, tbl.name, "imported", signature=sig, staged=None
            )
            if rep.checksum is not None:
                self.checkpoints.update(
                    tbl.db, tbl.name, "checksummed",
                    signature=sig, checksum=rep.checksum,
                )

            if rep.rows == 0 and tbl.total_size > 0:
                log.warning(
                    "table `%s`.`%s` imported 0 rows from %d bytes of source "
                    "— check charset/dialect/compression configuration",
                    tbl.db, tbl.name, tbl.total_size,
                )
            if tgt is None:
                self._write_table_meta(tbl, info, sig, rep, column_stats)
            else:
                self._rebase_and_analyze(tbl, info, tgt, sig)
            rep.status = "imported"
            metrics.TABLES.inc(
                metrics.TABLE_STATE_COMPLETED, metrics.TABLE_RESULT_SUCCESS
            )
            metrics.CHUNKS.inc(metrics.CHUNK_STATE_FINISHED, by=rep.files)
            metrics.BYTES.inc(metrics.BYTE_STATE_FINISHED, by=tbl.total_size)
            # progress line mirroring restore.go:960-969 fields
            elapsed = max(time.time() - t0, 0.001)
            log.info(
                "restored `%s`.`%s`%s: %d rows, %d files, %.1f MiB source in "
                "%.1fs (%.1f rows/s, %.2f MiB/s)",
                tbl.db, tbl.name, "" if tgt is None else " -> jdbc",
                rep.rows, rep.files, tbl.total_size / 1048576, elapsed,
                rep.rows / elapsed, tbl.total_size / 1048576 / elapsed,
            )
        except Exception as exc:  # error summary (restore.go:89-129)
            rep.error = f"{type(exc).__name__}: {exc}"
            log.error("table `%s`.`%s` failed: %s", tbl.db, tbl.name, rep.error)
            metrics.TABLES.inc(
                metrics.TABLE_STATE_COMPLETED, metrics.TABLE_RESULT_FAILURE
            )
        finally:
            for cached in self._table_caches:
                try:
                    cached.unpersist()
                except Exception:
                    pass
            self._table_caches.clear()
            self._engine_cache_slices.clear()
            rep.seconds = time.time() - t0
            metrics.IMPORT_SECONDS.observe(rep.seconds)
        return rep

    # ------------------------------------------------------------------
    def _plan_reads(
        self, tbl: MDTableMeta, info: TableInfo, tgt: _JDBCTarget | None
    ) -> tuple[DataFrame | None, list]:
        """The table's lazy read+transform plan, plus its engine plans.

        Engine planning (chunk-level resume): a files-backend table bigger
        than engine_bytes is split into deterministic file groups, each
        written+committed independently so a failed run resumes from the
        last finished engine (reference checkpoints.go:43-56,
        tests/checkpoint_chunks). A duplicate policy and value-partitioned
        output need the whole table in one plan, and the JDBC backend
        delivers a table as one unit -> no engine plans."""
        engines = self._plan_engines(tbl.data_files) if tgt is None else []
        if (
            len(engines) < 2
            or self._duplicate_policy(info) is not None
            or _partition_columns(info) is not None
        ):
            df, _ = self._read_and_transform(tbl, info)
            return df, []
        plans, base = [], 0
        for k, efiles in enumerate(engines):
            esig = self.checkpoints.source_signature(efiles)
            done = self.checkpoints.engine_done(tbl.db, tbl.name, k, esig)
            c0 = len(self._table_caches)
            df_e, next_base = self._read_and_transform(
                tbl, info, files=efiles, rowid_base=base
            )
            self._engine_cache_slices[k] = (c0, len(self._table_caches))
            plans.append((k, efiles, esig, df_e, done, base))
            base = next_base
        df = plans[0][3]
        for p in plans[1:]:
            df = df.unionByName(p[3], allowMissingColumns=True)
        return df, plans

    # ------------------------------------------------------------------
    def _load(
        self,
        tbl: MDTableMeta,
        info: TableInfo,
        tgt: _JDBCTarget | None,
        sig: str,
        rep: TableReport,
        df: DataFrame,
        engine_plans: list,
    ) -> dict | None:
        """Duplicate policy -> strict gate -> deliver -> readback + verify
        (-> swap, for a staged JDBC delivery) for one table's rows. Fills
        rep.rows, rep.files and rep.checksum; returns the ANALYZE column
        stats of a files readback (None when analyze is off or the target
        is JDBC, which analyzes at the target)."""
        from pyspark.sql import Observation

        from tidb_lightning_spark.functions.checksum import checksum_aggs
        from tidb_lightning_spark.operators.transform import ROWID_COL
        from tidb_lightning_spark.sinks.jdbc_sink import apply_duplicate_policy

        policy = self._duplicate_policy(info)
        if policy is not None:
            # PK-conflict resolution before delivery (tidb.go:80-88 policy
            # names) and before the checksum observation, so the ingest
            # checksum covers exactly the delivered rows. The row id orders
            # first/last.
            df = apply_duplicate_policy(
                df, info.primary_key, policy, order_col=ROWID_COL
            )
        if ROWID_COL in df.columns and (
            tgt is not None or not info.has_auto_row_id()
        ):
            # only the files backend stores the row id (as the hidden handle)
            df = df.drop(ROWID_COL)

        def strict_check(got):
            if got["n_err"]:
                raise IngestError(
                    f"strict sql_mode violations in "
                    f"`{tbl.db}`.`{tbl.name}`: {got['n_err']} rows "
                    f"(e.g. column {got['sample']!r})"
                )

        strict_gate = None
        if ERR_COL in df.columns:
            if self.cfg.strict_sql_mode:
                err_aggs = (
                    F.sum(F.col(ERR_COL).isNotNull().cast("long")).alias("n_err"),
                    F.first(ERR_COL, ignorenulls=True).alias("sample"),
                )
                if engine_plans or tgt is not None:
                    # engine and JDBC deliveries have no single commit to
                    # gate (per-engine commits, a direct append): check up
                    # front, one extra action
                    strict_check(df.agg(*err_aggs).first())
                else:
                    # fold the check into the WRITE job: observe the error
                    # count below the ERR-column drop, verify it before the
                    # staged commit (sink pre_commit) — no second source
                    # scan. The range sampler may double-fire this metric;
                    # only ==0 is checked, and 2x0 == 0.
                    err_obs = Observation()
                    df = df.observe(err_obs, *err_aggs)
                    strict_gate = lambda: strict_check(err_obs.get)  # noqa: E731
            df = df.drop(ERR_COL)

        # ingest-side checksum accumulated DURING delivery via
        # df.observe() — the reference's accumulate-while-delivering
        # (restore.go:2325-2332) with zero extra source scans. The
        # aggregate columns must match the readback pass: df's columns in
        # df order.
        want_cks = self.cfg.checksum != "off"
        cols = list(df.columns)

        def new_obs():
            if not want_cks:
                return None, None
            return Observation(), checksum_aggs(cols)

        if tgt is not None:
            if tgt.use_swap:
                self.jdbc_sink.drop_table(self.spark, tgt.staging)
            self.jdbc_sink.ensure_table(self.spark, info, tgt.delivery)
            obs, aggs = new_obs()
            self.jdbc_sink.write_table(
                df if obs is None else df.observe(obs, *aggs),
                tgt.db, tgt.delivery_name,
            )
            ingest_cks = _observed(obs)
            # remote checksum (I2/L2): read the WRITTEN table back over
            # JDBC — the ADMIN CHECKSUM analog (checksum.go:104-147). In
            # the staged flow this verifies the staging table BEFORE the
            # swap, so the live table never sees unverified data.
            written = self._jdbc_readback_df(tgt.delivery, info).select(*cols)
        else:
            if engine_plans:
                rep.files, ingest_cks = self._write_engines(
                    tbl, engine_plans, info.primary_key or None, new_obs
                )
            else:
                obs, aggs = new_obs()
                commit = self.sink.write_table(
                    df,
                    tbl.db,
                    tbl.name,
                    sort_columns=info.primary_key or None,
                    source_bytes=tbl.total_size,
                    partition_columns=_partition_columns(info),
                    observation=obs,
                    observe_aggs=aggs,
                    pre_commit=strict_gate,
                )
                rep.files = commit.n_files
                ingest_cks = _observed(obs)
                self.checkpoints.clear_engines(tbl.db, tbl.name)
            # read back with the EXACT schema we wrote: directory-name
            # partition-type inference would otherwise re-type partition
            # columns (e.g. CHAR '00123' -> int 123), and the readback
            # checksum would canonicalize the re-typed value while the
            # ingest side used the original — a false verification failure
            # on correctly-loaded data.
            written = (
                self.spark.read.schema(df.schema)
                .format(self.cfg.output_format)
                .load(self.sink.table_path(tbl.db, tbl.name))
            )

        rows, readback, column_stats, auto_max = _readback_pass(
            written, cols, want_cks,
            want_stats=tgt is None and self.cfg.analyze != "off",
            auto_max=None if tgt is None else _auto_max_agg(info),
        )
        # a direct append reads back the WHOLE final table — the
        # reference's post-restore ADMIN CHECKSUM semantics
        # (checksum.go:104-147, tests/error_summary): a target that already
        # held rows before the import MUST fail verification, because the
        # table no longer equals what was imported
        appended = tgt is not None and not tgt.use_swap
        rep.rows = rows - ((tgt.final_count or 0) if appended else 0)
        if want_cks:
            if ingest_cks != readback:
                # recompute the ingest side from source once before
                # deciding: there is no observed value (resumed engines
                # imported under checksum=off), or the mismatch may be an
                # observation anomaly (stage retries can re-fire metrics)
                # rather than a real data mismatch
                recomputed = Checksum.from_row(
                    checksum(df.select(*cols), cols).collect()[0]
                )
                if ingest_cks is not None and recomputed != ingest_cks:
                    log.warning(
                        "observed ingest checksum %s != recomputed %s "
                        "(speculative/retried tasks?); using recomputed",
                        ingest_cks, recomputed,
                    )
                ingest_cks = recomputed
            if ingest_cks != readback:
                msg = (
                    f"checksum mismatch `{tbl.db}`.`{tbl.name}`: "
                    f"ingest {ingest_cks} != readback {readback}"
                )
                if appended:
                    msg += (
                        f" (table pre-populated with {tgt.final_count or 0} "
                        f"rows before the import)"
                    )
                if self.cfg.checksum == "required":
                    if tgt is not None and tgt.use_swap:
                        # pre-commit gate: bad staging never swaps in
                        self.jdbc_sink.drop_table(self.spark, tgt.staging)
                    # downgrade below `imported` so resume re-runs the
                    # table instead of skipping a failed verification
                    self.checkpoints.update(
                        tbl.db, tbl.name, "closed", signature=sig
                    )
                    raise IngestError(msg)
                log.warning(msg)
            rep.checksum = _record(readback)

        if tgt is not None:
            tgt.auto_max = auto_max
        if tgt is not None and tgt.use_swap:
            # Import step: the verified staging table swaps into place.
            # The pre-swap marker persists the verified staging contents
            # BEFORE the non-atomic DROP+RENAME, so a crash anywhere in
            # the commit window is recognized on resume
            # (_prepare_jdbc_target) instead of routing into the append
            # path and duplicating the table.
            self.checkpoints.update(
                tbl.db, tbl.name, "closed", signature=sig,
                staged={
                    "rows": rep.rows,
                    "checksum": rep.checksum,
                    "auto_max": auto_max,
                },
            )
            self.jdbc_sink.drop_table(self.spark, tgt.table)
            self.jdbc_sink.rename_table(
                self.spark, tgt.db, tgt.staging_name, tgt.name
            )
        return column_stats

    # ------------------------------------------------------------------
    def _write_engines(
        self, tbl: MDTableMeta, engine_plans: list, sort_cols, new_obs
    ) -> tuple[int, Checksum | None]:
        """Engine delivery (files backend): each file group is written and
        committed on its own (reference engine Open -> Write -> Close ->
        Import, backend.go:300-439). Returns the table's file count and
        the summed ingest checksum — None when a resumed engine recorded
        none, so the verify step recomputes it from source."""
        # pre-clean: keep only files of engines that are DONE under the
        # current plan; everything else (partial writes, output from a
        # previous non-engine import, engines of an older grouping) is
        # stale and re-imported — the analog of
        # checkpoint-error-destroy for dangling engines.
        final = self.sink.table_path(tbl.db, tbl.name)
        if os.path.isdir(final):
            keep = {f"engine{k:04d}-" for k, _, _, _, done, _ in engine_plans if done}
            for fname in os.listdir(final):
                if fname.endswith((".parquet", ".orc")) and not any(
                    fname.startswith(p) for p in keep
                ):
                    os.remove(os.path.join(final, fname))
        want_cks = self.cfg.checksum != "off"
        engine_cks: list[Checksum] | None = [] if want_cks else None
        for k, efiles, esig, df_e, done, ebase in engine_plans:
            self.pauser.wait_if_paused()
            if done:
                # chunk-level resume: engine already in place; its ingest
                # checksum was recorded at engine commit
                if want_cks:
                    stored = (
                        self.checkpoints.get(tbl.db, tbl.name)
                        .get("engines", {})
                        .get(str(k), {})
                        .get("checksum")
                    )
                    if stored is None:
                        engine_cks = None  # fall back to recompute
                    elif engine_cks is not None:
                        engine_cks.append(
                            Checksum(stored["kvs"], stored["bytes"], stored["value"])
                        )
                continue
            df_w = df_e.drop(ERR_COL) if ERR_COL in df_e.columns else df_e
            ebytes = sum(f.file_size for f in efiles)
            obs, aggs = new_obs()
            self.sink.write_engine(
                df_w, tbl.db, tbl.name, k,
                sort_columns=sort_cols, source_bytes=ebytes,
                observation=obs, observe_aggs=aggs,
                manifest={
                    "signature": esig, "rowid_base": ebase,
                    "bytes": ebytes,
                    "files": [f.path for f in efiles],
                },
            )
            ecks = _observed(obs)
            ecks_field = {}
            if ecks is not None:
                if engine_cks is not None:
                    engine_cks.append(ecks)
                ecks_field = {"checksum": _record(ecks)}
            self.checkpoints.engine_update(
                tbl.db, tbl.name, k, "imported",
                signature=esig, rowid_base=ebase, bytes=ebytes,
                files=[f.path for f in efiles], **ecks_field,
            )
            # bounded working set: any SQL-dump cache this engine
            # materialized is dead once the engine commits (unpersist is
            # idempotent; the finally sweep covers error paths)
            lo, hi = self._engine_cache_slices.get(k, (0, 0))
            for cached in self._table_caches[lo:hi]:
                try:
                    cached.unpersist()
                except Exception:
                    pass
        n_files = sum(
            1 for f in os.listdir(final) if f.endswith((".parquet", ".orc"))
        )
        if engine_cks is None:
            return n_files, None
        return n_files, functools.reduce(Checksum.add, engine_cks, Checksum())

    # ------------------------------------------------------------------
    def _prepare_jdbc_target(
        self, tbl: MDTableMeta, tgt: _JDBCTarget, sig: str, rep: TableReport
    ) -> bool:
        """Crash recovery at the live target, then the staging decision.
        Returns True when a pre-swap marker shows that an earlier run's
        swap completed: rep and tgt then hold what the verified staging
        table held, and only the bookkeeping is left."""
        from tidb_lightning_spark.checkpoints import STATUS
        from tidb_lightning_spark.sinks.jdbc_sink import table_row_probe

        def probe(dbtable):
            return table_row_probe(
                self.spark, self.cfg.jdbc_url, dbtable, self.jdbc_sink.properties
            )

        # crash-window recovery: a kill between the swap's DROP and RENAME
        # leaves the final table missing but the staging table present
        # (the checkpoint is < imported there, so this always runs before
        # any skip) — finish the rename so readers have a table again. The
        # recovered table is OURS (possibly a partial staging from a
        # mid-write crash), so the re-import MUST take the swap path, never
        # append onto it.
        recovered = False
        tgt.final_count = probe(tgt.table)
        if tgt.final_count is None and probe(tgt.staging) is not None:
            self.jdbc_sink.rename_table(
                self.spark, tgt.db, tgt.staging_name, tgt.name
            )
            tgt.final_count = probe(tgt.table)
            recovered = True

        prior = self.checkpoints.get(tbl.db, tbl.name)
        prior_status = prior.get("status", 0)
        # pre-swap marker left by a crash inside the commit window: it
        # records what the VERIFIED staging table held just before the
        # DROP+RENAME. Its presence means the final table (if any) is ours
        # — either the old import (crash before DROP) or the swapped-in
        # staging (crash after RENAME but before the 'imported' checkpoint
        # write). Never append onto it.
        staged = prior.get("staged")
        if (
            staged is not None
            and prior_status < STATUS["imported"]
            and prior.get("signature") == sig
            and tgt.final_count is not None
            and tgt.final_count == staged.get("rows")
        ):
            # The swap completed (the live table matches the verified
            # staging contents) — the crash only lost the checkpoint
            # write. Finish the bookkeeping instead of re-importing (or
            # worse, appending a duplicate copy of every row).
            rep.rows = staged["rows"]
            if staged.get("checksum") is not None:
                rep.checksum = dict(staged["checksum"])
            tgt.auto_max = staged.get("auto_max")
            log.info(
                "resumed `%s`.`%s`: swap had completed before the crash "
                "(staged marker matches the live table) — bookkeeping "
                "finished without re-import",
                tbl.db, tbl.name,
            )
            return True

        # staged commit (engine Close -> Import, backend.go:300-439,
        # carried over to JDBC): when the target is empty/absent — or was
        # loaded by a previous run of ours, so a re-import REPLACES like
        # the files backend — rows land in a staging table, are
        # checksum-verified there, and only then swap in. Retries and
        # resumes can never duplicate rows, and a failed verification
        # never touches the live table. Only a table pre-populated outside
        # this tool is appended to directly (reference tidb-backend
        # semantics; a mid-write crash there can leave partial rows —
        # documented parity). A pre-swap marker (even from a changed
        # source, or with a final count that no longer matches) still
        # proves the final table was written by US mid-commit.
        #
        # No-schema: the table object is the USER's (the model was fetched
        # from the target) — deliver INTO it like the reference's tidb
        # backend, never drop-and-swap a table we did not define (the
        # staging copy would be rebuilt from the fetched model and lose
        # target-side constraints/indexes beyond it).
        tgt.use_swap = tbl.schema_file is not None and (
            recovered
            or not tgt.final_count
            or prior_status >= STATUS["imported"]
            or staged is not None
        )
        return False

    # ------------------------------------------------------------------
    def _replay_view(self, tbl: MDTableMeta, tgt: _JDBCTarget | None) -> None:
        """Replay a `-schema-view.sql` definition (reference: discovered
        loader.go:39-46, executed restore.go:553-602, e2e tests/view/).
        The files backend records the parsed definition in the warehouse
        catalog (`_views.json`), which `cli sql` registers after tables.
        A MySQL-family JDBC target runs CREATE OR REPLACE VIEW with the
        original body; other dialects would need a SQL translation — the
        definition is recorded as not replayed."""
        from tidb_lightning_spark.schema.ddl import parse_create_view
        from tidb_lightning_spark.sinks.jdbc_sink import execute_ddl

        with csv_source._decompress_open(tbl.view_schema_file, self.spark) as f:
            view = parse_create_view(
                csv_source.decode_file_bytes(
                    f.read(), self.cfg.character_set, tbl.view_schema_file
                )
            )
        if tgt is None:
            self.sink.write_view_meta(
                tbl.db, tbl.name,
                {"columns": view.columns, "select": view.select,
                 "source_file": tbl.view_schema_file},
            )
        elif self.jdbc_sink.dialect == "mysql":
            cols = (
                "(" + ", ".join(f"`{c}`" for c in view.columns) + ")"
                if view.columns
                else ""
            )
            execute_ddl(
                self.spark, self.cfg.jdbc_url,
                f"CREATE OR REPLACE VIEW {tgt.table} {cols} AS {view.select}",
                self.jdbc_sink.properties,
            )
        else:
            log.warning(
                "view `%s`.`%s`: no SQL translation for dialect %s — "
                "definition not replayed",
                tbl.db, tbl.name, self.jdbc_sink.dialect,
            )

    # ------------------------------------------------------------------
    def _write_table_meta(
        self,
        tbl: MDTableMeta,
        info: TableInfo,
        sig: str,
        rep: TableReport,
        column_stats: dict | None,
    ) -> None:
        """Post-import finishing on the files backend: the table's catalog
        entry (`_tls_meta.json`), with ANALYZE column stats (L3) when the
        readback computed them."""
        meta = {
            "schema": [c.name for c in info.columns],
            "primary_key": info.primary_key,
            "rows": rep.rows,
            "checksum": rep.checksum,
            "pinned_timestamp": self.pinned_ts,
        }
        if info.partition_by:
            # the SHOW TABLE STATUS 'Create_options: partitioned' analog
            # (tests/partitioned-table): HASH/KEY partitioning is
            # physical-only here (the range sink spreads rows), but the
            # declared clause stays visible in the catalog
            meta["partition_by"] = info.partition_by
        # ANALYZE (L3): per-column stats into the table meta; feeds size
        # estimation the way ANALYZE TABLE feeds the optimizer
        # (restore.go:2215-2220)
        if column_stats is not None:
            meta["column_stats"] = column_stats
            self.checkpoints.update(tbl.db, tbl.name, "analyzed", signature=sig)
        self.sink.write_meta(tbl.db, tbl.name, meta)

    # ------------------------------------------------------------------
    def _jdbc_readback_df(self, dbtable: str, info: TableInfo) -> DataFrame:
        """Target-table readback, partitioned on the single integer PK /
        auto-increment column when one exists (MIN/MAX bounds from a
        one-row probe); plain single-connection read otherwise (small
        dimension tables, string keys)."""
        from tidb_lightning_spark.sinks.jdbc_sink import query_min_max

        props = self.jdbc_sink.properties
        if not info.has_auto_row_id():  # a single integer PK
            part_col = info.column(info.primary_key[0]).name
        else:
            part_col = next(
                (c.name for c in info.columns if c.auto_increment), None
            )
        if part_col is not None:
            lo, hi = query_min_max(
                self.spark, self.cfg.jdbc_url, dbtable, part_col,
                props, self.jdbc_sink.dialect,
            )
            if lo is not None and hi is not None and hi > lo:
                n = min(
                    self.spark.sparkContext.defaultParallelism, hi - lo + 1
                )
                return self.spark.read.jdbc(
                    self.cfg.jdbc_url, dbtable, column=part_col,
                    lowerBound=lo, upperBound=hi + 1, numPartitions=n,
                    properties=props,
                )
        return self.spark.read.jdbc(
            self.cfg.jdbc_url, dbtable, properties=props
        )

    # ------------------------------------------------------------------
    def _rebase_and_analyze(
        self, tbl: MDTableMeta, info: TableInfo, tgt: _JDBCTarget, sig: str
    ) -> None:
        """Post-import finishing at the live JDBC target.

        Allocator rebase (L1/D2, restore/tidb.go:349-382) points the
        target's id generator past the loaded max; post-load ANALYZE (L3,
        restore.go:2215-2220) refreshes optimizer stats — failures only
        fail the load under analyze=required."""
        from tidb_lightning_spark.sinks.jdbc_sink import JDBCSink, execute_ddl

        c = _auto_id_column(info)
        if c is not None and tgt.auto_max is not None:
            if c.auto_random_bits:
                # auto-random tables rebase AUTO_RANDOM_BASE, never
                # AUTO_INCREMENT (restore/tidb.go:384-395; tidb_test.go
                # TestAlterAutoRandom) — auto_max is already the masked
                # incremental part from the readback aggregation
                JDBCSink.rebase_auto_random(
                    self.spark, self.cfg.jdbc_url, tgt.db, tbl.name,
                    tgt.auto_max + 1, properties=self.jdbc_sink.properties,
                )
            else:
                JDBCSink.rebase_auto_increment(
                    self.spark, self.cfg.jdbc_url, tgt.db, tbl.name,
                    c.name, tgt.auto_max + 1,
                    properties=self.jdbc_sink.properties,
                )
        if self.cfg.analyze != "off":
            if self.jdbc_sink.dialect == "derby":
                stats_sql = (
                    "CALL SYSCS_UTIL.SYSCS_UPDATE_STATISTICS("
                    f"'{tgt.db.upper()}', '{tbl.name.upper()}', NULL)"
                )
            else:
                stats_sql = f"ANALYZE TABLE {tgt.table}"
            try:
                execute_ddl(
                    self.spark, self.cfg.jdbc_url, stats_sql,
                    self.jdbc_sink.properties,
                )
                self.checkpoints.update(
                    tbl.db, tbl.name, "analyzed", signature=sig
                )
            except Exception as exc:
                if self.cfg.analyze == "required":
                    raise
                log.warning(
                    "ANALYZE skipped for `%s`.`%s`: %s",
                    tbl.db, tbl.name, exc,
                )

    # ------------------------------------------------------------------
    def _plan_engines(self, data_files) -> list[list]:
        """Deterministic file groups of ~engine_bytes each (reference
        AllocateEngineIDs, region.go:60-129). By default the Beta-ratio
        batch shaping is dropped — it exists to pipeline the reference's
        serial import() step, which Spark's scheduler obsoletes — and
        grouping is uniform. Configuring `mydumper.batch-import-ratio`
        opts into the reference's exact non-uniform allocation (pinned
        against region_test.go:107-186 distributions), matching its
        engine/resume granularity. Files keep discovery order, so the
        same source always yields the same plan — the property resume
        depends on."""
        limit = max(1, self.cfg.engine_bytes)
        ratio = self.cfg.batch_import_ratio
        if ratio is not None and ratio > 0.0:
            sizes = [f.file_size for f in data_files]
            ids = allocate_engine_ids(
                sizes, float(limit), ratio, float(self.cfg.table_concurrency)
            )
            engines = [[] for _ in range(max(ids, default=0) + 1)]
            for f, eid in zip(data_files, ids):
                engines[eid].append(f)
            return [e for e in engines if e]
        engines: list[list] = []
        cur: list = []
        cur_bytes = 0
        for f in data_files:
            if cur and cur_bytes + f.file_size > limit:
                engines.append(cur)
                cur, cur_bytes = [], 0
            cur.append(f)
            cur_bytes += f.file_size
        if cur:
            engines.append(cur)
        return engines

    # ------------------------------------------------------------------
    def _table_info(self, tbl: MDTableMeta) -> TableInfo:
        if tbl.schema_file:
            # schema files may live on remote storage (A1): route the
            # bounded driver-side read through the Hadoop FS peek
            with csv_source._decompress_open(tbl.schema_file, self.spark) as f:
                # STRICT reference-parity decode (decodeCharacterSet,
                # reader.go:39-69): an invalid schema encoding is an
                # ERROR — tests/character_sets pins that utf8mb4 config
                # over gb18030 files must fail, never import mojibake
                sql = csv_source.decode_file_bytes(
                    f.read(), self.cfg.character_set, tbl.schema_file
                )
            info = parse_create_table(sql)
            info.db, info.name = tbl.db, tbl.name  # post-routing identity
            nonbin = info.non_binary_collations()
            if nonbin:
                # documented comparison contract (README "Collations"):
                # the warehouse compares strings by UTF-8 binary only;
                # a case/accent-insensitive MySQL collation changes
                # sort/equality semantics downstream — warn, don't fail
                # (the reference honors collations end-to-end,
                # tests/new_collation; SURVEY §1.3 flags the gap)
                log.warning(
                    "table `%s`.`%s` declares non-binary collation(s) %s: "
                    "this warehouse compares strings by UTF-8 BINARY — "
                    "ORDER BY / equality / DISTINCT over these columns may "
                    "differ from MySQL (see README 'Collations')",
                    tbl.db, tbl.name,
                    ", ".join(f"{k}={v}" for k, v in sorted(nonbin.items())),
                )
            return info
        # no-schema + live JDBC target: trust the TARGET's own schema
        # (reference semantics — the tidb backend under `no-schema = true`
        # skips restoreSchema and reads table models FROM the target,
        # LoadSchemaInfo -> FetchRemoteTableModels, restore.go /
        # backend/tidb.go, pinned by backend/tidb_test.go). The table
        # must already exist there; a missing table is an error with
        # remediation, never silently re-inferred from data.
        if self.jdbc_sink is not None:
            dbname = f"{self.cfg.jdbc_table_prefix}{tbl.db}"
            models = self._remote_models.get(dbname)
            if models is None:
                from tidb_lightning_spark.sinks.jdbc_sink import (
                    fetch_remote_table_models,
                )

                models = fetch_remote_table_models(
                    self.spark, self.cfg.jdbc_url, dbname,
                    self.jdbc_sink.properties,
                )
                self._remote_models[dbname] = models
            for tname, remote in models.items():
                # Derby upper-cases unquoted created names; match loosely
                if tname.lower() == tbl.name.lower():
                    remote.db, remote.name = tbl.db, tbl.name
                    return remote
            raise IngestError(
                f"no-schema mode: table `{tbl.db}`.`{tbl.name}` not found "
                f"at the JDBC target (database {dbname!r}) — no-schema "
                f"restores into a live database require the tables to be "
                f"created there first (reference tidb-backend semantics), "
                f"or provide {tbl.name}-schema.sql"
            )
        # no-schema mode: every column the data names becomes a text
        # column (typed parquet values are cast to it)
        first = tbl.data_files[0]
        if first.type == "parquet":
            header = [
                c for c in read_table(self.spark, first.path).columns
                # the Arrow-fallback scan's real metadata column
                if c != "_metadata"
            ]
        elif first.type == "jsonl":
            # first object's keys, in document order (driver-side bounded
            # peek through the same stream adapter as CSV headers). LLM
            # corpus dumps routinely carry >1 MiB first documents, so the
            # peek loops until a full first line (capped at 64 MiB), and
            # a malformed first line surfaces as IngestError-with-
            # remediation like every other driver-side peek — not a raw
            # JSONDecodeError.
            import json as _json

            peek_cap = 64 << 20
            # scan only each fresh chunk for the newline and join once:
            # rescanning/reallocating the accumulated buffer per 1 MiB
            # read would be O(cap^2) driver work on a newline-free file
            chunks: list[bytes] = []
            size = 0
            seen_nl = False
            with csv_source._decompress_open(first.path, self.spark) as f:
                while not seen_nl and size < peek_cap:
                    chunk = f.read(1 << 20)
                    if not chunk:
                        break
                    chunks.append(chunk)
                    size += len(chunk)
                    seen_nl = b"\n" in chunk
            buf = b"".join(chunks)
            if not seen_nl and size >= peek_cap:
                raise IngestError(
                    f"JSONL schema peek: first line of {first.path} "
                    f"exceeds {peek_cap >> 20} MiB without a newline; "
                    f"provide a schema file for `{tbl.db}`.`{tbl.name}` "
                    f"or check the file is line-delimited JSON"
                )
            line = (
                buf.decode("utf-8", errors="replace")
                .split("\n", 1)[0]
                .strip()
            )
            if line:
                try:
                    obj = _json.loads(line)
                except ValueError as e:
                    raise IngestError(
                        f"JSONL schema peek: first line of {first.path} "
                        f"is not valid JSON ({e}); provide a schema file "
                        f"for `{tbl.db}`.`{tbl.name}` or fix the file"
                    ) from e
                if not isinstance(obj, dict):
                    raise IngestError(
                        f"JSONL schema peek: first line of {first.path} "
                        f"is JSON but not an object; rows must be "
                        f"one JSON object per line"
                    )
                header = list(obj.keys())
            else:
                header = None
        elif first.type == "sql":
            # SQL dump: the INSERT column list names the columns when
            # present; a list-less dump (reference tests/no_schema gets
            # names from the TARGET database there) synthesizes c0..cN
            # from the first statement's arity so the restore still
            # lands (rename downstream via cli sql views)
            peek_spark = self.spark if is_remote(first.path) else None
            header = sqldump_source.peek_columns(
                first.path,
                self.cfg.character_set or "utf-8",
                spark=peek_spark,
            )
            if not header:
                arity = sqldump_source.peek_arity(
                    first.path,
                    self.cfg.character_set or "utf-8",
                    spark=peek_spark,
                )
                header = [f"c{i}" for i in range(arity)] if arity else None
        else:
            header = (
                csv_source.read_header(first.path, self.cfg.csv, self.spark)
                if first.type == "csv" and self.cfg.csv.header
                else None
            )
        if header is None:
            raise IngestError(
                f"no-schema requires a CSV header, column-listed SQL "
                f"dump, JSONL or parquet for `{tbl.db}`.`{tbl.name}`"
            )
        from tidb_lightning_spark.schema.ddl import ColumnInfo
        from tidb_lightning_spark.schema.types import MySQLType

        info = TableInfo(db=tbl.db, name=tbl.name)
        for name in header:
            info.columns.append(ColumnInfo(name=name, mysql=MySQLType("text")))
        return info

    # ------------------------------------------------------------------
    def _read_and_transform(
        self,
        tbl: MDTableMeta,
        info: TableInfo,
        files=None,
        rowid_base: int = 0,
    ) -> tuple[DataFrame | None, int]:
        """Lazy read+transform plan for `files` (default: all of the
        table's data files), with row-id allocation starting at
        `rowid_base`. Returns (df, next_rowid_base) so engine-granular
        callers can chain disjoint id ranges across file groups exactly
        like the reference's chunk allocation (region.go:208-286)."""
        data_files = tbl.data_files if files is None else files
        if not data_files:
            return None, rowid_base
        parts: list[DataFrame] = []
        # a duplicate policy needs the row id downstream as the
        # deterministic first/last ordering key
        keep_rowid = True if self._duplicate_policy(info) else None

        def reserve(files) -> int:
            # a text row of n columns takes >= n bytes (region.go:208-
            # 225), so this many ids cover every row of `files`
            n_bytes = sum(_text_size(f) for f in files)
            return n_bytes // max(1, len(info.columns)) + 1

        def finish(df, file_cols, reserved, persist=False, **kw) -> None:
            # the tail of every text scan group: transform with ids from
            # rowid_base, then move rowid_base past the group's reserved
            # ids so the next group's range starts beyond them
            nonlocal rowid_base
            part = transform_table(
                df,
                info,
                file_cols,
                self.pinned_ts,
                strict=self.cfg.strict_sql_mode,
                rowid_base=rowid_base,
                keep_rowid=keep_rowid,
                **kw,
            )
            rowid_base += reserved
            if persist:
                # Persist the parsed+cast rows: unlike the CSV path
                # (where the range sampler's re-scan is cheaper than a
                # cache round-trip — files_sink.write_table docstring),
                # the SQL-dump scan is a Python statement parse that
                # costs 10-30x the downstream plan, and the sampler
                # would run it TWICE. MEMORY_AND_DISK; released in
                # restore_table's finally, so on an engine-granular
                # import the cache footprint is the TABLE's parsed rows
                # (engines materialize lazily but accumulate until the
                # table commits) — spilled to executor disk, the same
                # per-table on-disk footprint as the reference's SST
                # intermediates (backend/local.go memtable->SST), not a
                # new cost class.
                from pyspark import StorageLevel

                part = part.persist(StorageLevel.MEMORY_AND_DISK)
                self._table_caches.append(part)
            parts.append(part)

        csv_files = [f for f in data_files if f.type == "csv"]
        sql_files = [f for f in data_files if f.type == "sql"]
        parquet_files = [f for f in data_files if f.type == "parquet"]
        jsonl_files = [f for f in data_files if f.type == "jsonl"]

        if jsonl_files:
            # JSONL (beyond-reference: the LLM-corpus dump format). Every
            # DDL column is read AS STRING so rows flow through the same
            # MySQL-cast chain as CSV — JSON's own number parsing must
            # not diverge from the dialect semantics (clamping, zero
            # dates, enum ordinals). A missing key surfaces as SQL NULL
            # (a schema'd reader cannot distinguish absent from explicit
            # null, so nullable columns keep NULL rather than taking
            # DEFAULT); unknown fields are ignored by the explicit
            # schema. Spark's json reader splits files and decompresses
            # gz natively, same scan properties as the CSV source.
            import pyspark.sql.types as T

            schema = T.StructType(
                [T.StructField(c.name, T.StringType()) for c in info.columns]
            )
            df = (
                self.spark.read.schema(schema)
                .option("mode", "PERMISSIVE")
                .json([f.path for f in jsonl_files])
                # the transform chain's positional contract (_c{i} ->
                # schema column i); the json reader already matched by
                # name, so this is a straight rename in DDL order
                .select(
                    *[
                        F.col(c.name).alias(f"_c{i}")
                        for i, c in enumerate(info.columns)
                    ]
                )
            )
            finish(df, None, reserve(jsonl_files))

        if csv_files:
            import pyspark.sql.types as _T

            from tidb_lightning_spark.operators.cast import STRING_FAMILY_BASES

            bin_cols = {
                c.name.lower()
                for c in info.columns
                if isinstance(c.mysql.spark_type(), _T.BinaryType)
            }
            # MySQL \n/\t/... escapes the lexer left as two chars are
            # restored inside the cast of string-family target columns
            # (cast.mysql_unescape_expr rationale)
            esc_cols = {
                c.name.lower()
                for c in info.columns
                if c.mysql.base in STRING_FAMILY_BASES
            }
            for header, paths in csv_source.group_files_by_header(
                [f.path for f in csv_files], self.cfg.csv, self.spark
            ):
                file_cols = list(header) if header else None
                names = file_cols or [c.name for c in info.columns]
                df, _, unescape, binary_encoding = csv_source.read_csv_files(
                    self.spark,
                    paths,
                    self.cfg.csv,
                    n_columns=len(info.columns),
                    strict=self.cfg.strict_sql_mode,
                    binary_cols={
                        i for i, n in enumerate(names) if n.lower() in bin_cols
                    },
                )
                pathset = set(paths)
                finish(
                    df,
                    file_cols,
                    reserve([f for f in csv_files if f.path in pathset]),
                    unescape_cols=esc_cols if unescape else None,
                    binary_encoding=binary_encoding,
                )

        if sql_files:
            for df, file_cols, reserved in sqldump_source.read_sql_groups(
                self.spark,
                [(f.path, f.file_size) for f in sql_files],
                self.cfg.character_set or "utf-8",
                len(info.columns),
            ):
                finish(
                    df,
                    file_cols,
                    reserved,
                    persist=True,
                    binary_encoding="ISO-8859-1",
                    # only SQL dumps can emit DEFAULT_SENTINEL (empty
                    # tuples / DEFAULT keyword); CSV never pays for it
                    sentinel_defaults=True,
                )

        if parquet_files:
            df = read_table(self.spark, [f.path for f in parquet_files])
            # row ids are needed whenever they'd be kept in the output OR
            # an auto-increment/auto-random column may need backfilling —
            # the reference allocates chunk row-id ranges for parquet
            # unconditionally (makeParquetFileRegion, region.go:290-315)
            keep_final = (
                info.has_auto_row_id() if keep_rowid is None else keep_rowid
            )
            needs_rowid = keep_final or any(
                c.auto_increment or c.auto_random_bits for c in info.columns
            )
            if needs_rowid:
                # resume-stable row ids (SURVEY §4 row-ID rule; reference
                # makeParquetFileRegion, mydump/region.go:290-315): per-file
                # bases + the in-file row position — identical across runs
                # regardless of split size or task scheduling, unlike
                # monotonically_increasing_id which is partition-striped.
                # Per-file row counts come from ONE distributed count over
                # `_metadata.file_path` (column-pruned to the constant
                # metadata struct — no data pages read), not a driver-side
                # walk over footers, which is hours of driver IO at ~1M
                # files and breaks on scheme'd paths. Bases follow the
                # decoded path, so their order matches the sorted source
                # listing whatever the URI encoding.
                from tidb_lightning_spark.operators.transform import (
                    allocate_row_ids,
                )
                from tidb_lightning_spark.paths import file_uri_to_path

                df, bounds = allocate_row_ids(
                    df,
                    F.col("_metadata.file_path"),
                    F.col("_metadata.row_index"),
                    rowid_base,
                    order=file_uri_to_path,
                )
                rowid_base = bounds[-1]
            # full transform chain on the typed input: cast-where-differs,
            # defaults (pinned ts), auto-id fill, gencols, strict flags —
            # the reference runs parquet through the same encode path as
            # every parser (sql2kv.go:282-386, tests/checkpoint_parquet)
            from tidb_lightning_spark.operators.transform import (
                transform_parquet_table,
            )

            parts.append(
                transform_parquet_table(
                    df,
                    info,
                    self.pinned_ts,
                    strict=self.cfg.strict_sql_mode,
                    keep_rowid=keep_rowid,
                )
            )

        if not parts:
            return None, rowid_base
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out, rowid_base

"""Files backend: sorted, range-partitioned parquet with staged atomic
commit (the Spark-native re-expression of the reference's local backend,
lightning/backend/local.go — SURVEY.md §2.K2).

The reference's pipeline  encode -> memcache sort -> SST -> pebble ingest
-> range-split -> scatter  collapses on Spark to:

    df.repartitionByRange(N, pk).sortWithinPartitions(pk)
      .write.parquet(<staging>)          # executors write sorted files
    rename(<staging> -> <final>)         # atomic engine Import step

* N is sized from the source bytes / 96 MiB — the reference's target
  region size (local.go:77, backend const) — so each output file is a
  "region"-sized sorted run; range partitioning gives globally
  non-overlapping key ranges exactly like its split-and-ingest.
* The staging dir mirrors engine Close -> Import atomicity
  (backend.go:300-439): readers never observe a half-written table, and a
  retry wipes staging and re-runs (idempotent re-import).
* MySQL PARTITION BY tables map to `partitionBy(cols)` output layout (H4).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame

TARGET_FILE_BYTES = 96 * 1024 * 1024  # reference target region size
ENGINE_MANIFEST = "_tls_engine.json"  # closed-engine marker inside staging


@dataclass
class CommitResult:
    path: str
    n_files: int
    n_rows: int | None
    seconds: float


def _sort_plan(
    df: DataFrame,
    sort_columns: list[str] | None,
    source_bytes: int,
    observation=None,
    observe_aggs: list | None = None,
    n_ranges: int | None = None,
) -> DataFrame:
    """The write plan shared by `write_table` and `write_engine`: range
    partition + local sort on the sort columns, with the ingest
    observation attached above the exchange."""
    out = df
    if sort_columns:
        # Range count: 96 MiB target files at scale (first term wins on
        # big tables); floor at cluster parallelism for small inputs so
        # the sort+write isn't single-threaded (second term, local
        # bench / tail tables — 2 MiB floor keeps every core busy; on a
        # shared cluster ingesting many tables concurrently, idle cores
        # do other tables, so the 96 MiB term is what governs at scale).
        # More, smaller range partitions are still globally
        # non-overlapping — correctness is unaffected.
        cores = df.sparkSession.sparkContext.defaultParallelism
        n = n_ranges or max(
            (source_bytes + TARGET_FILE_BYTES - 1) // TARGET_FILE_BYTES,
            min(cores, max(1, source_bytes // (2 * 1024 * 1024))),
            1,
        )
        # one shuffle: range-partition on the PK, then local sort —
        # Spark's external sort handles spill (the SST/pebble analog).
        # repartitionByRange SAMPLES its input, re-executing the
        # read+transform chain once to pick bounds. That extra scan is
        # deliberately NOT avoided with persist(): measured at 37 MiB
        # and 373 MiB, caching the parsed rows costs 2-3x more (cache
        # build + columnar re-read) than re-parsing, and at 100 TB a
        # full-input persist is a second copy of the dataset on
        # executor disks while the sampling scan remains a ~1x read
        # with pruning intact.
        if n > 1:
            out = out.repartitionByRange(n, *sort_columns)
        # metrics node ABOVE the exchange: the range sampler executes
        # the exchange INPUT, so metrics attached below it would
        # accumulate twice (count 2x, xor self-cancelling); above it,
        # only the write job evaluates them — one exact accumulation
        # with zero extra scans.
        if observation is not None:
            out = out.observe(observation, *observe_aggs)
            observation = None
        out = out.sortWithinPartitions(*sort_columns)
    if observation is not None:  # unsorted path: write job is the only job
        out = out.observe(observation, *observe_aggs)
    return out


class FilesSink:
    def __init__(self, warehouse: str, fmt: str = "parquet"):
        self.warehouse = warehouse
        self.fmt = fmt

    def table_path(self, db: str, table: str) -> str:
        return os.path.join(self.warehouse, db, table)

    def write_view_meta(self, db: str, name: str, meta: dict) -> str:
        """Record a replayed view definition in the warehouse catalog
        (`<wh>/<db>/_views.json`) — the files-backend analog of the
        reference executing CREATE VIEW at the target
        (restore.go:553-602). `cli sql` registers these after tables."""
        path = os.path.join(self.warehouse, db, "_views.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        views = {}
        if os.path.exists(path):
            with open(path) as f:
                views = json.load(f)
        views[name] = meta
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(views, f, indent=1)
        os.replace(tmp, path)
        return path

    def list_views(self) -> dict[str, dict[str, dict]]:
        """{db: {view_name: meta}} for every db in the warehouse."""
        out: dict[str, dict[str, dict]] = {}
        if not os.path.isdir(self.warehouse):
            return out
        for db in sorted(os.listdir(self.warehouse)):
            path = os.path.join(self.warehouse, db, "_views.json")
            if os.path.isfile(path):
                with open(path) as f:
                    out[db] = json.load(f)
        return out

    def sweep_trash(self) -> int:
        """Resolve `._trash_*` dirs stranded by a crash between Import's
        two renames (old -> trash, staging -> final). If the final table
        exists, the trash is an obsolete previous copy -> delete; if it
        does not, the crash hit the window where the trash IS the only
        copy -> restore it. Returns the number of entries resolved.
        Called at pipeline start (and safe to call any time: commit only
        creates a trash after its staging write fully succeeded)."""
        n = 0
        if not os.path.isdir(self.warehouse):
            return n
        for db in os.listdir(self.warehouse):
            dbdir = os.path.join(self.warehouse, db)
            if not os.path.isdir(dbdir):
                continue
            for name in os.listdir(dbdir):
                if "._trash_" not in name:
                    continue
                tpath = os.path.join(dbdir, name)
                fpath = os.path.join(dbdir, name.split("._trash_")[0])
                if os.path.exists(fpath):
                    shutil.rmtree(tpath, ignore_errors=True)
                else:
                    os.replace(tpath, fpath)
                n += 1
        return n

    def write_table(
        self,
        df: DataFrame,
        db: str,
        table: str,
        sort_columns: list[str] | None,
        source_bytes: int = 0,
        partition_columns: list[str] | None = None,
        max_records_per_file: int = 0,
        observation=None,
        observe_aggs: list | None = None,
        pre_commit=None,
        n_ranges: int | None = None,
    ) -> CommitResult:
        t0 = time.time()
        final = self.table_path(db, table)
        staging = final + f"._staging_{uuid.uuid4().hex[:8]}"
        if os.path.exists(staging):
            shutil.rmtree(staging)

        out = _sort_plan(
            df, sort_columns, source_bytes, observation, observe_aggs, n_ranges
        )
        writer = out.write.mode("overwrite").format(self.fmt)
        if partition_columns:
            writer = writer.partitionBy(*partition_columns)
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.save(staging)
        # engine Close -> Import gate: a pre-commit check that raises
        # (e.g. strict-mode violations observed during the write) discards
        # staging — the warehouse never sees the bad table.
        if pre_commit is not None:
            try:
                pre_commit()
            except Exception:
                shutil.rmtree(staging, ignore_errors=True)
                raise

        # engine Import: atomic swap into the warehouse. The old table is
        # renamed aside (atomic) before staging renames in, so a crash
        # between the two renames leaves the previous table recoverable at
        # the trash path instead of a window where neither version exists;
        # the trash delete happens only after the new table is in place.
        os.makedirs(os.path.dirname(final), exist_ok=True)
        trash = None
        if os.path.exists(final):
            trash = final + f"._trash_{uuid.uuid4().hex[:8]}"
            os.replace(final, trash)
        os.replace(staging, final)
        if trash is not None:
            shutil.rmtree(trash, ignore_errors=True)
        n_files = sum(
            1
            for root, _, files in os.walk(final)
            for f in files
            if f.endswith((".parquet", ".orc"))
        )
        return CommitResult(final, n_files, None, time.time() - t0)

    def clear_engine_files(self, db: str, table: str, engine: int) -> None:
        """Remove a (possibly partial) engine's output — the analog of the
        reference's checkpoint-error-destroy for a dangling engine."""
        final = self.table_path(db, table)
        if not os.path.isdir(final):
            return
        prefix = f"engine{engine:04d}-"
        for f in os.listdir(final):
            if f.startswith(prefix):
                os.remove(os.path.join(final, f))

    def find_dangling_engines(self) -> list[dict]:
        """Closed-but-unimported engines: staging dirs whose parquet write
        finished (`_SUCCESS` + manifest present) but whose rename-into-
        table Import step was interrupted."""
        found = []
        if not os.path.isdir(self.warehouse):
            return found
        for db in os.listdir(self.warehouse):
            dbdir = os.path.join(self.warehouse, db)
            if not os.path.isdir(dbdir):
                continue
            for name in os.listdir(dbdir):
                staging = os.path.join(dbdir, name)
                if "._engine" not in name or not os.path.isdir(staging):
                    continue
                mpath = os.path.join(staging, ENGINE_MANIFEST)
                if os.path.exists(mpath) and os.path.exists(
                    os.path.join(staging, "_SUCCESS")
                ):
                    m = json.load(open(mpath))
                    m["_staging"] = staging
                    found.append(m)
        return found

    def import_dangling_engine(self, manifest: dict) -> int:
        """Finish a dangling engine's Import step: idempotently move its
        data files into the table under the engine prefix. Returns the
        file count."""
        staging = manifest["_staging"]
        db, table, engine = (
            manifest["db"], manifest["table"], int(manifest["engine"]),
        )
        final = self.table_path(db, table)
        os.makedirs(final, exist_ok=True)
        self.clear_engine_files(db, table, engine)
        n = 0
        for f in sorted(os.listdir(staging)):
            if f.endswith((".parquet", ".orc")):
                os.replace(
                    os.path.join(staging, f),
                    os.path.join(final, f"engine{engine:04d}-{f}"),
                )
                n += 1
        shutil.rmtree(staging, ignore_errors=True)
        return n

    def write_engine(
        self,
        df: DataFrame,
        db: str,
        table: str,
        engine: int,
        sort_columns: list[str] | None,
        source_bytes: int = 0,
        observation=None,
        observe_aggs: list | None = None,
        manifest: dict | None = None,
    ) -> CommitResult:
        """One engine (a file group of a table) written and committed
        independently — the incremental commit unit that makes resume
        chunk-granular (reference engine Open->Write->Close->Import,
        backend.go:300-439). Output files land in the FINAL table dir
        under an `engine{k}-` name prefix after a staged write; the
        checkpoint records the engine only after every file is in place,
        so a crash leaves an uncommitted prefix that the next run wipes
        and re-imports. Each engine is sorted within itself (the
        reference's engines are too; global order across engines was the
        LSM's job there and is not required of a parquet warehouse)."""
        t0 = time.time()
        final = self.table_path(db, table)
        staging = final + f"._engine{engine}_{uuid.uuid4().hex[:8]}"
        if os.path.exists(staging):
            shutil.rmtree(staging)

        out = _sort_plan(df, sort_columns, source_bytes, observation, observe_aggs)
        out.write.mode("overwrite").format(self.fmt).save(staging)
        if manifest is not None:
            # closed-engine manifest: written AFTER the data files, so a
            # staging dir holding one is a fully-written ("closed") engine
            # whose Import step didn't finish — `ctl --import-engine`
            # completes it (reference dangling-engine import,
            # cmd/tidb-lightning-ctl/main.go:44-96)
            with open(os.path.join(staging, ENGINE_MANIFEST), "w") as f:
                json.dump(
                    {**manifest, "db": db, "table": table, "engine": engine},
                    f,
                )

        os.makedirs(final, exist_ok=True)
        self.clear_engine_files(db, table, engine)
        n_files = 0
        for f in sorted(os.listdir(staging)):
            if f.endswith((".parquet", ".orc")):
                os.replace(
                    os.path.join(staging, f),
                    os.path.join(final, f"engine{engine:04d}-{f}"),
                )
                n_files += 1
        shutil.rmtree(staging, ignore_errors=True)
        return CommitResult(final, n_files, None, time.time() - t0)

    def write_meta(self, db: str, table: str, meta: dict) -> None:
        path = os.path.join(self.table_path(db, table), "_tls_meta.json")
        with open(path, "w") as f:
            json.dump(meta, f, indent=2, default=str)

    def write_bucketed_table(
        self,
        df: DataFrame,
        db: str,
        table: str,
        bucket_columns: list[str],
        n_buckets: int,
        sort_columns: list[str] | None = None,
    ) -> str:
        """Catalog-registered bucketed output (H: co-located joins).

        `bucketBy(n, keys)` hash-partitions rows into a fixed bucket count
        recorded in the catalog; two tables bucketed the same way join
        WITHOUT a shuffle (no Exchange in the plan) — the Spark-native
        equivalent of the reference pre-splitting the target key space
        (SplitAndScatterRegionByRanges, localhelper.go:54-207) so ingest
        lands co-located. At 100 TB this is the difference between a
        full-fact shuffle per join and none; pick n_buckets ~ total_bytes
        / 128 MiB, and the SAME n for every table sharing join keys.

        Requires a catalog (saveAsTable); the plain path-based sink stays
        the default. Returns the qualified table name.
        """
        spark = df.sparkSession
        spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
        name = f"`{db}`.`{table}`"
        writer = (
            df.write.mode("overwrite")
            .format(self.fmt)
            # external table rooted in THIS sink's warehouse, not the
            # session default (keeps all engine output under target_dir)
            .option("path", self.table_path(db, table))
            .bucketBy(n_buckets, *bucket_columns)
        )
        if sort_columns:
            writer = writer.sortBy(*sort_columns)
        writer.saveAsTable(f"{db}.{table}")
        # ANALYZE (L3 full, restore.go:2215-2220): table + column stats
        # into the catalog so Catalyst's CBO sizes joins/broadcasts from
        # real row counts and NDVs instead of file-size guesses.
        spark.sql(
            f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR ALL COLUMNS"
        )
        return name


# ---------------------------------------------------------------------------
# Z-order clustering (beyond-reference lakehouse feature)
# ---------------------------------------------------------------------------

ZORDER_BITS = 8  # 256 quantile buckets per dimension


def zorder_value(df: DataFrame, columns: list[str], bits: int = ZORDER_BITS):
    """A Column interleaving `bits` quantile-bucket bits per dimension —
    the Morton (Z-order) curve over the columns' RANK space, so range
    partitioning on it co-locates rows that are close in EVERY dimension
    at once. Sorting on a leading column gives perfect min/max pruning on
    that column and none on the others; Z-ordering trades a little of the
    first column's locality for pruning on all of them (the Delta/Iceberg
    OPTIMIZE ZORDER idea, built from plain Catalyst expressions).

    Buckets come from per-column approxQuantile boundaries (one driver
    call, GK sketch — no extra shuffle); the bucket index is a
    fold over the boundary-array literal, JVM-side, O(2^bits) comparisons
    per row inside codegen. NULLs bucket to 0 (first region).
    """
    from pyspark.sql import functions as F

    k = len(columns)
    if k == 0:
        raise ValueError("z-order requires at least one column")
    # the interleaved value must stay out of a signed long's bit 63:
    # 8 cols x 8 bits would put the top bucket bits in the sign position
    # (inverting the curve for the upper half) and >63 total would drop
    # bits entirely. Reduce bits per dimension instead of overflowing.
    if k * bits > 63:
        bits = 63 // k
        if bits < 1:
            raise ValueError(
                f"z-order over {k} columns cannot fit >=1 bit per "
                f"dimension in a 63-bit curve value; use <=63 columns "
                f"(2-4 is typical)"
            )
    n_buckets = 1 << bits
    qs = [i / n_buckets for i in range(1, n_buckets)]
    z = F.lit(0).cast("long")
    for ci, col in enumerate(columns):
        bounds = df.approxQuantile(col, qs, 0.001)
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        bucket = F.aggregate(
            F.filter(
                arr, lambda b: b <= F.coalesce(
                    F.col(col).cast("double"), F.lit(float("-inf"))
                )
            ),
            F.lit(0),
            lambda acc, _: acc + 1,
        )
        for bi in range(bits):
            bit = F.shiftright(bucket, bi).bitwiseAND(F.lit(1)).cast("long")
            z = z + F.shiftleft(bit, bi * k + ci)
    return z


def write_zordered(
    sink: FilesSink,
    df: DataFrame,
    db: str,
    table: str,
    zorder_columns: list[str],
    source_bytes: int,
    bits: int = ZORDER_BITS,
):
    """Write `df` as a Z-order-clustered table: range-partition + sort on
    the interleaved curve value, one file per ~96 MiB region. Every file
    then covers a small hyper-rectangle of the z-columns' value space, so
    parquet footer min/max prunes scans filtering on ANY of them — the
    multi-dimensional analog of the PK-sorted layout's single-key
    pruning. The curve column is dropped before writing; layout only."""
    from pyspark.sql import functions as F

    z = zorder_value(df, zorder_columns, bits=bits)
    tagged = df.withColumn("_zv", z)
    n = max(
        1, (source_bytes + TARGET_FILE_BYTES - 1) // TARGET_FILE_BYTES
    )
    cores = df.sparkSession.sparkContext.defaultParallelism
    n = max(n, min(cores, max(1, source_bytes // (2 * 1024 * 1024))))
    out = (
        tagged.repartitionByRange(n, F.col("_zv"))
        .sortWithinPartitions("_zv")
        .drop("_zv")
    )
    # write through the staged-commit path with no extra sort
    return sink.write_table(
        out, db, table, sort_columns=None, source_bytes=source_bytes
    )


def upsert_table(
    sink: FilesSink,
    updates: DataFrame,
    db: str,
    table: str,
    key_columns: list[str],
    _keys_unique: bool = False,
) -> CommitResult:
    """MERGE-by-key into an existing files-backend table, copy-on-write:
    rows whose key exists take the update's values, new keys insert,
    untouched rows survive verbatim — the warehouse-side face of the
    duplicate policies (K4/K4b resolve dups WITHIN one import; this
    merges a later batch INTO the committed table). A boolean `_deleted`
    column makes the batch a full CDC changeset: marked keys are removed
    instead of replaced (the column never reaches the table). Crash-safe
    via the
    same staged-swap write_table commit: the merged plan reads the live
    table while writing to staging, and the atomic rename pair means a
    crash leaves either the old table or the new one, never a mix.

    Updates must be unique on the key (checked) — a nondeterministic
    dropDuplicates winner could never be re-derived on retry; callers
    with multi-version batches pre-reduce (e.g. max-by ingest sequence)
    before calling.

    `_keys_unique=True` skips that duplicate-probe job, and is internal:
    it is only correct when a `row_number() == 1` filter over a window
    partitioned by exactly `key_columns` produced `updates` (the
    streaming CDC drain), which makes duplicates structurally
    impossible. Any other caller must leave the probe on.

    Scale shape: ONE anti-join keyed on the PK (both sides hash-
    partition on the key; the update side is usually broadcast-sized
    and AQE does so at runtime) + the standard range-partitioned sorted
    rewrite. Copy-on-write rewrites the whole table — the 100 TB
    refinement is partition-level COW (prune PK-sorted files whose
    footer [min,max] intersects no update key and rename them through
    unchanged), which this layout's sorted, range-split files are
    already shaped for."""
    from tidb_lightning_spark.pipeline import IngestError

    from pyspark.sql import functions as F

    # resolve any ._trash_ stranded by a crash between a previous
    # commit's two renames BEFORE reading the table — the pipeline
    # sweeps at startup, but upsert is also reachable straight from the
    # CLI/stream where no pipeline ran
    sink.sweep_trash()
    final = sink.table_path(db, table)
    spark = updates.sparkSession
    upserts = updates
    if "_deleted" in updates.columns:
        upserts = updates.filter(
            ~F.coalesce(F.col("_deleted").cast("boolean"), F.lit(False))
        ).drop("_deleted")
    # key + duplicate validation runs BEFORE the create-table early
    # return: the first batch against a missing table must enforce the
    # same uniqueness contract as every later merge, or it can silently
    # seed a table that violates the invariant the merges rely on
    if not key_columns:
        raise IngestError(
            f"upsert into `{db}`.`{table}` needs key columns — the table "
            "has no primary key in _tls_meta.json; pass --key explicitly"
        )
    dup = 0 if _keys_unique else (
        updates.groupBy(*key_columns)
        .count()
        .filter("count > 1")
        .limit(1)
        .count()
    )
    if dup:
        raise IngestError(
            "upsert batch has duplicate keys — the merge winner would be "
            "nondeterministic; pre-reduce the batch to one row per key "
            "(e.g. max-by ingest sequence) first"
        )
    if not os.path.isdir(final):
        return sink.write_table(upserts, db, table, key_columns)
    existing = spark.read.format(sink.fmt).load(final)
    missing = set(existing.columns) ^ (set(updates.columns) - {"_deleted"})
    if missing:
        raise IngestError(
            f"upsert schema mismatch on `{db}`.`{table}`: columns "
            f"{sorted(missing)} not on both sides"
        )
    cow = _upsert_partition_cow(
        sink, updates, upserts, existing, db, table, key_columns
    )
    if cow is not None:
        return cow
    size = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(final)
        for f in fs
    )
    # anti-join on EVERY changed key (updates and deletes both retire
    # the old row); only non-deleted rows union back in
    kept = existing.join(
        updates.select(*key_columns), key_columns, "left_anti"
    )
    merged = kept.unionByName(upserts.select(*existing.columns))
    return sink.write_table(
        merged, db, table, key_columns, source_bytes=size
    )


def _upsert_partition_cow(
    sink: FilesSink,
    updates: DataFrame,
    upserts: DataFrame,
    existing: DataFrame,
    db: str,
    table: str,
    key_columns: list[str],
) -> CommitResult | None:
    """Partition-level copy-on-write: rewrite ONLY the files whose
    parquet-footer [min,max] range of the leading key column contains
    some changed key; every untouched file HARDLINKS into the staging
    dir unread. This is what makes upsert O(changed data) instead of
    O(table) — at 100 TB a CDC batch touches a handful of 96 MiB
    range files, and the other million files move by rename.

    Correctness under truncated string statistics: parquet may store
    widened (truncated) min/max bounds — widening only marks MORE files
    dirty, never fewer, so pruning stays conservative. Files with
    missing stats or key nulls are treated as dirty. New keys beyond
    every dirty range land in the rewritten (sorted) portion — file
    ranges may then overlap, which no reader requires (footer pruning
    is per-file); `ctl --compact` restores strict range clustering.

    Returns None to fall back to full COW: non-parquet tables,
    partitioned dir layouts, unreadable stats, or when every file is
    dirty anyway. A Z-ordered table's key ranges overlap heavily, so
    most files test dirty and the rewrite comes out PK-sorted — run
    `ctl --zorder` again to restore Morton clustering after upserting
    such a table."""
    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    if sink.fmt != "parquet":
        return None
    final = sink.table_path(db, table)
    entries = sorted(os.listdir(final))
    files = [e for e in entries if e.endswith(".parquet")]
    if not files or any(
        os.path.isdir(os.path.join(final, e)) for e in entries
    ):
        return None  # partitioned layout (subdirs): full COW handles it
    k = key_columns[0]
    ranges: list[tuple[str, object, object]] = []
    dirty: set[str] = set()
    for name in files:
        try:
            md = _pq.ParquetFile(os.path.join(final, name)).metadata
            idx = md.schema.names.index(k)
            lo = hi = None
            ok = md.num_rows == 0
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max or st.null_count:
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
                ok = True
            if not ok or lo is None:
                dirty.add(name)
            else:
                ranges.append((name, lo, hi))
        except Exception:
            return None
    if ranges:
        try:
            rdf = updates.sparkSession.createDataFrame(
                ranges, ["__file", "__lo", "__hi"]
            )
            hits = (
                updates.select(F.col(k).alias("__k"))
                .join(
                    F.broadcast(rdf),
                    (F.col("__k") >= F.col("__lo"))
                    & (F.col("__k") <= F.col("__hi")),
                )
                .select("__file")
                .distinct()
                .collect()
            )
        except Exception:
            return None  # stats type Spark can't carry/compare: full COW
        dirty |= {r["__file"] for r in hits}
    clean = [n for n in files if n not in dirty]
    if not clean:
        return None  # nothing to prune: full COW is the same work
    t0 = time.time()
    spark = updates.sparkSession
    cols = existing.columns
    if dirty:
        dirty_df = spark.read.parquet(
            *[os.path.join(final, n) for n in sorted(dirty)]
        )
        kept = dirty_df.join(
            updates.select(*key_columns), key_columns, "left_anti"
        )
        merged = kept.unionByName(upserts.select(*cols))
    else:
        merged = upserts.select(*cols)
    staging = final + f"._staging_{uuid.uuid4().hex[:8]}"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    dirty_bytes = sum(
        os.path.getsize(os.path.join(final, n)) for n in dirty
    )
    n = max(1, (dirty_bytes + TARGET_FILE_BYTES - 1) // TARGET_FILE_BYTES)
    out = merged
    if n > 1:
        out = out.repartitionByRange(n, *key_columns)
    out.sortWithinPartitions(*key_columns).write.mode("overwrite").parquet(
        staging
    )
    # hardlink the pruned files in (collision-proof names: Spark's new
    # part files never carry the linked- prefix). Strip prior linked-
    # prefixes first — re-linking a linked file must not grow the name
    # by one prefix per CDC batch until it hits the filesystem's
    # filename limit; the UUID part names make stripped-name collisions
    # practically impossible, and the counter guards the impossible.
    try:
        for name in clean:
            base = name
            while base.startswith("linked-"):
                base = base[len("linked-"):]
            dst = os.path.join(staging, f"linked-{base}")
            i = 0
            while os.path.exists(dst):
                i += 1
                dst = os.path.join(staging, f"linked-{i}-{base}")
            src = os.path.join(final, name)
            try:
                os.link(src, dst)
            except OSError:
                # filesystems without hardlink support (NFS/object-store
                # mounts): a byte copy preserves the commit semantics at
                # copy cost for this file only
                shutil.copy2(src, dst)
    except OSError:
        # copy also failed: clean the staged partial and fall back to
        # the full-COW rewrite rather than stranding ._staging_*
        shutil.rmtree(staging, ignore_errors=True)
        return None
    # same atomic rename pair as write_table: old aside, staging in,
    # trash removed last — a crash leaves old or new, never a mix
    trash = final + f"._trash_{uuid.uuid4().hex[:8]}"
    os.replace(final, trash)
    os.replace(staging, final)
    shutil.rmtree(trash, ignore_errors=True)
    n_files = sum(
        1 for f in os.listdir(final) if f.endswith((".parquet", ".orc"))
    )
    return CommitResult(final, n_files, None, time.time() - t0)

"""Checkpoint store (reference: lightning/checkpoints/checkpoints.go).

One record per table, keyed `` `db`.`tbl` ``; statuses mirror
checkpoints.go:43-56 so `ctl` output reads the same:

    loaded(30) -> all_written(60) -> closed(90) -> imported(120) ->
    altered_auto_inc(150) -> checksummed(180) -> analyzed(210)

The commit unit is an engine (a deterministic group of a table's source
files, pipeline._plan_engines; the reference resumes per chunk too,
tests/checkpoint_chunks), recorded as a per-engine sub-record. A
re-run skips tables at the skip status with a matching source signature
and engines committed with a matching engine signature, and re-runs
anything earlier (exactly-once resume, FIXTURES.md F12).

The record logic is written once, in `CheckpointStore`. Each driver
supplies four storage primitives over key -> record: `_load(key)`,
`_rmw(key, mutate)` (atomic read-modify-write; `mutate` returning False
skips the write), `_delete(key | None) -> count` and `_items()`. Drivers:
`CheckpointStore` (one JSON file, write-temp + rename; `enabled=False`
makes it the in-memory store every driver gets with checkpoints off),
`SQLiteCheckpointStore` (safe under concurrent processes) and
`JDBCCheckpointStore` (in the target DB: resume survives losing the
driver machine).
"""

from __future__ import annotations

import contextlib
import copy
import json
import os
import tempfile
import threading
import time

STATUS = {
    "loaded": 30,
    "all_written": 60,
    "closed": 90,
    "imported": 120,
    "altered_auto_inc": 150,
    "checksummed": 180,
    "analyzed": 210,
}

class CheckpointStore:
    """JSON-file driver. Also the in-memory store (`enabled=False`):
    records live for the run and nothing touches the disk."""

    def __init__(self, path: str, enabled: bool = True):
        self.path = path
        self.enabled = enabled
        # serializes in-process writers (table-concurrency > 1)
        self._lock = threading.RLock()
        self._tables: dict = {}
        if enabled and os.path.exists(path):
            with open(path) as f:
                data = json.load(f)
            # a hand-written flat {key: rec} file has no wrapper
            self._tables = data.get("tables", data)

    def _save(self) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(self.path) or ".")
        with os.fdopen(fd, "w") as f:
            json.dump({"version": 1, "tables": self._tables}, f, indent=2)
        os.replace(tmp, self.path)

    # -- storage primitives --------------------------------------------
    def _load(self, key: str) -> dict:
        with self._lock:
            return copy.deepcopy(self._tables.get(key, {}))

    def _rmw(self, key: str, mutate) -> None:
        with self._lock:
            rec = self._load(key)
            if mutate(rec) is False:
                return
            self._tables[key] = rec
            self._save()

    def _delete(self, key: str | None) -> int:
        with self._lock:
            keys = list(self._tables) if key is None else [key]
            n = sum(self._tables.pop(k, None) is not None for k in keys)
            self._save()
            return n

    def _items(self) -> dict:
        with self._lock:
            return copy.deepcopy(self._tables)

    # -- record logic (every driver) -----------------------------------
    @staticmethod
    def table_key(db: str, table: str) -> str:
        return f"`{db}`.`{table}`"

    def get(self, db: str, table: str) -> dict:
        return self._load(self.table_key(db, table))

    def status(self, db: str, table: str) -> int:
        return self.get(db, table).get("status", 0)

    def update(self, db: str, table: str, status: str, **fields) -> None:
        def mutate(rec):
            rec["status"] = STATUS[status]
            rec["status_name"] = status
            rec["updated_at"] = time.strftime("%Y-%m-%d %H:%M:%S")
            rec.update(fields)

        self._rmw(self.table_key(db, table), mutate)

    def source_signature(self, data_files) -> str:
        """Change-detection key: (path, size) of every input file."""
        import hashlib

        h = hashlib.sha256()
        for f in data_files:
            h.update(f"{f.path}:{f.file_size};".encode())
        return h.hexdigest()[:16]

    def should_skip(
        self,
        db: str,
        table: str,
        signature: str,
        min_status: str = "imported",
    ) -> bool:
        """A table is skippable only once it reached `min_status` — when
        verification is on, that is `checksummed`, so a run that imported
        but failed (or never ran) the checksum phase is re-verified on
        resume instead of being silently reported ok (the reference's
        state machine re-runs every phase below the recorded status,
        checkpoints.go:43-56)."""
        rec = self.get(db, table)
        return (
            rec.get("status", 0) >= STATUS[min_status]
            and rec.get("signature") == signature
        )

    def engine_done(self, db: str, table: str, engine: int, esig: str) -> bool:
        rec = self.get(db, table)
        e = rec.get("engines", {}).get(str(engine))
        return bool(e) and e.get("status") == "imported" and e.get("signature") == esig

    def engine_update(
        self, db: str, table: str, engine: int, status: str, **fields
    ) -> None:
        def mutate(rec):
            e = rec.setdefault("engines", {}).setdefault(str(engine), {})
            e["status"] = status
            e["updated_at"] = time.strftime("%Y-%m-%d %H:%M:%S")
            e.update(fields)

        self._rmw(self.table_key(db, table), mutate)

    def clear_engines(self, db: str, table: str) -> None:
        self._rmw(
            self.table_key(db, table),
            lambda rec: rec.pop("engines", None) is not None,
        )

    def remove(self, db: str | None = None, table: str | None = None) -> int:
        return self._delete(None if db is None else self.table_key(db, table))

    def dump(self) -> dict:
        return {"version": 1, "tables": self._items()}

    def tables(self) -> list[tuple[str, str, dict]]:
        """Snapshot of the table records as (db, table, rec), without the
        task record. Also reads plain `db.tbl` keys (hand-written files)."""
        out = []
        for key, rec in self._items().items():
            if key.startswith("`"):
                db, tbl = key[1:-1].split("`.`", 1)
            else:
                db, _, tbl = key.partition(".")
            if db != "__task__":  # the run's pinned-timestamp record
                out.append((db, tbl, rec))
        return out


class SQLiteCheckpointStore(CheckpointStore):
    """Database-backed checkpoint driver (reference's MySQL driver analog,
    checkpoints.go:69-175 DDL templates; ours is stdlib sqlite3).

    Same API and record shape as the JSON driver, but every operation is
    its own transaction against the DB file, so concurrent processes —
    a server-mode import and a `ctl` inspection, or two imports into the
    same warehouse — see consistent state instead of clobbering a shared
    JSON file. WAL mode keeps readers unblocked during updates."""

    def __init__(self, path: str):
        self.path = path
        with self._conn() as con:
            con.execute(
                "CREATE TABLE IF NOT EXISTS checkpoints ("
                " key TEXT PRIMARY KEY, rec TEXT NOT NULL)"
            )

    @contextlib.contextmanager
    def _conn(self):
        """One transaction (committed unless it raises), then close."""
        import sqlite3

        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        con = sqlite3.connect(self.path, timeout=30.0)
        try:
            con.execute("PRAGMA journal_mode=WAL")
            with con:
                yield con
        finally:
            con.close()

    def _load(self, key: str) -> dict:
        with self._conn() as con:
            row = con.execute(
                "SELECT rec FROM checkpoints WHERE key = ?", (key,)
            ).fetchone()
        return json.loads(row[0]) if row else {}

    def _rmw(self, key: str, mutate) -> None:
        """Read-modify-write under ONE write transaction (BEGIN IMMEDIATE
        takes the write lock before the read), so a concurrent server-mode
        import and a ctl process cannot interleave get()/put() and lose
        engine records."""
        with self._conn() as con:
            con.execute("BEGIN IMMEDIATE")
            row = con.execute(
                "SELECT rec FROM checkpoints WHERE key = ?", (key,)
            ).fetchone()
            rec = json.loads(row[0]) if row else {}
            if mutate(rec) is False:
                return
            con.execute(
                "INSERT INTO checkpoints (key, rec) VALUES (?, ?) "
                "ON CONFLICT(key) DO UPDATE SET rec = excluded.rec",
                (key, json.dumps(rec)),
            )

    def _delete(self, key: str | None) -> int:
        where, args = ("", ()) if key is None else (" WHERE key = ?", (key,))
        with self._conn() as con:
            return con.execute("DELETE FROM checkpoints" + where, args).rowcount

    def _items(self) -> dict:
        with self._conn() as con:
            rows = con.execute("SELECT key, rec FROM checkpoints").fetchall()
        return {k: json.loads(r) for k, r in rows}


class JDBCCheckpointStore(CheckpointStore):
    """Checkpoint-in-target-DB driver (the reference's MySQL checkpoint
    driver, checkpoints.go:69-175): records live in the TARGET database
    (`lightning_checkpoints.checkpoint`, one row per table, same JSON
    record shape as the file/sqlite drivers), so a resume can run from a
    DIFFERENT driver machine — the local stores die with the machine
    that started the import.

    Concurrency contract: in-process writers serialize on an RLock (the
    table-concurrency case); cross-machine access is resume-after-crash,
    not concurrent import, matching the reference's usage."""

    SCHEMA = "lightning_checkpoints"  # reference default checkpoint schema

    def __init__(self, spark, url: str, properties: dict | None = None):
        self.spark = spark
        self.url = url
        self.properties = dict(properties or {})
        self.path = f"{url} [{self.SCHEMA}.checkpoint]"  # ctl display
        self.dialect = "derby" if url.startswith("jdbc:derby") else "mysql"
        self._lock = threading.RLock()
        self._init_table()

    def _conn(self):
        from tidb_lightning_spark.sinks.jdbc_sink import _jdbc_connection

        return _jdbc_connection(self.spark, self.url, self.properties)

    def _init_table(self) -> None:
        from tidb_lightning_spark.sinks.jdbc_sink import execute_ddl

        t = f"{self.SCHEMA}.checkpoint"
        if self.dialect == "mysql":
            ddl = [
                f"CREATE DATABASE IF NOT EXISTS {self.SCHEMA}",
                f"CREATE TABLE IF NOT EXISTS {t} (k VARCHAR(191) NOT NULL"
                " PRIMARY KEY, rec LONGTEXT NOT NULL)",
            ]
        else:  # derby creates the schema implicitly on CREATE TABLE
            ddl = [
                f'CREATE TABLE {t} ("k" VARCHAR(512) NOT NULL PRIMARY KEY,'
                ' "rec" CLOB NOT NULL)'
            ]
        for sql in ddl:
            execute_ddl(
                self.spark, self.url, sql, self.properties, ignore_exists=True
            )

    def _sql(self, conn, template: str, *args: str):
        """One prepared statement over `{t}` / `{k}` / `{rec}` (the table
        and its quoted columns) with string parameters: a query returns
        its rows as tuples of strings, anything else its update count."""
        q = "`{}`" if self.dialect == "mysql" else '"{}"'
        ps = conn.prepareStatement(template.format(
            t=f"{self.SCHEMA}.checkpoint", k=q.format("k"), rec=q.format("rec"),
        ))
        try:
            for i, arg in enumerate(args, 1):
                ps.setString(i, arg)
            if not ps.execute():
                return int(ps.getUpdateCount())
            rs = ps.getResultSet()
            try:
                n = rs.getMetaData().getColumnCount()
                rows = []
                while rs.next():
                    rows.append(tuple(rs.getString(c) for c in range(1, n + 1)))
                return rows
            finally:
                rs.close()
        finally:
            ps.close()

    def _load(self, key: str) -> dict:
        with self._conn() as conn:
            rows = self._sql(conn, "SELECT {rec} FROM {t} WHERE {k} = ?", key)
        return json.loads(rows[0][0]) if rows else {}

    def _rmw(self, key: str, mutate) -> None:
        """Read-modify-write; in-process serialization via the RLock,
        UPDATE-else-INSERT upsert (portable across derby/mysql)."""
        with self._lock, self._conn() as conn:
            rows = self._sql(conn, "SELECT {rec} FROM {t} WHERE {k} = ?", key)
            rec = json.loads(rows[0][0]) if rows else {}
            if mutate(rec) is False:
                return
            body = json.dumps(rec)
            if not self._sql(
                conn, "UPDATE {t} SET {rec} = ? WHERE {k} = ?", body, key
            ):
                self._sql(
                    conn, "INSERT INTO {t} ({k}, {rec}) VALUES (?, ?)", key, body
                )

    def _delete(self, key: str | None) -> int:
        where, args = ("", ()) if key is None else (" WHERE {k} = ?", (key,))
        with self._lock, self._conn() as conn:
            return self._sql(conn, "DELETE FROM {t}" + where, *args)

    def _items(self) -> dict:
        with self._conn() as conn:
            rows = self._sql(conn, "SELECT {k}, {rec} FROM {t}")
        return {k: json.loads(r) for k, r in rows}


def open_checkpoint_store(
    target_dir: str,
    driver: str = "file",
    enabled: bool = True,
    spark=None,
    jdbc_url: str | None = None,
    jdbc_properties: dict | None = None,
) -> CheckpointStore:
    """Driver dispatch mirroring the reference's checkpoint.driver config
    (file / mysql -> here: file / sqlite / jdbc-in-target). Auto-detects
    an existing local store of either flavor so `ctl` works regardless
    of how the import ran; the jdbc driver needs the live session and
    target URL and is only reachable by explicit configuration. With
    `enabled=False` every driver gets the in-memory store: in-run reads
    still see this run's records, and no file or table is created."""
    if driver not in ("file", "sqlite", "jdbc", "auto"):
        raise ValueError(
            f"unknown checkpoint driver {driver!r} (file|sqlite|jdbc|auto)"
        )
    jpath = os.path.join(target_dir, "_tls_checkpoints.json")
    spath = os.path.join(target_dir, "_tls_checkpoints.sqlite")
    if not enabled:
        return CheckpointStore(jpath, enabled=False)
    if driver == "jdbc":
        if spark is None or not jdbc_url:
            raise ValueError(
                "checkpoint driver 'jdbc' needs a SparkSession and a "
                "jdbc-url (checkpoints live in the target database)"
            )
        return JDBCCheckpointStore(spark, jdbc_url, jdbc_properties)
    if driver == "auto":
        driver = "sqlite" if (
            os.path.exists(spath) and not os.path.exists(jpath)
        ) else "file"
    if driver == "sqlite":
        return SQLiteCheckpointStore(spath)
    return CheckpointStore(jpath)

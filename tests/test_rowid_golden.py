"""Golden `_tidb_rowid` values (reference chunk row-id allocation,
mydump/region.go:208-315): exact ids for a PK-less table whose files mix
every source format, and for the dense path an AUTO_INCREMENT column
takes. Any change to how bases are reserved or chained across formats,
files and partitions shows up here as a changed id."""

from __future__ import annotations

import os

from tidb_lightning_spark.config import Config
from tidb_lightning_spark.pipeline import Restorer


def write(path: str, content: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(content)


def _read(spark, d: str, tmp_path):
    cfg = Config.from_toml(
        None, source_dir=d, target_dir=str(tmp_path / "wh"),
        checkpoint_enable=False,
    )
    r = Restorer(spark, cfg)
    from tidb_lightning_spark.sources.loader import discover
    from tidb_lightning_spark.sources.router import FileRouter
    from tidb_lightning_spark.sources.table_filter import TableFilter

    res = discover(
        d,
        file_router=FileRouter.build(cfg.file_routes, cfg.default_file_rules),
        table_filter=TableFilter(cfg.filter, cfg.case_sensitive),
        table_router=None,
        no_schema=False,
    )
    tbl = res.sorted_tables()[0]
    return r._read_and_transform(tbl, r._table_info(tbl), rowid_base=7)


def test_mixed_format_pkless_rowids(spark, tmp_path):
    """JSONL, CSV, SQL-dump and parquet files of one PK-less table: each
    format's group starts where the previous group's reservation ended
    (byte-size bounds for the text formats, row counts for parquet)."""
    import pandas as pd

    d = str(tmp_path / "dump")
    write(f"{d}/g-schema-create.sql", "CREATE DATABASE g;")
    write(f"{d}/g.t-schema.sql", "CREATE TABLE t (v VARCHAR(20), n INT);")
    write(f"{d}/g.t.0.jsonl", '{"v": "j0", "n": 1}\n{"v": "j1", "n": 2}\n')
    write(f"{d}/g.t.1.csv", "v,n\nc0,1\nc1,2\nc2,3\n")
    write(
        f"{d}/g.t.2.sql",
        "INSERT INTO t VALUES ('s0',1),('s1',2);\n"
        "INSERT INTO t VALUES ('s2',3);\n",
    )
    write(f"{d}/g.t.3.sql", "INSERT INTO t (v, n) VALUES ('s3',4),('s4',5);\n")
    pd.DataFrame({"v": ["p0", "p1", "p2"], "n": [1, 2, 3]}).to_parquet(
        f"{d}/g.t.4.parquet"
    )
    pd.DataFrame({"v": ["p3", "p4"], "n": [4, 5]}).to_parquet(
        f"{d}/g.t.5.parquet"
    )
    df, next_base = _read(spark, d, tmp_path)
    got = {r["v"]: r["_tidb_rowid"] for r in df.collect()}
    assert got == {
        # 40 bytes // 2 columns + 1 = 21 ids from base 7
        "j0": 8, "j1": 9,
        # 19 bytes -> 10 ids; monotonic ids inside one partition
        "c0": 29, "c1": 30, "c2": 31,
        # per-file bases: 71 // (2 + 2) + 1 = 18 ids, then 47 -> 12 ids
        "s0": 39, "s1": 40, "s2": 41, "s3": 57, "s4": 58,
        # parquet reserves exact footer row counts: 3 then 2
        "p0": 69, "p1": 70, "p2": 71, "p3": 72, "p4": 73,
    }
    assert next_base == 73


def test_dense_auto_increment_rowids_across_partitions(spark, tmp_path):
    """An AUTO_INCREMENT column takes the dense allocation: ids are
    consecutive over partitions in order, and fill the column."""
    d = str(tmp_path / "dump")
    write(f"{d}/a-schema-create.sql", "CREATE DATABASE a;")
    write(
        f"{d}/a.t-schema.sql",
        "CREATE TABLE t (id INT PRIMARY KEY AUTO_INCREMENT, v VARCHAR(20));",
    )
    paths = [f"{d}/a.t.{k}.csv" for k in range(2)]
    for k, p in enumerate(paths):
        write(p, "v\n" + "".join(f"row{i:03d}\n" for i in range(30 * k, 30 * k + 30)))
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "128")
    try:
        # one partition per file (the reader's multiLine scan never
        # splits a file), so the ids span two partitions
        parts = spark.read.option("multiLine", "true").csv(paths)
        assert parts.rdd.getNumPartitions() == 2
        df, next_base = _read(spark, d, tmp_path)
        got = {r["v"]: r["id"] for r in df.collect()}
    finally:
        spark.conf.set(key, old)
    assert got == {f"row{i:03d}": 8 + i for i in range(60)}
    # one reservation for the group: text bytes // columns + 1
    assert next_base == 7 + 2 * len("v\n" + "row000\n" * 30) // 2 + 1

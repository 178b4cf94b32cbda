"""Checkpoint driver conformance: the file, SQLite and embedded-Derby JDBC
stores run one sequence of record operations and must agree on every
answer (reference checkpoints.go keeps the file and MySQL drivers
behind one interface)."""

from __future__ import annotations

import os

import pytest

from tidb_lightning_spark.checkpoints import STATUS, open_checkpoint_store

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _open(driver, tmp_path, spark=None, enabled=True):
    if driver == "jdbc":
        return open_checkpoint_store(
            str(tmp_path), driver="jdbc", enabled=enabled, spark=spark,
            jdbc_url=f"jdbc:derby:{tmp_path}/cpdb;create=true",
            jdbc_properties={"driver": DERBY_DRIVER},
        )
    return open_checkpoint_store(str(tmp_path), driver=driver, enabled=enabled)


def _sequence(store, reopen) -> list:
    """Every record operation once; returns the observable answers with
    the wall-clock `updated_at` stamps dropped."""

    def clean(rec):
        rec = {k: v for k, v in rec.items() if k != "updated_at"}
        if "engines" in rec:
            rec["engines"] = {
                k: {f: v for f, v in e.items() if f != "updated_at"}
                for k, e in rec["engines"].items()
            }
        return rec

    seen = []
    store.update("db", "t", "loaded", signature="sig1", rows=3)
    store.update("db", "u", "imported", signature="sig2")
    store.update("__task__", "__meta__", "loaded", pinned_ts="ts")
    seen.append(clean(store.get("db", "t")))
    assert store.get("db", "t")["status"] == STATUS["loaded"]
    assert store.get("db", "nope") == {}

    store.engine_update("db", "t", 0, "imported", signature="e0", files=2)
    store.engine_update("db", "t", 1, "imported", signature="e1")
    seen.append(clean(store.get("db", "t")))
    seen.append([
        store.engine_done("db", "t", 0, "e0"),
        store.engine_done("db", "t", 0, "WRONG"),
        store.engine_done("db", "t", 7, "e0"),
    ])

    store.clear_engines("db", "t")
    store.clear_engines("db", "absent")  # no record: nothing created
    rec = store.get("db", "t")
    assert "engines" not in rec
    # the table-level fields survive the engine read-modify-write
    assert rec["signature"] == "sig1" and rec["rows"] == 3
    seen.append(clean(rec))

    store.update("db", "t", "checksummed", signature="sig1")
    seen.append([
        store.should_skip("db", "t", "sig1", min_status="checksummed"),
        store.should_skip("db", "t", "sig1", min_status="analyzed"),
        store.should_skip("db", "t", "OTHER", min_status="checksummed"),
        store.status("db", "t"),
        store.status("db", "nope"),
    ])

    dump = store.dump()
    seen.append(sorted(dump["tables"]))
    seen.append(clean(dump["tables"]["`db`.`t`"]))
    # a fresh handle over the same storage sees the persisted state
    seen.append(reopen().dump() == dump)

    assert store.remove("db", "t") == 1
    assert store.remove("db", "t") == 0
    assert store.get("db", "t") == {}
    seen.append(store.remove())
    seen.append(store.dump()["tables"])
    return seen


@pytest.mark.parametrize("driver", ["file", "sqlite", "jdbc"])
def test_drivers_agree(driver, tmp_path, request):
    spark = request.getfixturevalue("spark") if driver == "jdbc" else None
    seen = _sequence(
        _open(driver, tmp_path, spark), lambda: _open(driver, tmp_path, spark)
    )
    assert seen == [
        {"status": 30, "status_name": "loaded", "signature": "sig1", "rows": 3},
        {"status": 30, "status_name": "loaded", "signature": "sig1", "rows": 3,
         "engines": {
             "0": {"status": "imported", "signature": "e0", "files": 2},
             "1": {"status": "imported", "signature": "e1"},
         }},
        [True, False, False],
        {"status": 30, "status_name": "loaded", "signature": "sig1", "rows": 3},
        [True, False, False, STATUS["checksummed"], 0],
        ["`__task__`.`__meta__`", "`db`.`t`", "`db`.`u`"],
        {"status": 180, "status_name": "checksummed", "signature": "sig1",
         "rows": 3},
        True,
        2,
        {},
    ]


@pytest.mark.parametrize("driver", ["file", "sqlite", "jdbc"])
def test_disabled_store_answers_in_run_and_writes_nothing(
    driver, tmp_path, request
):
    """With checkpoints off every driver keeps this run's records in
    memory: no JSON file, no SQLite DB, no Derby database or table."""
    spark = request.getfixturevalue("spark") if driver == "jdbc" else None
    store = _open(driver, tmp_path, spark, enabled=False)
    store.update("db", "t", "loaded", signature="s")
    store.engine_update("db", "t", 0, "imported", signature="e0")
    assert store.get("db", "t")["signature"] == "s"
    assert store.engine_done("db", "t", 0, "e0")
    assert store.remove() == 1
    assert os.listdir(tmp_path) == []


@pytest.mark.parametrize("driver", ["file", "sqlite"])
def test_tables_lists_table_records_only(driver, tmp_path):
    store = _open(driver, tmp_path)
    store.update("__task__", "__meta__", "loaded", pinned_ts="ts")
    store.update("db", "t", "imported")
    store.update("d.b", "t.x", "loaded")  # dots inside identifiers
    got = sorted((db, t, rec["status"]) for db, t, rec in store.tables())
    assert got == [("d.b", "t.x", 30), ("db", "t", 120)]

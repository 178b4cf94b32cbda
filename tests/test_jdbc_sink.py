"""JDBC sink policy tests (model: reference tidb_test.go REPLACE/IGNORE
semantics) — no database needed; policies are DataFrame transforms."""

from __future__ import annotations

import pytest

from tidb_lightning_spark.sinks.jdbc_sink import JDBCSink, apply_duplicate_policy


@pytest.fixture
def dup_df(spark):
    rows = [
        (1, "first", 10),
        (1, "second", 20),
        (2, "only", 30),
        (3, "a", 40),
        (3, "b", 50),
        (3, "c", 60),
    ]
    return spark.createDataFrame(rows, "id int, tag string, _tidb_rowid int")


def test_replace_keeps_last(spark, dup_df):
    out = apply_duplicate_policy(dup_df, ["id"], "replace", "_tidb_rowid")
    got = {r["id"]: r["tag"] for r in out.collect()}
    assert got == {1: "second", 2: "only", 3: "c"}


def test_ignore_keeps_first(spark, dup_df):
    out = apply_duplicate_policy(dup_df, ["id"], "ignore", "_tidb_rowid")
    got = {r["id"]: r["tag"] for r in out.collect()}
    assert got == {1: "first", 2: "only", 3: "a"}


def test_error_raises_on_dup(spark, dup_df):
    with pytest.raises(ValueError, match="duplicate primary key"):
        apply_duplicate_policy(dup_df, ["id"], "error")


def test_error_passes_when_unique(spark, dup_df):
    uniq = dup_df.dropDuplicates(["id"])
    out = apply_duplicate_policy(uniq, ["id"], "error")
    assert out.count() == 3


def test_merge_sql_shape():
    sql = JDBCSink.merge_sql("db", "t", "stg", ["id"], ["id", "a", "b"])
    assert "MERGE INTO db.t" in sql
    assert "t.id = s.id" in sql
    assert "UPDATE SET t.a = s.a, t.b = s.b" in sql


def test_jdbc_sink_against_embedded_derby(spark, dup_df, tmp_path):
    """End-to-end against a real database (reference golden tests
    backend/tidb_test.go): pyspark bundles Apache Derby, so the JDBC path
    is exercised embedded — resolve duplicates with each policy and
    write, composed the way the pipeline delivers (policy ordered by the
    row id, which is then dropped), read the target table back over
    JDBC, assert contents."""
    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    sink = JDBCSink(url, properties=props)

    def deliver(policy, table):
        out = apply_duplicate_policy(dup_df, ["id"], policy, "_tidb_rowid")
        sink.write_table(out.drop("_tidb_rowid"), "APP", table)

    deliver("replace", "t_replace")
    back = spark.read.jdbc(url, "APP.t_replace", properties=props)
    assert back.columns == ["id", "tag"]
    assert {r["id"]: r["tag"] for r in back.collect()} == {
        1: "second", 2: "only", 3: "c"
    }

    deliver("ignore", "t_ignore")
    back = spark.read.jdbc(url, "APP.t_ignore", properties=props)
    assert {r["id"]: r["tag"] for r in back.collect()} == {
        1: "first", 2: "only", 3: "a"
    }

    with pytest.raises(ValueError, match="duplicate primary key"):
        deliver("error", "t_error")

    # append semantics: a second replace-write adds rows at the DB level
    # (cross-batch upsert is the merge_sql path, database-specific)
    deliver("replace", "t_replace")
    assert (
        spark.read.jdbc(url, "APP.t_replace", properties=props).count() == 6
    )


def test_rebase_auto_increment_on_derby(spark, tmp_path):
    """L1/D2: post-load ALTER rebases the identity allocator so inserts
    after a bulk load skip past the loaded ids (reference
    restore/tidb.go:349-382), proven on embedded Derby."""
    url = f"jdbc:derby:{tmp_path}/rebasedb;create=true"
    jvm = spark._jvm
    jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute(
        "CREATE TABLE APP.T (ID INT GENERATED BY DEFAULT AS IDENTITY, "
        "V VARCHAR(10))"
    )
    # bulk-loaded rows with explicit ids 1..3 (the lightning path)
    for i in (1, 2, 3):
        st.execute(f"INSERT INTO APP.T (ID, V) VALUES ({i}, 'bulk')")

    JDBCSink.rebase_auto_increment(
        spark, url, "APP", "T", "ID", 1000,
        properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )
    st.execute("INSERT INTO APP.T (V) VALUES ('after')")
    rs = st.executeQuery("SELECT MAX(ID) FROM APP.T WHERE V = 'after'")
    rs.next()
    assert rs.getInt(1) >= 1000
    rs.close()
    st.close()
    conn.close()


# ---------------------------------------------------------------------------
# JDBC backend e2e: CSV dump -> Restorer.run() -> live Derby database
# (reference tidb backend selection restore.go:206-243 + tidb.go:370-419)
# ---------------------------------------------------------------------------

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _write(path, content):
    import os

    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(content)


@pytest.fixture
def jdbc_dump(tmp_path):
    d = str(tmp_path / "dump")
    _write(f"{d}/shop-schema-create.sql", "CREATE DATABASE IF NOT EXISTS shop;")
    _write(
        f"{d}/shop.people-schema.sql",
        """
        CREATE TABLE people (
            id INT PRIMARY KEY AUTO_INCREMENT,
            name VARCHAR(20) NOT NULL,
            score DECIMAL(6,2)
        );
        """,
    )
    _write(
        f"{d}/shop.people.csv",
        "name,score\nalice,10.50\nbob,\\N\ncara,3.25\n",
    )
    return d


def test_jdbc_backend_e2e_restore(spark, jdbc_dump, tmp_path):
    """Full pipeline into embedded Derby: schema replay (DDL), transform
    chain (auto-inc backfill, defaults), batched append, JDBC readback
    checksum, allocator rebase, checkpoint resume."""
    from tidb_lightning_spark.config import Config
    from tidb_lightning_spark.pipeline import Restorer

    url = f"jdbc:derby:{tmp_path}/pipedb;create=true"
    props = {"driver": DERBY_DRIVER}
    cfg = Config.from_toml(
        None,
        source_dir=jdbc_dump,
        target_dir=str(tmp_path / "state"),
        backend="jdbc",
        jdbc_url=url,
        jdbc_driver=DERBY_DRIVER,
    )
    rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    (trep,) = [t for t in rep.tables if t.table == "people"]
    assert trep.status == "imported"
    assert trep.rows == 3
    # checksum verified against the JDBC readback (I2/L2)
    assert trep.checksum is not None and trep.checksum["kvs"] == 3

    back = spark.read.jdbc(url, "shop.people", properties=props)
    rows = {r["name"]: r.asDict() for r in back.collect()}
    assert set(rows) == {"alice", "bob", "cara"}
    import decimal

    assert rows["alice"]["score"] == decimal.Decimal("10.50")
    assert rows["bob"]["score"] is None
    ids = sorted(r["id"] for r in rows.values())
    assert len(set(ids)) == 3 and all(i is not None for i in ids)

    # allocator rebase (L1/D2): a plain INSERT after the bulk load gets an
    # identity value past the loaded max — no collision
    jvm = spark._jvm
    jvm.java.lang.Class.forName(DERBY_DRIVER)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute('INSERT INTO shop.people ("name", "score") VALUES (\'dan\', 1.0)')
    rs = st.executeQuery('SELECT "id" FROM shop.people WHERE "name" = \'dan\'')
    rs.next()
    assert rs.getInt(1) > max(ids)
    rs.close()
    st.close()
    conn.close()

    # checkpoint resume: unchanged source is skipped (no duplicate append)
    rep2 = Restorer(spark, cfg).run()
    assert all(t.status == "skipped" for t in rep2.tables)
    assert (
        spark.read.jdbc(url, "shop.people", properties=props).count() == 4
    )


def test_backend_jdbc_requires_url(tmp_path):
    """backend=jdbc without a URL must be rejected at config time, never
    silently written to a parquet warehouse."""
    from tidb_lightning_spark.config import Config

    with pytest.raises(ValueError, match="jdbc-url"):
        Config.from_toml(
            None,
            source_dir=str(tmp_path),
            target_dir=str(tmp_path / "wh"),
            backend="jdbc",
        )


def test_jdbc_reimport_replaces_without_duplicates(spark, jdbc_dump, tmp_path):
    """Staged JDBC commit: a changed-source re-import lands in a staging
    table and swaps in — the target holds exactly the new source's rows,
    never old+new appended together, and no staging table is left."""
    from tidb_lightning_spark.config import Config
    from tidb_lightning_spark.pipeline import Restorer
    from tidb_lightning_spark.sinks.jdbc_sink import table_row_probe

    url = f"jdbc:derby:{tmp_path}/redb;create=true"
    props = {"driver": DERBY_DRIVER}
    cfg = Config.from_toml(
        None,
        source_dir=jdbc_dump,
        target_dir=str(tmp_path / "state"),
        backend="jdbc",
        jdbc_url=url,
        jdbc_driver=DERBY_DRIVER,
    )
    assert Restorer(spark, cfg).run().ok
    assert (
        spark.read.jdbc(url, "shop.people", properties=props).count() == 3
    )

    with open(f"{jdbc_dump}/shop.people.csv", "a") as f:
        f.write("dora,7.00\n")
    rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    back = spark.read.jdbc(url, "shop.people", properties=props)
    names = sorted(r["name"] for r in back.collect())
    assert names == ["alice", "bob", "cara", "dora"]  # replaced, not appended
    assert (
        table_row_probe(spark, url, "shop.people__tls_stg", props) is None
    )


def test_jdbc_on_duplicate_winner_follows_source_order(spark, tmp_path):
    """On the JDBC backend, `on-duplicate` picks its winner by source
    order: replace keeps the LAST occurrence of a primary key, ignore the
    FIRST. An integer PK used to drop the row id before the policy ran,
    so the window ordered by a constant and the winner was arbitrary."""
    from tidb_lightning_spark.config import Config
    from tidb_lightning_spark.pipeline import Restorer

    d = str(tmp_path / "dump")
    _write(f"{d}/shop-schema-create.sql", "CREATE DATABASE IF NOT EXISTS shop;")
    _write(
        f"{d}/shop.dups-schema.sql",
        "CREATE TABLE dups (id INT PRIMARY KEY, seq INT NOT NULL);",
    )
    # 2 files x 10 rounds over keys 1..10; seq numbers rows in source order
    seq = 0
    for part in range(2):
        values = []
        for _ in range(10):
            for k in range(1, 11):
                values.append(f"({k},{seq})")
                seq += 1
        _write(
            f"{d}/shop.dups.{part:03d}.sql",
            "INSERT INTO `dups` VALUES " + ",".join(values) + ";\n",
        )
    expected = {
        "replace": {k: 189 + k for k in range(1, 11)},  # last: file 1, round 9
        "ignore": {k: k - 1 for k in range(1, 11)},  # first: file 0, round 0
    }
    for policy, want in expected.items():
        url = f"jdbc:derby:{tmp_path}/dup_{policy};create=true"
        cfg = Config.from_toml(
            None,
            source_dir=d,
            target_dir=str(tmp_path / f"state_{policy}"),
            backend="jdbc",
            jdbc_url=url,
            jdbc_driver=DERBY_DRIVER,
            on_duplicate=policy,
        )
        rep = Restorer(spark, cfg).run()
        assert rep.ok, [t.error for t in rep.tables]
        back = spark.read.jdbc(
            url, "shop.dups", properties={"driver": DERBY_DRIVER}
        )
        got = {r["id"]: r["seq"] for r in back.collect()}
        assert got == want, policy

"""CSV charsets Spark decodes itself must not take the driver-side
transcode: it is a single-threaded copy on the driver, and on remote
storage it raises. Charsets Spark garbles must still take it, and Spark
is given the resolved charset, never the configured 'auto'."""

from __future__ import annotations

import os

import pytest

from tidb_lightning_spark.sources import csv_source
from tidb_lightning_spark.sources.csv_source import CSVConfig, read_csv_files

ROWS = [("1", "héllo"), ("2", "wörld, x")]


def _write_csv(path, encoding):
    body = "a,b\n" + "".join(f'{a},"{b}"\n' for a, b in ROWS)
    with open(path, "wb") as f:
        f.write(body.encode(encoding))
    return str(path)


def _no_transcode(monkeypatch):
    def boom(paths, charset):
        raise AssertionError(f"driver transcode of {paths} ({charset})")

    monkeypatch.setattr(csv_source, "transcode_to_utf8", boom)


@pytest.mark.parametrize(
    "charset, encoding, strict_format",
    [
        ("auto", "utf-8", False),
        ("latin1", "latin-1", False),
        ("binary", "latin-1", True),
        ("utf-16le", "utf-16-le", False),
    ],
)
def test_native_charset_reads_without_transcode(
    spark, tmp_path, monkeypatch, charset, encoding, strict_format
):
    path = _write_csv(tmp_path / "t.csv", encoding)
    _no_transcode(monkeypatch)
    cfg = CSVConfig(character_set=charset, strict_format=strict_format)
    df, header, *_ = read_csv_files(spark, [path], cfg)
    assert header == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == ROWS


def test_utf16_strict_format_is_transcoded(spark, tmp_path):
    """strict-format scans split lines at 0x0A bytes, which utf-16 puts
    inside characters: Spark's own decode garbles every row there."""
    path = _write_csv(tmp_path / "t.csv", "utf-16")
    cfg = CSVConfig(character_set="utf-16", strict_format=True)
    df, *_ = read_csv_files(spark, [path], cfg)
    assert sorted(tuple(r) for r in df.collect()) == ROWS


def test_blob_csv_reads_byte_preserving_without_transcode(
    spark, tmp_path, monkeypatch
):
    """A utf-8 CSV into a table with a binary column is read as latin-1
    by Spark itself: the blob keeps its raw 0xFF byte, the text column
    is decoded back to utf-8, and nothing is copied on the driver. (The
    data has no doubled quote, so the scan stays on Spark's lexer.)"""
    from tidb_lightning_spark.config import Config
    from tidb_lightning_spark.pipeline import Restorer

    d = tmp_path / "dump"
    os.makedirs(d)
    (d / "s-schema-create.sql").write_text("CREATE DATABASE s;")
    (d / "s.t-schema.sql").write_text(
        "CREATE TABLE t (a INT PRIMARY KEY, b VARCHAR(10), c BLOB);"
    )
    (d / "s.t.csv").write_bytes(b'1,"h\xc3\xa9","x\xffy"\n2,"w","z"\n')
    _no_transcode(monkeypatch)
    cfg = Config.from_toml(
        None, source_dir=str(d), target_dir=str(tmp_path / "wh"),
        checkpoint_enable=False, csv=CSVConfig(header=False),
    )
    rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    got = sorted(
        (r["a"], r["b"], bytes(r["c"]))
        for r in spark.read.parquet(str(tmp_path / "wh" / "s" / "t")).collect()
    )
    assert got == [(1, "hé", b"x\xffy"), (2, "w", b"z")]

"""Seeded input generator for the benchmark.

Two kinds of input, both written under a cache directory keyed by
(seed, kind) and reused by later runs with the same seed:

* ``lineitem_dump``: a mydumper-style dump of lineitem tables, each as
  ``files`` distinct data files in one format (``csv``, ``sql`` or
  ``parquet``); tables with the same file and order counts hold the same
  rows.  File ``i`` holds a disjoint order-key range, so
  ``(l_orderkey, l_linenumber)`` is unique across a table, and the row
  order inside each file is shuffled by the seed.
* ``registry_tables``: the ten parquet tables the query registry reads
  (``region nation customer supplier part orders lineitem events
  documents embeddings``), with the column names and types the
  registry expects.

Everything is a pure function of the seed; nothing here starts Spark.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

LINEITEM_COLUMNS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate",
]

LINEITEM_DDL = """CREATE TABLE `{table}` (
    l_orderkey BIGINT NOT NULL,
    l_partkey BIGINT NOT NULL,
    l_suppkey BIGINT NOT NULL,
    l_linenumber INT NOT NULL,
    l_quantity DECIMAL(12,2) NOT NULL,
    l_extendedprice DECIMAL(12,2) NOT NULL,
    l_discount DECIMAL(12,2) NOT NULL,
    l_tax DECIMAL(12,2) NOT NULL,
    l_returnflag CHAR(1) NOT NULL,
    l_linestatus CHAR(1) NOT NULL,
    l_shipdate DATETIME NOT NULL,
    PRIMARY KEY (l_orderkey, l_linenumber)
);
"""

DB = "bench"
READY = "_ready.json"

_EPOCH_1992 = 694224000  # 1992-01-01 00:00:00 UTC
_SPAN_7Y = 7 * 365 * 86400


def _money(cents: np.ndarray) -> pa.Array:
    """Integer cents -> exact 'D.CC' strings."""
    whole = pc.cast(pa.array(cents // 100), pa.string())
    frac = pc.utf8_lpad(pc.cast(pa.array(cents % 100), pa.string()), 2, "0")
    return pc.binary_join_element_wise(whole, frac, ".")


def lineitem_rows(seed: int, file_index: int, orders: int) -> dict:
    """Rows of one dump file as numpy columns (money as integer cents).

    Order keys of file ``i`` are ``[i * orders, (i + 1) * orders)``; each
    order has 1..7 line numbers, so the primary key is unique across
    files by construction."""
    rng = np.random.default_rng([seed, file_index])
    lines = rng.integers(1, 8, size=orders)
    n = int(lines.sum())
    okey = np.repeat(np.arange(orders, dtype=np.int64) + file_index * orders, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, size=n).astype(np.int64) * 100
    price = rng.integers(90000, 200000, size=n).astype(np.int64)
    cols = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, 20000, size=n).astype(np.int64),
        "l_suppkey": rng.integers(0, 1000, size=n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": qty // 100 * price,
        "l_discount": rng.integers(0, 11, size=n).astype(np.int64),
        "l_tax": rng.integers(0, 9, size=n).astype(np.int64),
        "l_returnflag": np.array(list("ANR"))[rng.integers(0, 3, size=n)],
        "l_linestatus": np.array(list("OF"))[rng.integers(0, 2, size=n)],
        "l_shipdate": _EPOCH_1992 + rng.integers(0, _SPAN_7Y, size=n),
    }
    order = rng.permutation(n)
    return {k: v[order] for k, v in cols.items()}


_MONEY = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _text_columns(cols: dict) -> dict:
    """Every column as an Arrow string array, in MySQL literal text."""
    out = {}
    for k, v in cols.items():
        if k in _MONEY:
            out[k] = _money(v)
        elif k == "l_shipdate":
            ts = pa.array(v, pa.timestamp("s"))
            out[k] = pc.strftime(ts, "%Y-%m-%d %H:%M:%S")
        else:
            out[k] = pc.cast(pa.array(v), pa.string())
    return out


def _write_csv(path: str, cols: dict) -> None:
    text = _text_columns(cols)
    tbl = pa.table({k: text[k] for k in LINEITEM_COLUMNS})
    pacsv.write_csv(
        tbl, path, pacsv.WriteOptions(include_header=True, quoting_style="none")
    )


def _write_sql(path: str, cols: dict, table: str, batch: int = 1000) -> None:
    text = _text_columns(cols)
    fields = [
        pc.binary_join_element_wise("'", text[k], "'", "")
        if k in ("l_returnflag", "l_linestatus", "l_shipdate") else text[k]
        for k in LINEITEM_COLUMNS
    ]
    rows = pc.binary_join_element_wise("(", pc.binary_join_element_wise(*fields, ","), ")", "")
    rows = rows.to_pylist()
    with open(path, "w") as f:
        f.write("/*!40101 SET NAMES binary*/;\n")
        for s in range(0, len(rows), batch):
            f.write(f"INSERT INTO `{table}` VALUES\n")
            f.write(",\n".join(rows[s:s + batch]))
            f.write(";\n")


def _write_parquet(path: str, cols: dict) -> None:
    text = _text_columns(cols)
    dec = pa.decimal128(12, 2)
    arrays = {
        "l_orderkey": pa.array(cols["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(cols["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(cols["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(cols["l_linenumber"], pa.int32()),
        **{k: text[k].cast(dec) for k in _MONEY},
        "l_returnflag": text["l_returnflag"],
        "l_linestatus": text["l_linestatus"],
        "l_shipdate": pa.array(cols["l_shipdate"] * 1_000_000, pa.timestamp("us")),
    }
    tbl = pa.table({k: arrays[k] for k in LINEITEM_COLUMNS})
    # several row groups per file, so byte-range splits engage as on
    # production-sized parquet
    pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows // 4))


def _publish(tmp: str, out: str, meta: dict) -> dict:
    with open(os.path.join(tmp, READY), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return meta


def _cached(out: str) -> dict | None:
    try:
        with open(os.path.join(out, READY)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def lineitem_dump(cache: str, seed: int, tables: list) -> dict:
    """Write (or reuse) one dump dir holding every table in ``tables``, a
    list of ``(table, format, files, orders)``.  Returns the manifest:
    ``dir``, ``db`` and per table its ``format``, ``files``, ``rows`` and
    ``bytes`` (data files only)."""
    tag = "_".join(f"{t}-{fmt}-f{n}-o{o}" for t, fmt, n, o in tables)
    out = os.path.join(cache, f"dump_s{seed}_{tag}")
    meta = _cached(out)
    if meta is not None:
        return meta
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with open(os.path.join(tmp, f"{DB}-schema-create.sql"), "w") as f:
        f.write(f"CREATE DATABASE IF NOT EXISTS {DB};\n")
    meta = {"dir": out, "db": DB, "seed": seed, "tables": {}}
    for table, fmt, files, orders in tables:
        with open(os.path.join(tmp, f"{DB}.{table}-schema.sql"), "w") as f:
            f.write(LINEITEM_DDL.format(table=table))
        rows = size = 0
        for i in range(files):
            cols = lineitem_rows(seed, i, orders)
            path = os.path.join(tmp, f"{DB}.{table}.{i:03d}.{fmt}")
            if fmt == "csv":
                _write_csv(path, cols)
            elif fmt == "sql":
                _write_sql(path, cols, table)
            else:
                _write_parquet(path, cols)
            rows += len(cols["l_orderkey"])
            size += os.path.getsize(path)
        meta["tables"][table] = {
            "format": fmt, "files": files, "rows": rows, "bytes": size,
        }
    return _publish(tmp, out, meta)


# ---------------------------------------------------------------------------
# registry tables
# ---------------------------------------------------------------------------

_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "the line sort window order data column join small customer query "
    "big filter group stream a index shard page cache log"
).split()


def _docs(rng, n: int) -> pa.Table:
    """Word-salad documents; a quarter are light edits of an earlier
    document, so the near-duplicate miners have pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i >= 8 and rng.random() < 0.25:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [
                _WORDS[w]
                for w in rng.integers(0, len(_WORDS), size=int(rng.integers(20, 80)))
            ]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "de", "fr"])[rng.integers(0, 3, size=n)]),
        "source": pa.array(np.char.add("src", rng.integers(0, 4, size=n).astype(str))),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64, labels: int = 8) -> pa.Table:
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, size=n)
    vec = centers[label] + 0.35 * rng.normal(size=(n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def _ts(secs: np.ndarray) -> pa.Array:
    return pa.array(secs.astype(np.int64) * 1_000_000, pa.timestamp("us"))


def registry_tables(cache: str, seed: int, scale: int) -> dict:
    """Write (or reuse) the registry's input tables.  ``scale`` is the
    lineitem row count; the other tables keep TPC-H-like ratios to it."""
    out = os.path.join(cache, f"registry_s{seed}_n{scale}")
    meta = _cached(out)
    if meta is not None:
        return meta
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, 7919])
    n_li, n_ord = scale, scale // 4
    n_cust, n_part, n_supp = max(n_ord // 10, 10), max(scale // 30, 10), 100
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, size=n), 2)  # noqa: E731
    okey = rng.integers(0, n_ord, size=n_li)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust).astype(np.int32)),
            "c_acctbal": pa.array(money(-999, 9999, n_cust)),
            "c_mktsegment": pa.array(np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, size=n_cust)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp).astype(np.int32)),
            "s_acctbal": pa.array(money(-999, 9999, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(np.char.add(
                np.array(["small ", "red ", "large ", "blue "])[rng.integers(0, 4, size=n_part)],
                np.array(["ring", "widget", "bolt", "gear"])[rng.integers(0, 4, size=n_part)],
            )),
            "p_brand": pa.array(
                np.char.add("Brand#", rng.integers(1, 26, size=n_part).astype(str))
            ),
            "p_type": pa.array(np.array(
                ["ECONOMY", "STANDARD", "PROMO", "LARGE"]
            )[rng.integers(0, 4, size=n_part)]),
            "p_size": pa.array(rng.integers(1, 51, size=n_part).astype(np.int32)),
            "p_retailprice": pa.array(money(900, 2000, n_part)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(list("OFP"))[rng.integers(0, 3, size=n_ord)]),
            "o_totalprice": pa.array(money(1000, 500000, n_ord)),
            "o_orderdate": _ts(
                _EPOCH_1992 + rng.integers(0, _SPAN_7Y // 86400, size=n_ord) * 86400
            ),
            "o_orderpriority": pa.array(np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, size=n_ord)]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, size=n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, size=n_li).astype(np.float64)),
            "l_extendedprice": pa.array(money(900, 100000, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100.0),
            "l_returnflag": pa.array(np.array(list("ANR"))[rng.integers(0, 3, size=n_li)]),
            "l_linestatus": pa.array(np.array(list("OF"))[rng.integers(0, 2, size=n_li)]),
            "l_shipdate": _ts(_EPOCH_1992 + rng.integers(0, _SPAN_7Y // 86400, size=n_li) * 86400),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(scale // 6), pa.int64()),
            "ts": _ts(1704067200 + np.sort(rng.integers(0, 30 * 86400, size=scale // 6))),
            "user_id": pa.array(rng.integers(0, 200, size=scale // 6), pa.int64()),
            "event_type": pa.array(np.array(
                ["click", "view", "purchase", "error"]
            )[rng.integers(0, 4, size=scale // 6)]),
            "value": pa.array(money(0, 100, scale // 6)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=scale // 6)]),
        }),
        "documents": _docs(rng, 500),
        "embeddings": _embeddings(rng, 500),
    }
    size = 0
    for name, tbl in tables.items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(tbl, path)
        size += os.path.getsize(path)
    meta = {
        "dir": out, "seed": seed, "bytes": size,
        "rows": {k: v.num_rows for k, v in tables.items()},
    }
    return _publish(tmp, out, meta)

"""Local parquet part-file listing shared by the source probes and the
registry's footer helpers: flat and nested (partitioned) table dirs."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from tidb_lightning_spark.plans.queries import (
    _first_parquet_batch,
    _footer_num_row_groups,
    _footer_num_rows,
)


def _write_parts(root, subdirs):
    t = pa.table({"k": list(range(100))})
    for sub in subdirs:
        d = os.path.join(root, sub)
        os.makedirs(d, exist_ok=True)
        pq.write_table(t, os.path.join(d, "part-0.parquet"), row_group_size=25)


def test_nested_table_dir_counts_every_part_file(tmp_path):
    """A partitioned table dir keeps its part files below the top level.
    The row-group count (widen()'s scan-parallelism cap) must see them
    instead of reading 0, clamping to 1 and forcing a needless
    repartition."""
    path = str(tmp_path / "tbl")
    _write_parts(path, ["p=0", "p=1"])
    assert _footer_num_row_groups(path) == 8
    assert _footer_num_rows(path) == 200
    assert _first_parquet_batch(path, ["k"]).num_rows == 1


def test_flat_and_single_file_layouts(tmp_path):
    from tidb_lightning_spark.sources.parquet_source import (
        local_parquet_files,
    )

    flat = str(tmp_path / "flat")
    _write_parts(flat, [""])
    assert local_parquet_files(flat) == [os.path.join(flat, "part-0.parquet")]
    assert _footer_num_row_groups(flat) == 4
    single = os.path.join(flat, "part-0.parquet")
    assert local_parquet_files(single) == [single]
    assert _footer_num_rows(single) == 100
    empty = tmp_path / "empty"
    empty.mkdir()
    assert _footer_num_row_groups(str(empty)) == 1

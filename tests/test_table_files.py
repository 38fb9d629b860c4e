"""The Parquet file layer shared by Delta and Iceberg
(``sources/table_files.py``): Hive-escaped partition values survive
staging, the log/manifest and the ``_metadata`` scan keys of both
formats' DML; the footer fold across row groups feeds both formats'
file statistics."""

from __future__ import annotations

import datetime
import json

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

# Spark escapes ':' '%' '=' in partition directory names and writes NULL
# as __HIVE_DEFAULT_PARTITION__; '+' and non-ASCII stay literal
VALUES = ["a:b", "50%", "x=y", "a+b", "Москва", None]


def _rows(df):
    return sorted(
        ((r.id, r.s, r.v) for r in df.select("id", "s", "v").collect()),
        key=lambda t: t[0],
    )


def _delta_ops():
    from etl_processing_scd1_spark.sources import delta

    def partition_values(path):
        adds = []
        for v in range(delta.delta_table_version(path) + 1):
            with open(delta._commit_file(path, v)) as fh:
                adds += [a["add"] for a in map(json.loads, fh) if "add" in a]
        return [a["partitionValues"]["s"] for a in adds]

    def clone_read(spark, src, tmp_path):
        dst = str(tmp_path / "clone")
        delta.clone_delta_table(spark, src, dst)
        return delta.read_delta_table(spark, dst)

    return dict(
        fmt="deltalog",
        write=lambda df, p: delta.write_delta_table(df, p, partition_by=["s"]),
        read=delta.read_delta_table,
        update=delta.update_delta_rows,
        delete=delta.delete_delta_rows,
        partition_values=partition_values,
        clone_read=clone_read,
    )


def _iceberg_ops():
    from etl_processing_scd1_spark.sources import iceberg

    def snapshot(path):
        return iceberg._snapshot_files(path, iceberg._load_metadata(path), None)

    def partition_values(path):
        return [part["s"] for _p, part, _s in snapshot(path)[1]]

    def clone_read(spark, src, tmp_path):
        # the format's zero-copy registration of existing files
        # (add_files) over a Spark-written Hive layout of the same rows
        layout = str(tmp_path / "layout")
        iceberg.read_iceberg_table(spark, src).write.partitionBy("s").parquet(
            layout
        )
        dst = str(tmp_path / "registered")
        iceberg.add_parquet_files_iceberg(spark, layout, dst)
        return iceberg.read_iceberg_table(spark, dst)

    return dict(
        fmt="iceberglog",
        write=lambda df, p: iceberg.write_iceberg_table(df, p, partition_by=["s"]),
        read=iceberg.read_iceberg_table,
        update=iceberg.update_iceberg_rows,
        delete=iceberg.delete_iceberg_rows,
        partition_values=partition_values,
        clone_read=clone_read,
        snapshot=snapshot,
    )


@pytest.mark.parametrize("ops", [_delta_ops, _iceberg_ops], ids=["delta", "iceberg"])
def test_hive_escaped_partition_values(spark, tmp_path, ops):
    from etl_processing_scd1_spark.sources import ensure_datasources

    ensure_datasources(spark)
    ops = ops()
    path = str(tmp_path / "t")
    ops["write"](
        spark.createDataFrame(
            [(i, s, 10 * i) for i, s in enumerate(VALUES)],
            "id long, s string, v long",
        ),
        path,
    )
    want = [(i, s, 10 * i) for i, s in enumerate(VALUES)]
    assert _rows(ops["read"](spark, path)) == want
    assert _rows(spark.read.format(ops["fmt"]).load(path)) == want
    # the log / manifest records the raw values, NULL as null
    got = ops["partition_values"](path)
    assert len(got) == len(VALUES) and set(got) == set(VALUES)

    ops["update"](spark, path, "s = 'a:b'", {"v": "-1"})
    want[0] = (0, "a:b", -1)
    assert _rows(ops["read"](spark, path)) == want
    ops["delete"](spark, path, "s = 'a:b'")
    want = want[1:]
    assert _rows(ops["read"](spark, path)) == want
    assert _rows(spark.read.format(ops["fmt"]).load(path)) == want
    assert _rows(ops["clone_read"](spark, path, tmp_path)) == want

    if "snapshot" in ops:
        # position deletes name the data file by its manifest path
        _, files, deletes = ops["snapshot"](path)
        data_paths = {p for p, _part, _seq in files}
        targets = {
            p
            for d in deletes if d["content"] == 1
            for p in pq.read_table(d["path"]).column("file_path").to_pylist()
        }
        assert targets and targets <= data_paths
        assert any("%3A" in p for p in targets)


def test_footer_fold_across_row_groups(tmp_path):
    """One fold over a 2-row-group file: min/max across groups, null
    counts summed (an all-NULL group included), nested leaves skipped;
    Delta stats and Iceberg bounds both serialize it."""
    from etl_processing_scd1_spark.sources.delta import _stats_json
    from etl_processing_scd1_spark.sources.iceberg import (
        _decode_bound,
        _footer_bounds,
    )
    from etl_processing_scd1_spark.sources.table_files import footer_stats

    day = datetime.date(2024, 1, 1)
    tbl = pa.table({
        "id": pa.array([4, 5, 6, 1, 2, 3], pa.int64()),
        "amt": pa.array([7, None, 3, None, 9, None], pa.int64()),
        "sparse": pa.array([None, None, None, 8, None, 2], pa.int64()),
        "name": pa.array(["m", None, "q", "b", "z", "k"]),
        "d": pa.array(
            [day + datetime.timedelta(days=k) for k in (5, 3, 4, 9, 0, 1)],
            pa.date32(),
        ),
        "nested": pa.array(
            [{"x": k} for k in range(6)], pa.struct([("x", pa.int64())])
        ),
    })
    f = str(tmp_path / "two_groups.parquet")
    pq.write_table(tbl, f, row_group_size=3)
    assert pq.read_metadata(f).num_row_groups == 2

    fs = footer_stats(f)
    assert json.loads(_stats_json(fs)) == {
        "numRecords": 6,
        "minValues": {"id": 1, "amt": 3, "sparse": 2, "name": "b",
                      "d": "2024-01-01"},
        "maxValues": {"id": 6, "amt": 9, "sparse": 8, "name": "z",
                      "d": "2024-01-10"},
        "nullCount": {"id": 0, "amt": 3, "sparse": 4, "name": 1, "d": 0},
    }

    ice = {"id": "long", "amt": "long", "sparse": "long", "name": "string",
           "d": "date"}
    ids = {"id": 1, "amt": 2, "sparse": 3, "name": 4, "d": 5, "nested": 6}
    lo, hi = _footer_bounds(fs, ids, ice)
    by_id = {v: k for k, v in ids.items()}

    def decoded(bounds):
        return {
            by_id[b["key"]]: _decode_bound(b["value"], ice[by_id[b["key"]]])
            for b in bounds
        }

    epoch = datetime.date(1970, 1, 1)
    assert decoded(lo) == {"id": 1, "amt": 3, "sparse": 2, "name": "b",
                           "d": (day - epoch).days}
    assert decoded(hi) == {"id": 6, "amt": 9, "sparse": 8, "name": "z",
                           "d": (day - epoch).days + 9}

"""One row-level DML contract over both table formats
(``sources/row_dml.py`` over the Delta and Iceberg ``TableLog``
adapters): DELETE / UPDATE / MERGE behave the same whichever format
encodes the result — no-op commits write nothing, unknown SET columns
raise, kills merge into one live deletion vector per data file, and
the Spark job count of each statement stays pinned."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_processing_scd1_spark.sources.delta import (
    _replay,
    delete_delta_rows,
    enable_row_tracking,
    merge_delta_table,
    read_deletion_vector,
    read_delta_table,
    update_delta_rows,
    write_delta_table,
)
from etl_processing_scd1_spark.sources.iceberg import (
    _load_metadata,
    _snapshot_files,
    delete_iceberg_rows,
    read_iceberg_table,
    update_iceberg_rows,
    upgrade_iceberg_format_version,
    write_iceberg_table,
)
from etl_processing_scd1_spark.sources.puffin import decode_dv_blob, read_blob

from .conftest import spark_jobs

FORMATS = ["delta", "iceberg_v2", "iceberg_v3"]

#: Spark jobs one statement runs on the 10-row, one-file tables below
#: (``delta_rt``: with row tracking), at most as many as before the DML
#: layer was shared (then: delta_rt update 10, all others equal) although
#: rewritten rows now keep their row ids: ids come from per-file
#: constants, not from a broadcast join. Both formats plan their scan
#: from table metadata alone (no footer-inference job), so an Iceberg
#: DELETE runs as many jobs as a Delta one.
JOBS = {
    "delta": {"delete": 2, "update": 7},
    "delta_rt": {"delete": 2, "update": 7},
    "iceberg_v2": {"delete": 2, "update": 5},
    "iceberg_v3": {"delete": 2, "update": 5},
}
#: merge_delta_table of 1 changed + 1 new key against that table
MERGE_JOBS = 22


def _df(spark, lo, hi):
    return spark.range(lo, hi, numPartitions=1).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def _table(spark, tmp_path, fmt):
    path = str(tmp_path / fmt)
    if fmt.startswith("delta"):
        write_delta_table(_df(spark, 0, 10), path)
        if fmt == "delta_rt":
            enable_row_tracking(spark, path)
    elif fmt == "iceberg_v2":
        write_iceberg_table(_df(spark, 0, 10), path)
        upgrade_iceberg_format_version(path, 2)
    else:
        # rows appended after the upgrade carry v3 row lineage
        write_iceberg_table(_df(spark, 0, 0), path)
        upgrade_iceberg_format_version(path, 3)
        write_iceberg_table(_df(spark, 0, 10), path, mode="append")
    return path


def _ops(fmt):
    if fmt.startswith("delta"):
        return delete_delta_rows, update_delta_rows, read_delta_table
    return delete_iceberg_rows, update_iceberg_rows, read_iceberg_table


def _files(path):
    return sorted(
        os.path.join(root, f) for root, _d, fs in os.walk(path) for f in fs
    )


def _dead_positions(spark, fmt, path) -> dict[str, list[set[int]]]:
    """data file → the position set of each LIVE deletion vector (or,
    on Iceberg v2, each position-delete file) naming it."""
    out: dict[str, list[set[int]]] = {}
    if fmt == "delta":
        snap = _replay(spark, path, None)
        for rel, add in snap.files.items():
            if add.get("deletionVector"):
                out.setdefault(rel, []).append(
                    set(read_deletion_vector(path, add["deletionVector"]))
                )
        return out
    meta = _load_metadata(path, None)
    _sid, _files_, deletes = _snapshot_files(path, meta, None, None)
    for d in deletes:
        if d.get("dv"):
            out.setdefault(d["dv"]["referenced"], []).append(set(
                decode_dv_blob(read_blob(
                    d["path"], d["dv"]["offset"], d["dv"]["size"]
                ))
            ))
        else:
            import pyarrow.parquet as pq

            t = pq.read_table(d["path"], columns=["file_path", "pos"])
            for fp, pos in zip(t.column("file_path").to_pylist(),
                               t.column("pos").to_pylist()):
                out.setdefault(fp, [set()])[0].add(int(pos))
    return out


@pytest.mark.parametrize("fmt", FORMATS)
def test_no_match_commits_nothing(spark, tmp_path, fmt):
    delete, update, _read = _ops(fmt)
    path = _table(spark, tmp_path, fmt)
    before = _files(path)
    v = delete(spark, path, "k = 99")
    assert update(spark, path, "k = 99", {"v": "0"}) == v
    assert _files(path) == before
    with pytest.raises(ValueError, match="nope"):
        update(spark, path, "k = 1", {"nope": "1"})
    assert _files(path) == before


@pytest.mark.parametrize("fmt", FORMATS)
def test_delete_then_update_merges_positions(spark, tmp_path, fmt):
    delete, update, read = _ops(fmt)
    path = _table(spark, tmp_path, fmt)
    delete(spark, path, "k = 3")
    update(spark, path, "k = 6", {"v": "-1"})
    rows = {r.k: r.v for r in read(spark, path).collect()}
    assert rows == {
        k: (-1 if k == 6 else k * 10) for k in range(10) if k != 3
    }
    dead = _dead_positions(spark, fmt, path)
    assert len(dead) == 1                      # the one original data file
    (kills,) = dead.values()
    if fmt != "iceberg_v2":                    # v2 keeps delete FILES apart
        assert len(kills) == 1                 # one live DV per data file
    assert set().union(*kills) == {3, 6}


@pytest.mark.parametrize("fmt", [*FORMATS, "delta_rt"])
def test_statement_job_counts(spark, tmp_path, fmt):
    delete, update, _read = _ops(fmt)
    path = _table(spark, tmp_path, fmt)
    assert spark_jobs(spark, lambda: delete(spark, path, "k = 2")) \
        <= JOBS[fmt]["delete"]
    assert spark_jobs(
        spark, lambda: update(spark, path, "k = 5", {"v": "7"})
    ) <= JOBS[fmt]["update"]
    if fmt.startswith("delta"):
        src = spark.createDataFrame([(5, 8), (42, 420)], "k long, v long")
        assert spark_jobs(
            spark, lambda: merge_delta_table(spark, src, path, ["k"])
        ) <= MERGE_JOBS


@pytest.mark.parametrize("fmt", ["delta", "iceberg_v3"])
def test_dv_free_read_plan_has_no_metadata_column(spark, tmp_path, fmt):
    _delete, _update, read = _ops(fmt)
    path = _table(spark, tmp_path, fmt)
    plan = read(spark, path)._jdf.queryExecution().optimizedPlan().toString()
    assert "_metadata" not in plan
    assert "Join" not in plan

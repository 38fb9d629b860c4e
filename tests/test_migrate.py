"""In-place migration of existing parquet layouts into the lakehouse
formats: ``convert_parquet_to_delta`` (CONVERT TO DELTA) and
``add_parquet_files_iceberg`` (the snapshot / add_files procedures).
No data file is read, moved, or rewritten — footers only, scanned
executor-side (`table_files.scan_footers_distributed`). The migrated tables must
be full citizens: stats/bounds pruning from the first commit, DML,
upsert (Iceberg resolves the foreign id-less files via
``schema.name-mapping.default``), and byte-identical reads through
the independent spec-replay readers of tests/test_spec_interop.py."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_processing_scd1_spark.sources.delta import (
    convert_parquet_to_delta,
    delete_delta_rows,
    delta_plan_files,
    read_delta_table,
    write_delta_table,
)
from etl_processing_scd1_spark.sources.iceberg import (
    IcebergProtocolError,
    add_parquet_files_iceberg,
    iceberg_plan_files,
    read_iceberg_table,
    upsert_iceberg_table,
)


def _orders(spark, parity=None):
    df = spark.range(0, 300).select(
        F.col("id").alias("k"),
        (F.col("id") * 7 % 1000).alias("v"),
        (F.col("id") % 3).cast("string").alias("part"),
    )
    if parity is not None:
        df = df.filter(F.col("k") % 2 == parity)
    return df


class TestConvertToDelta:
    def test_partitioned_convert_round_trip(self, spark, tmp_path):
        p = str(tmp_path / "t")
        _orders(spark).write.partitionBy("part").parquet(p)
        assert convert_parquet_to_delta(
            spark, p, partition_schema={"part": "string"}
        ) == 0
        got = read_delta_table(spark, p)
        assert got.count() == 300
        assert dict(got.dtypes)["part"] == "string"
        assert sorted(
            (r.part, r.cnt) for r in
            got.groupBy("part").agg(F.count(F.lit(1)).alias("cnt")).collect()
        ) == [("0", 100), ("1", 100), ("2", 100)]

    def test_stats_prune_from_first_commit(self, spark, tmp_path):
        p = str(tmp_path / "t")
        _orders(spark).write.partitionBy("part").parquet(p)
        convert_parquet_to_delta(spark, p, partition_schema={"part": "string"})
        # impossible range → every file pruned by footer stats
        assert delta_plan_files(p, predicates={"k": (10**9, None)}) == []
        assert len(delta_plan_files(p)) > 0

    def test_converted_table_is_a_full_citizen(self, spark, tmp_path):
        p = str(tmp_path / "t")
        _orders(spark).write.partitionBy("part").parquet(p)
        convert_parquet_to_delta(spark, p, partition_schema={"part": "string"})
        delete_delta_rows(spark, p, "k % 2 = 0")
        write_delta_table(
            _orders(spark).filter("k >= 300"), p, mode="append"
        )
        assert read_delta_table(spark, p).count() == 150

    def test_guards(self, spark, tmp_path):
        p = str(tmp_path / "t")
        _orders(spark).write.parquet(p)
        convert_parquet_to_delta(spark, p)
        with pytest.raises(ValueError, match="already a Delta table"):
            convert_parquet_to_delta(spark, p)
        empty = str(tmp_path / "e")
        os.makedirs(empty)
        with pytest.raises(ValueError, match="no parquet files"):
            convert_parquet_to_delta(spark, empty)

    def test_independent_spec_replay_reads_converted(self, spark, tmp_path):
        from tests.test_spec_interop import (
            _norm,
            _spark_rows,
            delta_snapshot_rows,
        )

        p = str(tmp_path / "t")
        _orders(spark).write.partitionBy("part").parquet(p)
        convert_parquet_to_delta(spark, p, partition_schema={"part": "string"})
        delete_delta_rows(spark, p, "k % 7 = 0")
        assert _norm(delta_snapshot_rows(p)) == _spark_rows(
            read_delta_table(spark, p)
        )


class TestIcebergAddFiles:
    def test_snapshot_then_add_files(self, spark, tmp_path):
        s1, s2, t = (str(tmp_path / x) for x in ("s1", "s2", "t"))
        _orders(spark, 0).write.partitionBy("part").parquet(s1)
        _orders(spark, 1).write.partitionBy("part").parquet(s2)
        v1 = add_parquet_files_iceberg(
            spark, s1, t, partition_schema={"part": "string"}
        )
        assert read_iceberg_table(spark, t).count() == 150
        v2 = add_parquet_files_iceberg(
            spark, s2, t, partition_schema={"part": "string"}
        )
        assert v2 == v1 + 1
        assert read_iceberg_table(spark, t).count() == 300
        # time travel: v1 still shows only the first batch
        assert read_iceberg_table(spark, t, version=v1).count() == 150

    def test_bounds_and_partition_pruning(self, spark, tmp_path):
        s, t = str(tmp_path / "s"), str(tmp_path / "t")
        _orders(spark).write.partitionBy("part").parquet(s)
        add_parquet_files_iceberg(
            spark, s, t, partition_schema={"part": "string"}
        )
        assert iceberg_plan_files(t, predicates={"k": (10**9, None)}) == []
        got = read_iceberg_table(spark, t, predicates={"part": ("1", "1")})
        assert got.count() == 100

    def test_upsert_over_migrated_files(self, spark, tmp_path):
        # foreign files carry NO parquet field ids — the upsert's
        # equality deletes must erase their rows via name mapping
        s, t = str(tmp_path / "s"), str(tmp_path / "t")
        _orders(spark).write.partitionBy("part").parquet(s)
        add_parquet_files_iceberg(
            spark, s, t, partition_schema={"part": "string"}
        )
        up = _orders(spark).filter("k < 10").withColumn(
            "v", F.lit(-1).cast("long")
        )
        upsert_iceberg_table(up, t, ["k"])
        got = read_iceberg_table(spark, t)
        assert got.count() == 300
        assert got.filter("v = -1").count() == 10

    def test_layout_guards(self, spark, tmp_path):
        s, t = str(tmp_path / "s"), str(tmp_path / "t")
        _orders(spark).write.partitionBy("part").parquet(s)
        add_parquet_files_iceberg(
            spark, s, t, partition_schema={"part": "string"}
        )
        # column mismatch
        bad = str(tmp_path / "bad")
        _orders(spark).withColumnRenamed("v", "w").write.partitionBy(
            "part"
        ).parquet(bad)
        with pytest.raises(IcebergProtocolError, match="do not match"):
            add_parquet_files_iceberg(spark, bad, t)
        # partition layout mismatch
        flat = str(tmp_path / "flat")
        _orders(spark).write.parquet(flat)
        with pytest.raises(IcebergProtocolError, match="partition layout"):
            add_parquet_files_iceberg(spark, flat, t)

    def test_independent_spec_replay_reads_migrated(self, spark, tmp_path):
        from tests.test_spec_interop import (
            _norm,
            _spark_rows,
            iceberg_snapshot_rows,
        )

        s, t = str(tmp_path / "s"), str(tmp_path / "t")
        _orders(spark).write.partitionBy("part").parquet(s)
        add_parquet_files_iceberg(
            spark, s, t, partition_schema={"part": "string"}
        )
        up = _orders(spark).filter("k < 5").withColumn(
            "v", F.lit(-1).cast("long")
        )
        upsert_iceberg_table(up, t, ["k"])
        got = _norm(iceberg_snapshot_rows(t))
        want = _spark_rows(read_iceberg_table(spark, t))
        assert got == want


class TestUniform:
    """Delta UNIFORM: Iceberg metadata generated over the Delta
    table's current snapshot at the same root — both formats read the
    SAME parquet files."""

    def test_both_formats_read_identically(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            uniform_iceberg_metadata,
        )

        p = str(tmp_path / "t")
        write_delta_table(_orders(spark), p, partition_by=["part"])
        uniform_iceberg_metadata(spark, p)
        want = read_delta_table(spark, p)
        got = read_iceberg_table(spark, p)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )
        # bounds came from the Delta stats: impossible range prunes
        assert iceberg_plan_files(p, predicates={"k": (10**9, None)}) == []

    def test_resync_tracks_delta_commits(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            uniform_iceberg_metadata,
        )

        p = str(tmp_path / "t")
        write_delta_table(_orders(spark, 0), p)
        v1 = uniform_iceberg_metadata(spark, p)
        write_delta_table(_orders(spark, 1), p, mode="append")
        v2 = uniform_iceberg_metadata(spark, p)
        assert v2 == v1 + 1
        assert read_iceberg_table(spark, p).count() == 300
        # Iceberg time travel still sees the first sync
        assert read_iceberg_table(spark, p, version=v1).count() == 150

    def test_dv_gate_and_optimize_recovery(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            optimize_delta_table,
        )
        from etl_processing_scd1_spark.sources.iceberg import (
            uniform_iceberg_metadata,
        )

        p = str(tmp_path / "t")
        write_delta_table(_orders(spark), p)
        delete_delta_rows(spark, p, "k % 10 = 0")
        with pytest.raises(IcebergProtocolError, match="deletion vector"):
            uniform_iceberg_metadata(spark, p)
        optimize_delta_table(spark, p)
        uniform_iceberg_metadata(spark, p)
        assert read_iceberg_table(spark, p).count() == 270

    def test_column_mapping_gate(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            uniform_iceberg_metadata,
        )

        p = str(tmp_path / "t")
        write_delta_table(
            _orders(spark).drop("part"), p, column_mapping="name"
        )
        with pytest.raises(IcebergProtocolError, match="column-mapped"):
            uniform_iceberg_metadata(spark, p)

    def test_independent_spec_replay_reads_uniform(self, spark, tmp_path):
        from tests.test_spec_interop import (
            _norm,
            _spark_rows,
            iceberg_snapshot_rows,
        )
        from etl_processing_scd1_spark.sources.iceberg import (
            uniform_iceberg_metadata,
        )

        p = str(tmp_path / "t")
        write_delta_table(_orders(spark), p, partition_by=["part"])
        uniform_iceberg_metadata(spark, p)
        assert _norm(iceberg_snapshot_rows(p)) == _spark_rows(
            read_iceberg_table(spark, p)
        )

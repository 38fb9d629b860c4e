"""Iceberg format-version 3: puffin deletion vectors (spec v3
§Deletion Vectors + puffin-spec) — upgrade, DV DELETE/UPDATE commits,
single-live-DV-per-file replacement, reads through both the library
scan and the iceberglog DataSource, changelog windows, compaction."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from etl_processing_scd1_spark.sources.iceberg import (
    IcebergProtocolError,
    _load_metadata,
    _snapshot_files,
    compact_iceberg_table,
    delete_iceberg_rows,
    read_iceberg_table,
    update_iceberg_rows,
    upgrade_iceberg_format_version,
    write_iceberg_table,
)
from etl_processing_scd1_spark.sources.puffin import (
    decode_dv_blob,
    read_blob,
    read_puffin_footer,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def _keys(spark, path):
    return sorted(r.k for r in read_iceberg_table(spark, path).collect())


def _live_dvs(path):
    meta = _load_metadata(path, None)
    _, _files, deletes = _snapshot_files(path, meta, None, None)
    return [d for d in deletes if d.get("dv")]


class TestFormatV3DeletionVectors:
    def test_upgrade_and_dv_delete(self, spark, tmp_path):
        path = str(tmp_path / "v3")
        write_iceberg_table(_df(spark, 0, 20), path)
        v = upgrade_iceberg_format_version(path, 3)
        meta = _load_metadata(path, v)
        assert meta["format-version"] == 3
        assert meta["next-row-id"] == 0
        # downgrade refused, idempotent upgrade
        with pytest.raises(IcebergProtocolError, match="downgrade"):
            upgrade_iceberg_format_version(path, 2)
        assert upgrade_iceberg_format_version(path, 3) == v

        delete_iceberg_rows(spark, path, "k in (3, 7, 11)")
        assert _keys(spark, path) == [k for k in range(20)
                                      if k not in (3, 7, 11)]
        # the delete produced a puffin DV, not a parquet delete file
        dvs = _live_dvs(path)
        assert len(dvs) >= 1
        for d in dvs:
            assert d["path"].endswith(".puffin")
        # puffin file is self-describing: footer blob metadata round-trips
        pf = dvs[0]["path"]
        footer = read_puffin_footer(pf)
        assert footer["blobs"][0]["type"] == "deletion-vector-v1"
        props = footer["blobs"][0]["properties"]
        assert "referenced-data-file" in props
        blob = read_blob(
            pf, footer["blobs"][0]["offset"], footer["blobs"][0]["length"]
        )
        assert len(decode_dv_blob(blob)) >= 1

    def test_second_delete_replaces_dv(self, spark, tmp_path):
        path = str(tmp_path / "v3b")
        write_iceberg_table(_df(spark, 0, 10).coalesce(1), path)
        upgrade_iceberg_format_version(path, 3)
        delete_iceberg_rows(spark, path, "k = 2")
        delete_iceberg_rows(spark, path, "k = 5")
        assert _keys(spark, path) == [0, 1, 3, 4, 6, 7, 8, 9]
        # single data file -> after the second delete exactly ONE live
        # DV referencing it, containing BOTH positions (merge +
        # supersede, spec's at-most-one-DV-per-file rule)
        dvs = _live_dvs(path)
        by_ref = {}
        for d in dvs:
            by_ref.setdefault(d["dv"]["referenced"], []).append(d)
        assert all(len(v) == 1 for v in by_ref.values()), by_ref
        d = dvs[-1]
        positions = decode_dv_blob(read_blob(
            d["path"], d["dv"]["offset"], d["dv"]["size"]
        ))
        assert len(positions) == 2

    def test_update_uses_dvs_and_appends(self, spark, tmp_path):
        path = str(tmp_path / "v3c")
        write_iceberg_table(_df(spark, 0, 10), path)
        upgrade_iceberg_format_version(path, 3)
        update_iceberg_rows(spark, path, "k = 4", {"v": "4444"})
        got = {r.k: r.v for r in read_iceberg_table(spark, path).collect()}
        assert got[4] == 4444 and len(got) == 10
        assert all(d["path"].endswith(".puffin") for d in _live_dvs(path))
        # appends keep working on the v3 table
        write_iceberg_table(_df(spark, 10, 13), path, mode="append")
        assert len(_keys(spark, path)) == 13
        assert _load_metadata(path, None)["format-version"] == 3

    def test_datasource_reads_dvs(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources import ensure_datasources

        ensure_datasources(spark)
        path = str(tmp_path / "v3d")
        write_iceberg_table(_df(spark, 0, 12), path)
        upgrade_iceberg_format_version(path, 3)
        delete_iceberg_rows(spark, path, "k >= 9")
        got = spark.read.format("iceberglog").load(path)
        assert sorted(r.k for r in got.collect()) == list(range(9))

    def test_changelog_over_dv_commit(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources import ensure_datasources

        ensure_datasources(spark)
        path = str(tmp_path / "v3e")
        write_iceberg_table(_df(spark, 0, 8), path)       # v1
        upgrade_iceberg_format_version(path, 3)           # v2
        delete_iceberg_rows(spark, path, "k in (1, 6)")   # v3
        ch = (
            spark.read.format("iceberglog")
            .option("readChangeFeed", "true")
            .option("startingVersion", 3)
            .load(path)
        )
        rows = [(r.k, r._change_type) for r in ch.collect()]
        assert sorted(rows) == [(1, "delete"), (6, "delete")]

    def test_compaction_clears_dvs(self, spark, tmp_path):
        path = str(tmp_path / "v3f")
        write_iceberg_table(_df(spark, 0, 15), path)
        upgrade_iceberg_format_version(path, 3)
        delete_iceberg_rows(spark, path, "k % 3 = 0")
        compact_iceberg_table(spark, path, 1)
        assert _live_dvs(path) == []
        assert _keys(spark, path) == [k for k in range(15) if k % 3 != 0]
        # still v3 and still deletable after compaction
        delete_iceberg_rows(spark, path, "k = 7")
        assert 7 not in _keys(spark, path)


class TestRowLineage:
    def _ids(self, spark, path):
        df = read_iceberg_table(spark, path, with_row_ids=True)
        return {r.k: (r._row_id, r._last_updated_sequence_number)
                for r in df.collect()}

    def test_append_assigns_ranges(self, spark, tmp_path):
        path = str(tmp_path / "rl")
        write_iceberg_table(_df(spark, 0, 6), path)          # pre-upgrade
        upgrade_iceberg_format_version(path, 3)
        write_iceberg_table(_df(spark, 6, 10), path, mode="append")
        meta = _load_metadata(path, None)
        assert meta["next-row-id"] == 4
        snap = meta["snapshots"][-1]
        assert snap["first-row-id"] == 0
        ids = self._ids(spark, path)
        # pre-upgrade rows: ids unavailable (NULL); post-upgrade rows:
        # unique ids covering [0, 4)
        assert all(ids[k][0] is None for k in range(6))
        assert sorted(ids[k][0] for k in range(6, 10)) == [0, 1, 2, 3]
        # second append continues the cursor
        write_iceberg_table(_df(spark, 10, 12), path, mode="append")
        ids = self._ids(spark, path)
        assert sorted(ids[k][0] for k in range(10, 12)) == [4, 5]
        assert _load_metadata(path, None)["next-row-id"] == 6

    def test_dv_delete_keeps_ids(self, spark, tmp_path):
        path = str(tmp_path / "rl2")
        write_iceberg_table(_df(spark, 0, 1), path)
        upgrade_iceberg_format_version(path, 3)
        write_iceberg_table(_df(spark, 1, 9), path, mode="append")
        before = self._ids(spark, path)
        delete_iceberg_rows(spark, path, "k = 4")
        after = self._ids(spark, path)
        assert 4 not in after
        for k in after:
            assert after[k] == before[k]

    def test_update_keeps_row_id(self, spark, tmp_path):
        """Spec v3 §Row Lineage: an updated row keeps its ``_row_id``;
        its sequence number is the update's (written NULL, inherited
        from the new file)."""
        path = str(tmp_path / "rl_upd")
        write_iceberg_table(_df(spark, 0, 1), path)
        upgrade_iceberg_format_version(path, 3)
        write_iceberg_table(_df(spark, 1, 9), path, mode="append")
        before = self._ids(spark, path)
        assert before[4] == (3, 1)
        update_iceberg_rows(spark, path, "k = 4", {"v": "-4"})
        after = self._ids(spark, path)
        assert after[4] == (3, 2)
        for k in after:
            if k != 4:
                assert after[k] == before[k]

    def test_compaction_materializes_ids(self, spark, tmp_path):
        path = str(tmp_path / "rl3")
        write_iceberg_table(_df(spark, 0, 3), path)          # no lineage
        upgrade_iceberg_format_version(path, 3)
        write_iceberg_table(_df(spark, 3, 9), path, mode="append")
        delete_iceberg_rows(spark, path, "k = 5")
        before = self._ids(spark, path)
        compact_iceberg_table(spark, path, 1)
        after = self._ids(spark, path)
        # rows that had ids keep them through the rewrite; rows that
        # had none (pre-upgrade files) get ids ON rewrite (spec)
        for k in range(3, 9):
            if k != 5:
                assert after[k] == before[k]
        newly = [after[k][0] for k in range(3)]
        assert all(i is not None for i in newly)
        # all ids unique
        all_ids = [i for i, _ in after.values()]
        assert len(set(all_ids)) == len(all_ids)

    def test_reserved_names_refused(self, spark, tmp_path):
        path = str(tmp_path / "rl4")
        bad = _df(spark, 0, 3).withColumn("_row_id", F.lit(1))
        with pytest.raises(IcebergProtocolError, match="reserved"):
            write_iceberg_table(bad, path)
        write_iceberg_table(_df(spark, 0, 3), path)
        with pytest.raises(IcebergProtocolError, match="reserved"):
            write_iceberg_table(bad, path, mode="append")
        with pytest.raises(IcebergProtocolError, match="format-version 3"):
            read_iceberg_table(spark, path, with_row_ids=True)


class TestDefaultValues:
    def test_add_column_with_default(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            add_iceberg_column,
        )

        path = str(tmp_path / "dflt")
        write_iceberg_table(_df(spark, 0, 5), path)          # pre-column file
        upgrade_iceberg_format_version(path, 3)
        add_iceberg_column(path, "score", "long", default=100)
        add_iceberg_column(path, "tag", "string", default="unknown")
        # pre-existing rows read the initial-defaults
        got = {r.k: (r.score, r.tag)
               for r in read_iceberg_table(spark, path).collect()}
        assert all(got[k] == (100, "unknown") for k in range(5))
        # a write omitting the column fills write-default
        write_iceberg_table(_df(spark, 5, 7), path, mode="append")
        # a write with EXPLICIT values (incl. NULL) keeps them
        explicit = spark.createDataFrame(
            [(7, 70, None, "x"), (8, 80, 5, None)],
            "k long, v long, score long, tag string",
        )
        write_iceberg_table(explicit, path, mode="append")
        got = {r.k: (r.score, r.tag)
               for r in read_iceberg_table(spark, path).collect()}
        # pre-column rows STILL read initial-defaults after appends
        # (regression: the append's schema rebuild must preserve the
        # default attributes)
        assert all(got[k] == (100, "unknown") for k in range(5))
        assert got[5] == (100, "unknown")                     # write-default
        assert got[7] == (None, "x")                          # explicit NULL kept
        assert got[8] == (5, None)
        # DataSource parity
        from etl_processing_scd1_spark.sources import ensure_datasources

        ensure_datasources(spark)
        ds = {r.k: (r.score, r.tag)
              for r in spark.read.format("iceberglog").load(path).collect()}
        assert ds == got

    def test_default_requires_v3(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            add_iceberg_column,
        )

        path = str(tmp_path / "dflt2")
        write_iceberg_table(_df(spark, 0, 3), path)
        with pytest.raises(IcebergProtocolError, match="format-version 3"):
            add_iceberg_column(path, "score", "long", default=1)
        # no default: plain evolution, old rows read NULL
        add_iceberg_column(path, "note", "string")
        got = read_iceberg_table(spark, path)
        assert [r.note for r in got.collect()] == [None, None, None]
        with pytest.raises(ValueError, match="already exists"):
            add_iceberg_column(path, "note", "string")

    def _defaulted(self, spark, tmp_path):
        """k 0-4 written before ``score`` (default 100) exists, k 5-6
        appended after (write-default)."""
        from etl_processing_scd1_spark.sources.iceberg import (
            add_iceberg_column,
        )

        path = str(tmp_path / "dflt_dml")
        write_iceberg_table(_df(spark, 0, 5), path)
        upgrade_iceberg_format_version(path, 3)
        add_iceberg_column(path, "score", "long", default=100)
        write_iceberg_table(_df(spark, 5, 7), path, mode="append")
        return path

    def test_dml_sees_initial_default(self, spark, tmp_path):
        """DELETE and UPDATE see the rows readers see: files predating
        ``score`` read its initial-default, so a condition on it
        matches and an update keeps it."""
        path = self._defaulted(spark, tmp_path)
        delete_iceberg_rows(spark, path, "score = 100 AND k = 2")
        update_iceberg_rows(spark, path, "k = 1", {"v": "111"})
        got = {r.k: (r.v, r.score)
               for r in read_iceberg_table(spark, path).collect()}
        assert got == {k: (111 if k == 1 else k * 10, 100)
                       for k in range(7) if k != 2}

    def test_streams_read_initial_default(self, spark, tmp_path):
        """The appends stream and the change feed plan their files with
        the same per-file constants as the batch read."""
        from etl_processing_scd1_spark.sources import ensure_datasources

        path = self._defaulted(spark, tmp_path)
        ensure_datasources(spark)
        batch = sorted((r.k, r.v, r.score)
                       for r in read_iceberg_table(spark, path).collect())
        assert {s for _k, _v, s in batch} == {100}
        got: list = []
        q = (
            spark.readStream.format("iceberglog").load(path)
            .writeStream.foreachBatch(
                lambda b, _bid: got.extend(
                    (r.k, r.v, r.score) for r in b.collect()
                )
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        q.awaitTermination(180)
        assert sorted(got) == batch
        cdf = (
            spark.read.format("iceberglog")
            .option("readChangeFeed", "true")
            .option("startingVersion", 1)
            .load(path)
        )
        assert sorted((r.k, r.v, r.score) for r in cdf.collect()) == batch


class TestVacuumPuffin:
    def test_vacuum_keeps_live_dvs_reclaims_orphans(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            vacuum_iceberg_table,
        )

        path = str(tmp_path / "vac")
        write_iceberg_table(_df(spark, 0, 10), path)
        upgrade_iceberg_format_version(path, 3)
        delete_iceberg_rows(spark, path, "k = 1")
        # an orphan puffin (simulated crashed writer's leftover)
        orphan = os.path.join(path, "data", "delete-orphan.puffin")
        with open(orphan, "wb") as fh:
            fh.write(b"PFA1orphan")
        os.utime(orphan, (1, 1))  # ancient mtime, past any retention
        gone = vacuum_iceberg_table(path, retention_hours=0.0)
        assert any(g.endswith("delete-orphan.puffin") for g in gone)
        # the LIVE DV survived and the table still reads correctly
        assert _keys(spark, path) == [k for k in range(10) if k != 1]


class TestMetadataTablesV3:
    def test_delete_files_and_all_files(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            iceberg_metadata_table,
        )

        path = str(tmp_path / "mt")
        write_iceberg_table(_df(spark, 0, 10).coalesce(1), path)
        upgrade_iceberg_format_version(path, 3)
        delete_iceberg_rows(spark, path, "k in (2, 4)")
        dels = iceberg_metadata_table(spark, path, "delete_files").collect()
        assert len(dels) == 1
        d = dels[0]
        assert d.content == 1 and d.file_format == "PUFFIN"
        assert d.record_count == 2
        assert d.referenced_data_file and d.referenced_data_file.endswith(
            ".parquet"
        )
        allf = iceberg_metadata_table(spark, path, "all_files").collect()
        # 1 data file + 1 puffin DV, deduped across snapshots
        assert sorted(r.content for r in allf) == [0, 1]


class TestPartitionStats:
    def test_compute_register_read(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            compute_iceberg_partition_stats,
            iceberg_metadata_table,
        )

        path = str(tmp_path / "pstats")
        df = _df(spark, 0, 30).withColumn(
            "part", (F.col("k") % 3).cast("string")
        )
        write_iceberg_table(df, path, partition_by=["part"])
        # stats not yet registered -> loud raise
        with pytest.raises(ValueError, match="partition statistics"):
            iceberg_metadata_table(spark, path, "partition_stats")
        compute_iceberg_partition_stats(spark, path)
        got = {json.loads(r.partition)["part"]: r
               for r in iceberg_metadata_table(
                   spark, path, "partition_stats").collect()}
        assert set(got) == {"0", "1", "2"}
        assert all(r.data_record_count == 10 for r in got.values())
        assert all(r.position_delete_file_count == 0 for r in got.values())
        # deletes show up after recompute; the old entry is replaced
        upgrade_iceberg_format_version(path, 3)
        delete_iceberg_rows(spark, path, "k = 3")  # part '0'
        compute_iceberg_partition_stats(spark, path)
        meta = _load_metadata(path, None)
        sid = meta["current-snapshot-id"]
        entries = [p for p in meta["partition-statistics"]
                   if p["snapshot-id"] == sid]
        assert len(entries) == 1
        got = {json.loads(r.partition).get("part"): r
               for r in iceberg_metadata_table(
                   spark, path, "partition_stats").collect()}
        # the DV spans partitions (null tuple row carries the delete)
        assert sum(r.position_delete_record_count
                   for r in got.values()) == 1


class TestTableStats:
    def test_ndv_blobs_registered(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            compute_iceberg_table_stats,
            iceberg_metadata_table,
        )
        from etl_processing_scd1_spark.sources.puffin import (
            read_blob,
            read_puffin_footer,
        )

        path = str(tmp_path / "tstats")
        df = _df(spark, 0, 500).withColumn("grp", F.col("k") % 7)
        write_iceberg_table(df, path)
        compute_iceberg_table_stats(spark, path, cols=["k", "grp"])
        stats = {r.blob_type: r for r in iceberg_metadata_table(
            spark, path, "statistics").collect()}
        rows = iceberg_metadata_table(spark, path, "statistics").collect()
        by_fields = {r.fields: r for r in rows}
        ndvs = sorted(int(r.ndv) for r in rows)
        assert ndvs == [7, 500]
        meta = _load_metadata(path, None)
        entry = meta["statistics"][0]
        footer = read_puffin_footer(entry["statistics-path"])
        assert len(footer["blobs"]) == 2
        b = footer["blobs"][0]
        assert b["type"] == "spark-graft-kmv-v1"
        data = read_blob(entry["statistics-path"], b["offset"], b["length"])
        assert len(data) % 8 == 0 and len(data) > 0
        # recompute for the same snapshot replaces, never duplicates
        compute_iceberg_table_stats(spark, path, cols=["k"])
        meta = _load_metadata(path, None)
        assert len(meta["statistics"]) == 1

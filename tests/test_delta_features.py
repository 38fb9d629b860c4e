"""Delta table-feature surface beyond the core log: In-Commit
Timestamps (PROTOCOL.md §In-Commit Timestamps — monotonic
``inCommitTimestamp`` in a first-action commitInfo, enablement
provenance properties, ICT-preferring timestamp travel)."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from etl_processing_scd1_spark.sources.delta import (
    delete_delta_rows,
    delta_version_at_timestamp,
    enable_in_commit_timestamps,
    read_delta_table,
    write_delta_table,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def _commit_actions(path, version):
    f = os.path.join(path, "_delta_log", f"{version:020d}.json")
    with open(f) as fh:
        return [json.loads(line) for line in fh if line.strip()]


class TestInCommitTimestamps:
    def test_enable_stamps_and_monotonic(self, spark, tmp_path):
        path = str(tmp_path / "ict")
        write_delta_table(_df(spark, 0, 10), path)          # v0, no ICT
        v = enable_in_commit_timestamps(spark, path)        # v1
        assert v == 1
        # enablement commit: first action is commitInfo with ICT,
        # protocol lists the writer feature, config carries the
        # provenance properties matching the stamped value
        acts = _commit_actions(path, 1)
        assert "commitInfo" in acts[0]
        ict1 = acts[0]["commitInfo"]["inCommitTimestamp"]
        proto = next(a["protocol"] for a in acts if "protocol" in a)
        assert proto["minWriterVersion"] == 7
        assert "inCommitTimestamp" in proto["writerFeatures"]
        # legacy writer version 2 features are listed on upgrade
        assert {"appendOnly", "invariants"} <= set(proto["writerFeatures"])
        meta = next(a["metaData"] for a in acts if "metaData" in a)
        cfg = meta["configuration"]
        assert cfg["delta.enableInCommitTimestamps"] == "true"
        assert cfg["delta.inCommitTimestampEnablementVersion"] == "1"
        assert cfg["delta.inCommitTimestampEnablementTimestamp"] == str(ict1)

        # every later commit is stamped, first action, strictly increasing
        write_delta_table(_df(spark, 10, 15), path)         # v2 append
        delete_delta_rows(spark, path, "k = 3")             # v3 DML
        prev = ict1
        for ver in (2, 3):
            acts = _commit_actions(path, ver)
            assert "commitInfo" in acts[0], f"v{ver} commitInfo not first"
            ict = acts[0]["commitInfo"]["inCommitTimestamp"]
            assert ict > prev
            prev = ict
        # idempotent enable
        assert enable_in_commit_timestamps(spark, path) == 3

    def test_timestamp_travel_uses_ict(self, spark, tmp_path):
        path = str(tmp_path / "ict2")
        write_delta_table(_df(spark, 0, 5), path)           # v0
        enable_in_commit_timestamps(spark, path)            # v1
        write_delta_table(_df(spark, 5, 8), path)           # v2
        write_delta_table(_df(spark, 8, 12), path)          # v3
        ict2 = _commit_actions(path, 2)[0]["commitInfo"]["inCommitTimestamp"]
        ict3 = _commit_actions(path, 3)[0]["commitInfo"]["inCommitTimestamp"]
        assert delta_version_at_timestamp(path, ict2) == 2
        assert delta_version_at_timestamp(path, ict3 - 1) == 2
        assert delta_version_at_timestamp(path, ict3) == 3
        df = read_delta_table(spark, path, timestamp_ms=ict2)
        assert df.count() == 8

    def test_monotonic_under_clock_skew(self, spark, tmp_path, monkeypatch):
        path = str(tmp_path / "ict3")
        write_delta_table(_df(spark, 0, 3), path)
        enable_in_commit_timestamps(spark, path)
        ict1 = _commit_actions(path, 1)[0]["commitInfo"]["inCommitTimestamp"]
        # freeze the clock in the past: ICT must still advance
        import etl_processing_scd1_spark.sources.delta as d
        monkeypatch.setattr(d.time, "time", lambda: (ict1 - 60_000) / 1000.0)
        write_delta_table(_df(spark, 3, 6), path)
        ict2 = _commit_actions(path, 2)[0]["commitInfo"]["inCommitTimestamp"]
        assert ict2 == ict1 + 1

    def test_table_created_without_ict_unaffected(self, spark, tmp_path):
        path = str(tmp_path / "plain")
        write_delta_table(_df(spark, 0, 5), path)
        write_delta_table(_df(spark, 5, 9), path)
        for ver in (0, 1):
            for a in _commit_actions(path, ver):
                assert "inCommitTimestamp" not in (a.get("commitInfo") or {})


class TestWriterGates:
    def test_unknown_writer_feature_refused(self, spark, tmp_path):
        import pytest

        from etl_processing_scd1_spark.sources.delta import (
            DeltaProtocolError,
            delete_delta_rows,
            optimize_delta_table,
        )

        path = str(tmp_path / "t")
        write_delta_table(_df(spark, 0, 5), path)
        # a foreign writer upgrades the table to a feature we don't know
        log = os.path.join(path, "_delta_log")
        with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
            fh.write(json.dumps({"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 7,
                "writerFeatures": ["appendOnly", "invariants",
                                   "futureFeature"],
            }}) + "\n")
        # reads still work (writer features never gate reads)
        assert read_delta_table(spark, path).count() == 5
        for op in (
            lambda: write_delta_table(_df(spark, 5, 8), path, mode="append"),
            lambda: delete_delta_rows(spark, path, "k = 1"),
            lambda: optimize_delta_table(spark, path),
        ):
            with pytest.raises(DeltaProtocolError, match="futureFeature"):
                op()

    def test_append_only_blocks_removes(self, spark, tmp_path):
        import pytest

        from etl_processing_scd1_spark.sources.delta import (
            DeltaProtocolError,
            alter_delta_properties,
            delete_delta_rows,
            restore_delta_table,
            update_delta_rows,
        )

        path = str(tmp_path / "t")
        write_delta_table(_df(spark, 0, 5), path)              # v0
        v = alter_delta_properties(
            spark, path, {"delta.appendOnly": "true"}
        )                                                      # v1
        assert v == 1
        write_delta_table(_df(spark, 5, 8), path, mode="append")  # OK
        with pytest.raises(DeltaProtocolError, match="append-only"):
            delete_delta_rows(spark, path, "k = 1")
        with pytest.raises(DeltaProtocolError, match="append-only"):
            update_delta_rows(spark, path, "k = 1", {"v": "0"})
        with pytest.raises(DeltaProtocolError, match="append-only"):
            write_delta_table(_df(spark, 0, 2), path, mode="overwrite")
        with pytest.raises(DeltaProtocolError, match="append-only"):
            restore_delta_table(spark, path, version=0)
        assert read_delta_table(spark, path).count() == 8
        # unset re-allows removal
        alter_delta_properties(spark, path, unset=["delta.appendOnly"])
        delete_delta_rows(spark, path, "k = 1")
        assert read_delta_table(spark, path).count() == 7

    def test_invariants_and_not_null_enforced(self, spark, tmp_path):
        import pytest

        from etl_processing_scd1_spark.sources.delta import (
            DeltaProtocolError,
        )

        path = str(tmp_path / "t")
        write_delta_table(_df(spark, 0, 5), path)
        # foreign writer adds a legacy column invariant + NOT NULL col
        log = os.path.join(path, "_delta_log")
        with open(os.path.join(log, f"{0:020d}.json")) as fh:
            acts = [json.loads(line) for line in fh]
        meta = next(a["metaData"] for a in acts if "metaData" in a)
        schema = json.loads(meta["schemaString"])
        for f in schema["fields"]:
            if f["name"] == "v":
                f["metadata"] = {"delta.invariants": json.dumps(
                    {"expression": {"expression": "v >= 0"}}
                )}
            if f["name"] == "k":
                f["nullable"] = False
        meta["schemaString"] = json.dumps(schema)
        with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
            fh.write(json.dumps({"metaData": meta}) + "\n")

        bad_inv = spark.createDataFrame([(99, -1)], "k long, v long")
        with pytest.raises(DeltaProtocolError, match="invariant on v"):
            write_delta_table(bad_inv, path, mode="append")
        bad_null = spark.createDataFrame([(None, 5)], "k long, v long")
        with pytest.raises(DeltaProtocolError, match="NOT NULL k"):
            write_delta_table(bad_null, path, mode="append")
        ok = spark.createDataFrame([(99, 1)], "k long, v long")
        write_delta_table(ok, path, mode="append")
        assert read_delta_table(spark, path).count() == 6


class TestRowTracking:
    def _ids(self, spark, path, **kw):
        from etl_processing_scd1_spark.sources.delta import read_delta_table
        df = read_delta_table(spark, path, with_row_ids=True, **kw)
        return {r.k: (r._row_id, r._row_commit_version)
                for r in df.collect()}

    def test_enable_backfills_and_allocates(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            enable_row_tracking,
        )

        path = str(tmp_path / "rt")
        write_delta_table(_df(spark, 0, 10), path)            # v0
        v = enable_row_tracking(spark, path)                  # v1
        assert v == 1
        acts = _commit_actions(path, 1)
        proto = next(a["protocol"] for a in acts if "protocol" in a)
        assert {"rowTracking", "domainMetadata"} <= set(proto["writerFeatures"])
        dom = next(a["domainMetadata"] for a in acts if "domainMetadata" in a)
        assert dom["domain"] == "delta.rowTracking"
        assert json.loads(dom["configuration"])["rowIdHighWaterMark"] == 9
        ids = self._ids(spark, path)
        # every row has a unique id in [0, 9], commit version 1 (backfill)
        assert sorted(i for i, _ in ids.values()) == list(range(10))
        assert {v for _, v in ids.values()} == {1}
        # appends allocate fresh disjoint ranges at the new version
        write_delta_table(_df(spark, 10, 14), path)           # v2
        ids2 = self._ids(spark, path)
        assert sorted(i for i, _ in ids2.values()) == list(range(14))
        assert {ids2[k][1] for k in range(10, 14)} == {2}
        # the first ten rows kept their ids
        for k in range(10):
            assert ids2[k] == ids[k]
        # idempotent
        from etl_processing_scd1_spark.sources.delta import (
            enable_row_tracking as ert,
        )
        assert ert(spark, path) == 2

    def test_delete_and_update_preserve_ids(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            enable_row_tracking,
            update_delta_rows,
        )

        path = str(tmp_path / "rt2")
        write_delta_table(_df(spark, 0, 8), path)
        enable_row_tracking(spark, path)
        before = self._ids(spark, path)
        delete_delta_rows(spark, path, "k = 3")               # DV delete
        after = self._ids(spark, path)
        assert 3 not in after
        for k in after:
            assert after[k][0] == before[k][0]                # ids stable
        v = update_delta_rows(spark, path, "k = 5", {"v": "999"})
        upd = self._ids(spark, path)
        assert upd[5][0] == before[5][0]                      # id preserved
        assert upd[5][1] == v                                 # ver = update commit
        for k in upd:
            if k != 5:
                assert upd[k] == after[k]

    def test_merge_preserves_ids(self, spark, tmp_path):
        """A MERGE-changed row keeps its row id like an UPDATEd one; a
        merge-inserted row gets a fresh id past every existing one."""
        from etl_processing_scd1_spark.sources.delta import (
            enable_row_tracking,
            merge_delta_table,
        )

        path = str(tmp_path / "rt_merge")
        write_delta_table(_df(spark, 0, 8), path)
        enable_row_tracking(spark, path)
        before = self._ids(spark, path)
        src = spark.createDataFrame(
            [(5, 999), (6, 60), (20, 200)], _df(spark, 0, 1).schema
        )
        v = merge_delta_table(spark, src, path, ["k"])
        got = self._ids(spark, path)
        assert got[5] == (before[5][0], v)                    # changed
        assert got[6] == before[6]                            # identical
        assert got[20][0] > max(i for i, _ in before.values())
        assert got[20][1] == v
        assert len({i for i, _ in got.values()}) == len(got)

    def test_merge_into_clone_preserves_ids(self, spark, tmp_path):
        """A shallow clone references the source's files by absolute
        path and copies their row ids: MERGE and UPDATE on the clone
        keep a rewritten row's id, including one materialized in a
        source file by an earlier UPDATE."""
        from etl_processing_scd1_spark.sources.delta import (
            clone_delta_table,
            enable_row_tracking,
            merge_delta_table,
            update_delta_rows,
        )

        src = str(tmp_path / "rt_src")
        write_delta_table(_df(spark, 0, 8), src)
        enable_row_tracking(spark, src)
        update_delta_rows(spark, src, "k = 2", {"v": "-2"})
        before = self._ids(spark, src)
        dst = str(tmp_path / "rt_clone")
        clone_delta_table(spark, src, dst)
        assert {k: i for k, (i, _v) in self._ids(spark, dst).items()} \
            == {k: i for k, (i, _v) in before.items()}
        rows = spark.createDataFrame(
            [(2, 222), (5, 999), (20, 200)], _df(spark, 0, 1).schema
        )
        v = merge_delta_table(spark, rows, dst, ["k"])
        got = self._ids(spark, dst)
        assert got[2] == (before[2][0], v)
        assert got[5] == (before[5][0], v)
        assert got[20][0] > max(i for i, _ in before.values())
        v2 = update_delta_rows(spark, dst, "k = 6", {"v": "-6"})
        got2 = self._ids(spark, dst)
        assert got2[6] == (before[6][0], v2)
        assert len({i for i, _ in got2.values()}) == len(got2) == 9
        vals = {r.k: r.v for r in read_delta_table(spark, dst).collect()}
        assert vals == {**{k: k * 10 for k in range(8)},
                        2: 222, 5: 999, 6: -6, 20: 200}
        assert self._ids(spark, src) == before        # source untouched

    def test_optimize_materializes_ids(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            enable_row_tracking,
            optimize_delta_table,
        )

        path = str(tmp_path / "rt3")
        write_delta_table(_df(spark, 0, 6), path)
        enable_row_tracking(spark, path)
        write_delta_table(_df(spark, 6, 9), path)
        delete_delta_rows(spark, path, "k = 1")
        before = self._ids(spark, path)
        optimize_delta_table(spark, path)                     # rewrite all
        after = self._ids(spark, path)
        assert after == before                                # ids + vers survive
        # and survive a checkpointed replay too
        from etl_processing_scd1_spark.sources.delta import (
            delta_table_version,
            write_checkpoint,
        )
        write_checkpoint(spark, path, delta_table_version(path))
        assert self._ids(spark, path) == before

    def test_domains_survive_checkpoint_and_clone(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            _replay,
            clone_delta_table,
            enable_row_tracking,
            write_checkpoint,
        )

        path = str(tmp_path / "rt4")
        write_delta_table(_df(spark, 0, 5), path)
        enable_row_tracking(spark, path)
        write_checkpoint(spark, path, 1)
        write_delta_table(_df(spark, 5, 7), path)             # v2 after ckpt
        snap = _replay(spark, path, None)
        hwm = json.loads(
            snap.domains["delta.rowTracking"]["configuration"]
        )["rowIdHighWaterMark"]
        assert hwm == 6
        dst = str(tmp_path / "rt4_clone")
        clone_delta_table(spark, path, dst)
        snap2 = _replay(spark, dst, None)
        assert "delta.rowTracking" in snap2.domains

    def test_plain_table_refuses_row_id_read(self, spark, tmp_path):
        import pytest

        from etl_processing_scd1_spark.sources.delta import (
            DeltaProtocolError,
        )

        path = str(tmp_path / "plain_rt")
        write_delta_table(_df(spark, 0, 3), path)
        with pytest.raises(DeltaProtocolError, match="enableRowTracking"):
            self._ids(spark, path)


class TestTypeWidening:
    def test_widen_int_to_long_mixed_files(self, spark, tmp_path):
        import pytest

        from etl_processing_scd1_spark.sources.delta import (
            DeltaProtocolError,
            widen_delta_column,
        )

        path = str(tmp_path / "tw")
        narrow = spark.range(0, 5).select(
            F.col("id").cast("int").alias("k"),
            F.col("id").cast("float").alias("x"),
        )
        write_delta_table(narrow, path)                       # v0: int files
        v = widen_delta_column(spark, path, "k", "long")      # v1
        assert v == 1
        widen_delta_column(spark, path, "x", "double")        # v2
        wide = spark.range(5, 8).select(
            (F.col("id") + 10_000_000_000).alias("k"),
            F.col("id").cast("double").alias("x"),
        )
        write_delta_table(wide, path, mode="append")          # v3: long files
        got = read_delta_table(spark, path)
        assert dict(got.dtypes) == {"k": "bigint", "x": "double"}
        ks = sorted(r.k for r in got.collect())
        assert ks == [0, 1, 2, 3, 4, 10000000005, 10000000006, 10000000007]
        # typeChanges provenance recorded; protocol carries the
        # reader+writer feature
        acts = _commit_actions(path, 1)
        meta = next(a["metaData"] for a in acts if "metaData" in a)
        f = next(x for x in json.loads(meta["schemaString"])["fields"]
                 if x["name"] == "k")
        assert f["metadata"]["delta.typeChanges"] == [
            {"fromType": "integer", "toType": "long", "tableVersion": 1}
        ]
        proto = next(a["protocol"] for a in acts if "protocol" in a)
        assert "typeWidening" in proto["readerFeatures"]
        assert "typeWidening" in proto["writerFeatures"]
        # time travel to v0 keeps the narrow type
        old = read_delta_table(spark, path, version=0)
        assert dict(old.dtypes)["k"] == "int"
        # lossy change refused
        with pytest.raises(DeltaProtocolError, match="not a spec-allowed"):
            widen_delta_column(spark, path, "x", "float")
        with pytest.raises(DeltaProtocolError, match="not a spec-allowed"):
            widen_delta_column(spark, path, "k", "integer")

    def test_widen_decimal(self, spark, tmp_path):
        import pytest
        from decimal import Decimal

        from etl_processing_scd1_spark.sources.delta import (
            DeltaProtocolError,
            widen_delta_column,
        )

        path = str(tmp_path / "twd")
        df = spark.range(0, 4).select(
            F.col("id").alias("k"),
            F.col("id").cast("decimal(6,2)").alias("d"),
        )
        write_delta_table(df, path)
        widen_delta_column(spark, path, "d", "decimal(12,4)")
        write_delta_table(
            spark.createDataFrame(
                [(9, Decimal("12345678.1234"))], "k long, d decimal(12,4)"
            ),
            path, mode="append",
        )
        got = read_delta_table(spark, path)
        assert dict(got.dtypes)["d"] == "decimal(12,4)"
        assert got.count() == 5
        # shrinking the integer-part capacity is refused
        with pytest.raises(DeltaProtocolError, match="not a spec-allowed"):
            widen_delta_column(spark, path, "d", "decimal(12,8)")


class TestLiquidClustering:
    def test_cluster_by_drives_optimize(self, spark, tmp_path):
        import pytest

        from etl_processing_scd1_spark.sources.delta import (
            DeltaProtocolError,
            _replay,
            cluster_delta_table,
            optimize_delta_table,
        )

        path = str(tmp_path / "lc")
        df = spark.range(0, 4000).select(
            F.col("id").alias("k"),
            (F.col("id") % 97).alias("v"),
        ).repartition(8)
        write_delta_table(df, path)
        v = cluster_delta_table(spark, path, ["v"])
        snap = _replay(spark, path, None)
        assert "delta.clustering" in snap.domains
        assert "clustering" in snap.protocol["writerFeatures"]
        optimize_delta_table(spark, path, target_files=4)
        snap = _replay(spark, path, None)
        # clustered rewrite: per-file [min,max] ranges on v are
        # (near-)disjoint — each file covers ~1/4 of the domain
        ranges = []
        for a in snap.files.values():
            st = json.loads(a["stats"])
            ranges.append((st["minValues"]["v"], st["maxValues"]["v"]))
        ranges.sort()
        assert len(ranges) == 4
        for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, ranges
        assert read_delta_table(spark, path).count() == 4000
        # unknown / partition-overlap columns refused
        with pytest.raises(ValueError, match="not in table"):
            cluster_delta_table(spark, path, ["nope"])
        # removal drops the domain
        cluster_delta_table(spark, path, [])
        snap = _replay(spark, path, None)
        assert "delta.clustering" not in snap.domains

    def test_cluster_refuses_partition_columns(self, spark, tmp_path):
        import pytest

        from etl_processing_scd1_spark.sources.delta import (
            DeltaProtocolError,
            cluster_delta_table,
        )

        path = str(tmp_path / "lc2")
        df = spark.range(0, 20).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("part"),
        )
        write_delta_table(df, path, partition_by=["part"])
        with pytest.raises(DeltaProtocolError, match="partition"):
            cluster_delta_table(spark, path, ["part"])


class TestMetadataTablesFeatures:
    def test_detail_and_domains(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            delta_metadata_table,
            enable_row_tracking,
        )

        path = str(tmp_path / "mt")
        write_delta_table(_df(spark, 0, 7), path)
        enable_row_tracking(spark, path)
        det = delta_metadata_table(spark, path, "detail").collect()[0]
        assert det.format == "delta"
        assert det.num_records == 7 and det.num_files >= 1
        assert "rowTracking" in json.loads(det.writer_features)
        doms = {r.domain: r.configuration
                for r in delta_metadata_table(spark, path, "domains").collect()}
        assert "delta.rowTracking" in doms
        assert json.loads(doms["delta.rowTracking"])["rowIdHighWaterMark"] == 6

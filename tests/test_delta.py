"""Delta Lake transaction-log interop (sources/delta.py): write /
read round trips, append vs overwrite snapshots, version time
travel, partitioned layout, put-if-absent commit atomicity, log
checkpoints, protocol gating, and a hand-authored spec-shaped log
(reader consumes a log this writer did not produce)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from etl_processing_scd1_spark.sources.delta import (
    DeltaConcurrentCommit,
    DeltaProtocolError,
    delta_history,
    delta_table_version,
    read_delta_table,
    write_delta_table,
    write_checkpoint,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        (F.col("id") % 3).cast("string").alias("part"),
    )


def _rows(df):
    return sorted((r.k, r.v) for r in df.select("k", "v").collect())


class TestDeltaRoundTrip:
    def test_write_read_append_overwrite_timetravel(self, spark, tmp_path):
        path = str(tmp_path / "t1")
        v0 = write_delta_table(_df(spark, 0, 10), path)
        assert v0 == 0
        assert _rows(read_delta_table(spark, path)) == _rows(_df(spark, 0, 10))

        v1 = write_delta_table(_df(spark, 10, 15), path, mode="append")
        assert v1 == 1
        assert _rows(read_delta_table(spark, path)) == _rows(_df(spark, 0, 15))

        v2 = write_delta_table(_df(spark, 100, 103), path, mode="overwrite")
        assert v2 == 2
        assert _rows(read_delta_table(spark, path)) == _rows(_df(spark, 100, 103))

        # time travel reproduces every prior snapshot exactly
        assert _rows(read_delta_table(spark, path, version=0)) == _rows(
            _df(spark, 0, 10)
        )
        assert _rows(read_delta_table(spark, path, version=1)) == _rows(
            _df(spark, 0, 15)
        )
        assert delta_table_version(path) == 2
        hist = delta_history(path)
        assert [h["version"] for h in hist] == [0, 1, 2]
        assert hist[2]["operationParameters"]["mode"] == "overwrite"

    def test_partitioned_table_reconstructs_partition_column(self, spark, tmp_path):
        path = str(tmp_path / "t2")
        write_delta_table(_df(spark, 0, 30), path, partition_by=["part"])
        got = read_delta_table(spark, path)
        assert set(got.columns) == {"k", "v", "part"}
        assert _rows(got) == _rows(_df(spark, 0, 30))
        # partition values survive the directory round trip
        assert {r.part for r in got.select("part").distinct().collect()} == {
            "0", "1", "2"
        }
        # appends inherit the table's partitioning without re-passing it
        write_delta_table(_df(spark, 30, 33), path, mode="append")
        assert read_delta_table(spark, path).count() == 33

    def test_concurrent_commit_loses_cleanly(self, spark, tmp_path, monkeypatch):
        import etl_processing_scd1_spark.sources.delta as delta_mod

        path = str(tmp_path / "t3")
        write_delta_table(_df(spark, 0, 5), path)
        # race: a competing writer lands version 1 between this
        # writer's log listing and its commit
        real_list = delta_mod._list_versions

        def racy_list(p):
            versions = real_list(p)
            if versions == [0]:
                target = os.path.join(p, "_delta_log", f"{1:020d}.json")
                if not os.path.exists(target):
                    with open(target, "w") as fh:
                        fh.write(
                            json.dumps({"commitInfo": {"operation": "WRITE"}})
                            + "\n"
                        )
                return versions  # stale view: competitor not seen
            return versions

        monkeypatch.setattr(delta_mod, "_list_versions", racy_list)
        with pytest.raises(DeltaConcurrentCommit):
            write_delta_table(_df(spark, 5, 8), path, mode="append")
        monkeypatch.undo()
        # the loser corrupted nothing: both committed versions read
        assert read_delta_table(spark, path, version=0).count() == 5
        assert read_delta_table(spark, path).count() == 5
        # and a clean retry on the fresh snapshot succeeds at v2
        assert write_delta_table(_df(spark, 5, 8), path, mode="append") == 2
        assert read_delta_table(spark, path).count() == 8

    def test_checkpoint_replay_equals_full_replay(self, spark, tmp_path):
        path = str(tmp_path / "t4")
        for i in range(6):
            write_delta_table(
                _df(spark, i * 2, i * 2 + 2), path,
                mode="append", checkpoint_interval=0,
            )
        write_checkpoint(spark, path, 4)
        assert os.path.exists(
            os.path.join(path, "_delta_log", f"{4:020d}.checkpoint.parquet")
        )
        # target beyond the checkpoint: replay = checkpoint + commit 5
        assert _rows(read_delta_table(spark, path)) == _rows(_df(spark, 0, 12))
        # target at the checkpoint exactly
        assert _rows(read_delta_table(spark, path, version=4)) == _rows(
            _df(spark, 0, 10)
        )
        # pre-checkpoint target must NOT use the newer checkpoint
        assert _rows(read_delta_table(spark, path, version=2)) == _rows(
            _df(spark, 0, 6)
        )

    def test_auto_checkpoint_every_interval(self, spark, tmp_path):
        path = str(tmp_path / "t5")
        for i in range(4):
            write_delta_table(
                _df(spark, i, i + 1), path, mode="append", checkpoint_interval=3
            )
        assert os.path.exists(
            os.path.join(path, "_delta_log", f"{3:020d}.checkpoint.parquet")
        )
        last = json.load(
            open(os.path.join(path, "_delta_log", "_last_checkpoint"))
        )
        assert last["version"] == 3

    def test_protocol_gating(self, spark, tmp_path):
        path = str(tmp_path / "t6")
        write_delta_table(_df(spark, 0, 3), path)
        # raise minReaderVersion beyond support in a new commit
        with open(os.path.join(path, "_delta_log", f"{1:020d}.json"), "w") as fh:
            fh.write(json.dumps({"protocol": {"minReaderVersion": 3,
                                              "minWriterVersion": 7}}) + "\n")
        with pytest.raises(DeltaProtocolError, match="minReaderVersion=3"):
            read_delta_table(spark, path)
        # older version untouched by the upgrade commit still reads
        assert read_delta_table(spark, path, version=0).count() == 3

    def test_reads_hand_authored_spec_log(self, spark, tmp_path):
        """A log assembled by hand from PROTOCOL.md primitives (not by
        this writer): data file + protocol/metaData/add actions."""
        path = str(tmp_path / "t7")
        os.makedirs(os.path.join(path, "_delta_log"))
        spark.range(0, 7).select(
            F.col("id").alias("a"), (F.col("id") + 1).alias("b")
        ).coalesce(1).write.parquet(str(tmp_path / "raw"))
        src = next(
            f for f in os.listdir(tmp_path / "raw") if f.endswith(".parquet")
        )
        os.replace(
            str(tmp_path / "raw" / src), os.path.join(path, "data-0.parquet")
        )
        schema = {
            "type": "struct",
            "fields": [
                {"name": "a", "type": "long", "nullable": True, "metadata": {}},
                {"name": "b", "type": "long", "nullable": True, "metadata": {}},
            ],
        }
        actions = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {
                "id": "00000000-0000-0000-0000-000000000000",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema),
                "partitionColumns": [],
                "configuration": {},
            }},
            {"add": {
                "path": "data-0.parquet",
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(path, "data-0.parquet")),
                "modificationTime": 0,
                "dataChange": True,
            }},
        ]
        with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
        got = read_delta_table(spark, path)
        assert got.columns == ["a", "b"]
        assert sorted((r.a, r.b) for r in got.collect()) == [
            (i, i + 1) for i in range(7)
        ]

    def test_empty_snapshot_after_full_overwrite_remove(self, spark, tmp_path):
        path = str(tmp_path / "t8")
        write_delta_table(_df(spark, 0, 4), path)
        empty = _df(spark, 0, 4).filter(F.lit(False))
        write_delta_table(empty, path, mode="overwrite")
        got = read_delta_table(spark, path)
        assert got.count() == 0
        assert set(got.columns) == {"k", "v", "part"}


class TestStreamingDeltaSink:
    def test_stream_matches_batch_and_replay_is_idempotent(self, spark, tmp_path):
        import glob
        import shutil

        from etl_processing_scd1_spark.sources.delta import (
            delta_last_txn_version,
        )
        from etl_processing_scd1_spark.streaming.pipeline import (
            streaming_delta_sink,
        )

        src = _df(spark, 0, 40)
        feed = tmp_path / "feed"
        feed.mkdir()
        src.filter(F.col("k") < 20).coalesce(1).write.parquet(
            str(feed / "_b1.tmp")
        )
        src.filter(F.col("k") >= 20).coalesce(1).write.parquet(
            str(feed / "_b2.tmp")
        )
        for i, f in enumerate(
            sorted(glob.glob(str(feed / "_b*.tmp" / "*.parquet")))
        ):
            shutil.copy(f, feed / f"{i:03d}.parquet")

        stream = spark.readStream.schema(src.schema).parquet(str(feed))
        table_path = str(tmp_path / "dt")
        q = streaming_delta_sink(
            stream, table_path, checkpoint_dir=str(tmp_path / "ck"),
            app_id="test-app",
        )
        q.awaitTermination(180)
        assert _rows(read_delta_table(spark, table_path)) == _rows(src)
        watermark = delta_last_txn_version(spark, table_path, "test-app")
        assert watermark >= 0

        # at-least-once redelivery: re-running the same feed against a
        # FRESH checkpoint replays batch ids from 0 — every one is at
        # or below the committed watermark, so nothing double-appends
        stream2 = spark.readStream.schema(src.schema).parquet(str(feed))
        q2 = streaming_delta_sink(
            stream2, table_path, checkpoint_dir=str(tmp_path / "ck2"),
            app_id="test-app",
        )
        q2.awaitTermination(180)
        assert _rows(read_delta_table(spark, table_path)) == _rows(src)

    def test_distinct_app_ids_do_append(self, spark, tmp_path):
        from etl_processing_scd1_spark.streaming.pipeline import (
            streaming_delta_sink,
        )

        src = _df(spark, 0, 6)
        feed = tmp_path / "feed2"
        feed.mkdir()
        src.coalesce(1).write.parquet(str(feed / "_b.tmp"))
        import glob
        import shutil

        for i, f in enumerate(
            sorted(glob.glob(str(feed / "_b.tmp" / "*.parquet")))
        ):
            shutil.copy(f, feed / f"{i:03d}.parquet")
        table_path = str(tmp_path / "dt2")
        for app, ck in (("a", "cka"), ("b", "ckb")):
            stream = spark.readStream.schema(src.schema).parquet(str(feed))
            q = streaming_delta_sink(
                stream, table_path, checkpoint_dir=str(tmp_path / ck),
                app_id=app,
            )
            q.awaitTermination(180)
        # two independent writers: rows appear twice
        assert read_delta_table(spark, table_path).count() == 12


class TestChangeDataFeed:
    def test_inserts_deletes_and_netting(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import delta_changes

        path = str(tmp_path / "cdf")
        write_delta_table(_df(spark, 0, 5), path)              # v0
        write_delta_table(_df(spark, 5, 8), path, mode="append")   # v1
        write_delta_table(_df(spark, 100, 102), path, mode="overwrite")  # v2

        # window (0, 1]: pure append
        ch = delta_changes(spark, path, 0, 1)
        assert {r._change_type for r in ch.collect()} == {"insert"}
        assert sorted(r.k for r in ch.collect()) == [5, 6, 7]
        # window (0, 2]: v1's files were added AND removed inside the
        # window -> net out; v0's files deleted; v2's inserted
        ch = delta_changes(spark, path, 0, 2)
        ins = sorted(r.k for r in ch.collect() if r._change_type == "insert")
        dels = sorted(r.k for r in ch.collect() if r._change_type == "delete")
        assert ins == [100, 101]
        assert dels == [0, 1, 2, 3, 4]
        assert {r._commit_version for r in ch.collect()} == {2}
        # full window from -1 equals current snapshot as inserts + nothing
        ch = delta_changes(spark, path, -1)
        assert sorted(r.k for r in ch.collect() if r._change_type == "insert") \
            == [100, 101]

    def test_empty_window(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import delta_changes

        path = str(tmp_path / "cdf2")
        write_delta_table(_df(spark, 0, 3), path)
        ch = delta_changes(spark, path, 0, 0)
        assert ch.count() == 0
        assert "_change_type" in ch.columns

    def test_expired_log_window_raises_not_silently_truncates(
        self, spark, tmp_path
    ):
        """CDF over a log head removed by expire_delta_log must raise:
        replaying from the checkpoint would silently omit the expired
        commits' insert events while looking like a full-history feed
        (the from_version=-1 DataSource default was the trap)."""
        from etl_processing_scd1_spark.sources.delta import (
            delta_changes,
            expire_delta_log,
        )

        path = str(tmp_path / "cdfexp")
        for i in range(8):
            write_delta_table(
                _df(spark, i * 5, i * 5 + 5), path,
                mode="append", checkpoint_interval=0,
            )
        assert expire_delta_log(spark, path, keep_last=3) == 5
        for bad_start in (-1, 0, 2):
            with pytest.raises(DeltaProtocolError, match="expired"):
                delta_changes(spark, path, bad_start)
        # the retained window still reads fine
        ch = delta_changes(spark, path, 5)
        assert sorted(r.k for r in ch.collect()) == list(range(30, 40))
        assert {r._change_type for r in ch.collect()} == {"insert"}
        # and the DataSource CDF reader shares the guard
        from etl_processing_scd1_spark.sources.deltalog_datasource import (
            DeltaLogDataSource,
        )

        spark.dataSource.register(DeltaLogDataSource)
        with pytest.raises(Exception, match="expired"):
            (
                spark.read.format("deltalog")
                .option("readChangeFeed", "true")
                .option("startingVersion", 0)
                .load(path)
                .collect()
            )

    def test_preexisting_path_removed_then_readded_nets_out(
        self, spark, tmp_path
    ):
        """Foreign-written logs may reuse file paths: a file active
        BEFORE the window, removed then re-added INSIDE it, is visible
        at both endpoints — CDC must emit NEITHER (the old asymmetric
        netting kept the insert and double-counted the rows)."""
        from etl_processing_scd1_spark.sources.delta import (
            _atomic_commit,
            _commit_file,
            _read_actions,
            delta_changes,
        )

        path = str(tmp_path / "cdf3")
        write_delta_table(_df(spark, 0, 5).coalesce(1), path)  # v0
        with open(_commit_file(path, 0)) as fh:
            adds = [a["add"] for a in _read_actions(fh) if "add" in a]
        assert len(adds) == 1
        _atomic_commit(path, 1, [
            {"remove": {"path": adds[0]["path"], "deletionTimestamp": 0,
                        "dataChange": True}},
        ])
        _atomic_commit(path, 2, [{"add": adds[0]}])
        ch = delta_changes(spark, path, 0, 2)
        assert ch.count() == 0
        # and the plain windows around it still behave
        assert delta_changes(spark, path, 0, 1).filter(
            "_change_type = 'delete'"
        ).count() == 5
        assert delta_changes(spark, path, 1, 2).filter(
            "_change_type = 'insert'"
        ).count() == 5

    def test_row_level_cdf_over_dv_commits(self, spark, tmp_path):
        """DV commits emit ROW-level deletes with per-commit
        attribution; inserts subtract the END snapshot's DV and
        file-level deletes subtract the START snapshot's DV, so rows
        never double-count."""
        from etl_processing_scd1_spark.sources.delta import (
            delete_delta_rows,
            delta_changes,
        )

        path = str(tmp_path / "cdf4")
        write_delta_table(_df(spark, 0, 20).coalesce(1), path)        # v0
        delete_delta_rows(spark, path, "k < 3")                       # v1
        delete_delta_rows(spark, path, "k >= 18")                     # v2
        write_delta_table(_df(spark, 20, 25), path, mode="append")    # v3
        ch = delta_changes(spark, path, 0, 3).collect()
        dels = {(r.k, r._commit_version) for r in ch
                if r._change_type == "delete"}
        assert dels == {(0, 1), (1, 1), (2, 1), (18, 2), (19, 2)}
        ins = {(r.k, r._commit_version) for r in ch
               if r._change_type == "insert"}
        assert ins == {(k, 3) for k in range(20, 25)}
        # a window starting between the two DV commits sees ONLY the
        # second delta (start snapshot's DV is the baseline)
        ch2 = delta_changes(spark, path, 1, 2).collect()
        assert {(r.k, r._change_type) for r in ch2} == {
            (18, "delete"), (19, "delete"),
        }

        # insert-then-DV inside one window: the file was not visible
        # at start, so its rows emit as inserts MINUS the end DV and
        # no delete events
        p2 = str(tmp_path / "cdf5")
        write_delta_table(_df(spark, 0, 10).coalesce(1), p2)          # v0
        write_delta_table(
            _df(spark, 10, 20).coalesce(1), p2, mode="append"
        )                                                             # v1
        delete_delta_rows(spark, p2, "k = 12")                        # v2
        ch3 = delta_changes(spark, p2, 0, 2).collect()
        assert {r._change_type for r in ch3} == {"insert"}
        assert sorted(r.k for r in ch3) == [k for k in range(10, 20) if k != 12]
        # file-level delete after a DV: rows already dead at START
        # are not re-emitted
        write_delta_table(
            _df(spark, 0, 1).coalesce(1), p2, mode="overwrite"
        )                                                             # v3
        ch4 = delta_changes(spark, p2, 2, 3).collect()
        dels = sorted(r.k for r in ch4 if r._change_type == "delete")
        assert dels == [k for k in range(20) if k != 12]
        assert sorted(r.k for r in ch4 if r._change_type == "insert") == [0]


class TestVacuum:
    def test_orphans_deleted_referenced_kept(self, spark, tmp_path):
        import glob

        from etl_processing_scd1_spark.sources.delta import vacuum_delta_table

        path = str(tmp_path / "vac")
        write_delta_table(_df(spark, 0, 5), path)
        write_delta_table(_df(spark, 5, 8), path, mode="overwrite")
        # plant an orphan (simulated lost commit race)
        orphan = os.path.join(path, "part-orphan.parquet")
        real = glob.glob(os.path.join(path, "*.parquet"))[0]
        import shutil

        shutil.copy(real, orphan)
        # default retention (7 days) protects the fresh orphan — a
        # concurrent writer's moved-but-uncommitted file looks exactly
        # like this
        assert vacuum_delta_table(spark, path) == []
        assert os.path.exists(orphan)
        deleted = vacuum_delta_table(spark, path, retention_hours=0.0)
        assert deleted == ["part-orphan.parquet"]
        # both snapshots still read (time travel intact)
        assert read_delta_table(spark, path, version=0).count() == 5
        assert read_delta_table(spark, path, version=1).count() == 3

    def test_staged_dirs_never_touched(self, spark, tmp_path):
        """An in-flight writer's _staged-* spark output area is
        unreferenced by definition; vacuum must skip it even with
        zero retention."""
        import glob
        import shutil

        from etl_processing_scd1_spark.sources.delta import vacuum_delta_table

        path = str(tmp_path / "vac2")
        write_delta_table(_df(spark, 0, 5), path)
        staged = os.path.join(path, "_staged-deadbeef")
        os.makedirs(staged)
        real = glob.glob(os.path.join(path, "*.parquet"))[0]
        shutil.copy(real, os.path.join(staged, "part-inflight.parquet"))
        assert vacuum_delta_table(spark, path, retention_hours=0.0) == []
        assert os.path.exists(os.path.join(staged, "part-inflight.parquet"))

    def test_log_expiry_then_vacuum_keeps_checkpoint_files(
        self, spark, tmp_path
    ):
        """expire_delta_log removes old commit JSONs behind a
        checkpoint; vacuum afterwards must NOT delete files whose only
        remaining reference is that checkpoint (the keep-set reads
        checkpoint add paths)."""
        from etl_processing_scd1_spark.sources.delta import (
            _list_versions,
            expire_delta_log,
            vacuum_delta_table,
        )

        path = str(tmp_path / "exp")
        for i in range(8):
            write_delta_table(
                _df(spark, i * 5, i * 5 + 5), path,
                mode="append", checkpoint_interval=0,
            )
        assert expire_delta_log(spark, path, keep_last=3) == 5
        assert _list_versions(path) == [5, 6, 7]
        assert os.path.exists(
            os.path.join(path, "_delta_log", f"{5:020d}.checkpoint.parquet")
        )
        # retained versions replay checkpoint + tail
        assert read_delta_table(spark, path).count() == 40
        assert read_delta_table(spark, path, version=5).count() == 30
        # expired versions are gone by design
        with pytest.raises(ValueError, match="not in table"):
            read_delta_table(spark, path, version=2)
        # the critical interaction: vacuum keep-set must include the
        # checkpoint's adds — files from commits 0..4 have no JSON
        # reference anymore
        assert vacuum_delta_table(spark, path, retention_hours=0.0) == []
        assert read_delta_table(spark, path).count() == 40
        # expiry is idempotent / no-op under the threshold
        assert expire_delta_log(spark, path, keep_last=3) == 0
        # appends keep working after expiry
        write_delta_table(_df(spark, 40, 42), path, mode="append")
        assert read_delta_table(spark, path).count() == 42
        with pytest.raises(ValueError, match=">= 1"):
            expire_delta_log(spark, path, keep_last=0)


class TestRestore:
    def test_restore_across_overwrite_and_dv(self, spark, tmp_path):
        """RESTORE re-points the file set metadata-only: across an
        overwrite AND across a DV delete (the re-added file carries
        the TARGET's deletion vector, not the current one); history
        stays time-travelable and writes continue."""
        from etl_processing_scd1_spark.sources.delta import (
            delete_delta_rows,
            restore_delta_table,
        )

        path = str(tmp_path / "rst")
        write_delta_table(_df(spark, 0, 10), path)                    # v0
        delete_delta_rows(spark, path, "k < 2")                      # v1: 8 rows
        write_delta_table(_df(spark, 100, 103), path, mode="overwrite")  # v2
        # restore to the DV state
        assert restore_delta_table(spark, path, 1) == 3
        got = read_delta_table(spark, path)
        assert sorted(r.k for r in got.collect()) == list(range(2, 10))
        # restore to the pre-delete state: same file, DIFFERENT DV
        assert restore_delta_table(spark, path, 0) == 4
        assert read_delta_table(spark, path).count() == 10
        # the restored-over states remain time-travelable
        assert read_delta_table(spark, path, version=2).count() == 3
        assert read_delta_table(spark, path, version=3).count() == 8
        # no-op restore commits nothing
        assert restore_delta_table(spark, path, 0) == 4
        # writing continues on the restored state
        write_delta_table(_df(spark, 10, 12), path, mode="append")
        assert read_delta_table(spark, path).count() == 12


class TestDeltaLogDataSource:
    """Spark-4 Python DataSource API (format('deltalog')) over the
    transaction log: batch snapshot reads with time travel, partition
    constants reattached per file, and the incremental streaming
    source whose offsets are log versions."""

    @pytest.fixture()
    def registered(self, spark):
        from etl_processing_scd1_spark.sources.deltalog_datasource import (
            DeltaLogDataSource,
        )

        spark.dataSource.register(DeltaLogDataSource)
        return spark

    def test_batch_read_and_time_travel(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "ds")
        write_delta_table(_df(spark, 0, 20), path, partition_by=["part"])
        got = spark.read.format("deltalog").load(path)
        assert sorted(got.columns) == ["k", "part", "v"]
        assert _rows(got) == _rows(_df(spark, 0, 20))
        # partition column values come from add-action partitionValues
        assert sorted(
            r.part for r in got.select("part").distinct().collect()
        ) == ["0", "1", "2"]
        write_delta_table(_df(spark, 100, 103), path, mode="overwrite")
        assert _rows(
            spark.read.format("deltalog").option("versionAsOf", 0).load(path)
        ) == _rows(_df(spark, 0, 20))
        assert _rows(spark.read.format("deltalog").load(path)) == _rows(
            _df(spark, 100, 103)
        )

    def test_streaming_incremental_appends(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "dss")
        ck = str(tmp_path / "ck")
        write_delta_table(_df(spark, 0, 10), path)

        def drain(sink):
            stream = spark.readStream.format("deltalog").load(path)
            q = (
                stream.writeStream.foreachBatch(
                    lambda b, bid: sink.append(sorted(r.k for r in b.collect()))
                )
                .trigger(availableNow=True)
                .option("checkpointLocation", ck)
                .start()
            )
            q.awaitTermination(180)

        got1: list = []
        drain(got1)
        assert [ks for ks in got1 if ks] == [list(range(10))]
        # appends land; the SAME checkpoint resumes from the committed
        # version offset and sees ONLY the new files
        write_delta_table(_df(spark, 10, 15), path, mode="append")
        write_delta_table(_df(spark, 15, 18), path, mode="append")
        got2: list = []
        drain(got2)
        assert sorted(k for ks in got2 for k in ks) == list(range(10, 18))
        # nothing new -> nothing emitted
        got3: list = []
        drain(got3)
        assert [ks for ks in got3 if ks] == []

    def test_rate_limited_drain_one_micro_batch_per_version(
        self, registered, tmp_path
    ):
        """maxVersionsPerBatch=1 splits a drain into one micro-batch
        per commit — the incremental-batching contract availableNow
        cannot provide for Python DataSources (Spark's
        PythonMicroBatchStream lacks SupportsTriggerAvailableNow, so
        availableNow always downgrades to a single batch)."""
        import time

        spark = registered
        path = str(tmp_path / "rl")
        write_delta_table(_df(spark, 0, 5).coalesce(1), path)              # v0
        write_delta_table(
            _df(spark, 5, 10).coalesce(1), path, mode="append"
        )                                                                  # v1
        batches: list = []
        q = (
            spark.readStream.format("deltalog")
            .option("maxVersionsPerBatch", "1")
            .load(path)
            .writeStream.foreachBatch(
                lambda b, bid: batches.append(
                    (bid, sorted(r.k for r in b.collect()))
                )
            )
            .trigger(processingTime="50 milliseconds")
            .option("checkpointLocation", str(tmp_path / "rlck"))
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline and \
                    sum(len(ks) for _, ks in batches) < 10:
                time.sleep(0.2)
            # the rows arrive inside the last batch's function, before
            # Spark commits that batch; stopping then would leave it
            # uncommitted, and the restart below would replay it
            q.processAllAvailable()
        finally:
            q.stop()
        fed = [(bid, ks) for bid, ks in batches if ks]
        # TWO micro-batches, one commit each, in commit order
        assert [ks for _, ks in fed] == [list(range(5)), list(range(5, 10))]
        assert fed[0][0] < fed[1][0]

        # RESTART under the cap: the restored offset reaches the
        # reader as a degenerate partitions(restored, restored) call
        # (PythonMicroBatchStream.setLatestSeenOffset), re-seeding the
        # cap base — no committed version is re-planned, no replay.
        write_delta_table(
            _df(spark, 10, 15).coalesce(1), path, mode="append"
        )                                                              # v2
        write_delta_table(
            _df(spark, 15, 20).coalesce(1), path, mode="append"
        )                                                              # v3
        batches2: list = []
        q = (
            spark.readStream.format("deltalog")
            .option("maxVersionsPerBatch", "1")
            .load(path)
            .writeStream.foreachBatch(
                lambda b, bid: batches2.append(
                    (bid, sorted(r.k for r in b.collect()))
                )
            )
            .trigger(processingTime="50 milliseconds")
            .option("checkpointLocation", str(tmp_path / "rlck"))
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline and \
                    sum(len(ks) for _, ks in batches2) < 10:
                time.sleep(0.2)
        finally:
            q.stop()
        fed2 = [ks for _, ks in batches2 if ks]
        assert fed2 == [list(range(10, 15)), list(range(15, 20))]


class TestDeltaStatsPruning:
    def test_plan_files_and_reader_pushdown(self, spark, tmp_path):
        """Per-file stats (footer min/max in the add-action's spec
        `stats` JSON) prune scan plans: delta_plan_files, the
        predicate read, and the deltalog DataSource's pushFilters all
        skip non-intersecting files; results equal the unpruned read
        + exact filter (superset guarantee)."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThanOrEqual,
            LessThanOrEqual,
        )

        from etl_processing_scd1_spark.sources.delta import delta_plan_files
        from etl_processing_scd1_spark.sources.deltalog_datasource import (
            DeltaLogDataSource,
        )

        spark.dataSource.register(DeltaLogDataSource)
        path = str(tmp_path / "pf")
        df = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") % 4).cast("string").alias("part")
        )
        write_delta_table(df.repartitionByRange(8, "k"), path)
        assert len(delta_plan_files(path)) == 8
        pruned = delta_plan_files(path, predicates={"k": (100, 150)})
        assert 1 <= len(pruned) < 8
        r = DeltaLogDataSource({"path": path}).reader(df.schema)
        r.pushFilters([GreaterThanOrEqual(("k",), 100),
                       LessThanOrEqual(("k",), 150)])
        assert len(r.partitions()) == len(pruned)
        got = (
            spark.read.format("deltalog").load(path)
            .filter("k between 100 and 150")
        )
        assert sorted(row.k for row in got.collect()) == list(range(100, 151))
        # predicate read through the plain reader too
        got2 = read_delta_table(
            spark, path, predicates={"k": (100, 150)}
        ).filter("k between 100 and 150")
        assert got2.count() == 51

        # partitionValues equality pruning (no stats for hive columns)
        path2 = str(tmp_path / "pf2")
        write_delta_table(df, path2, partition_by=["part"])
        r_all = DeltaLogDataSource({"path": path2}).reader(df.schema)
        n_all = len(r_all.partitions())
        r_eq = DeltaLogDataSource({"path": path2}).reader(df.schema)
        r_eq.pushFilters([EqualTo(("part",), "2")])
        assert 1 <= len(r_eq.partitions()) < n_all
        got3 = spark.read.format("deltalog").load(path2).filter("part = '2'")
        assert got3.count() == 250


class TestDeltaLogDataSourceWriter:
    """The write half of format('deltalog'): executors stream Arrow
    batches into uniquely-named parquet files and report them in
    commit messages; the driver turns the messages into ONE
    put-if-absent log commit — the cluster-correct Delta commit
    protocol (no staging, no renames)."""

    @pytest.fixture()
    def registered(self, spark):
        from etl_processing_scd1_spark.sources.deltalog_datasource import (
            DeltaLogDataSource,
        )

        spark.dataSource.register(DeltaLogDataSource)
        return spark

    def test_append_overwrite_time_travel(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "w1")
        _df(spark, 0, 50).write.format("deltalog").mode("append").save(path)
        assert _rows(read_delta_table(spark, path)) == _rows(_df(spark, 0, 50))
        _df(spark, 50, 60).write.format("deltalog").mode("append").save(path)
        assert read_delta_table(spark, path).count() == 60
        _df(spark, 0, 5).write.format("deltalog").mode("overwrite").save(path)
        assert _rows(read_delta_table(spark, path)) == _rows(_df(spark, 0, 5))
        assert read_delta_table(spark, path, version=1).count() == 60
        # stats written by the executor path drive pruning too
        from etl_processing_scd1_spark.sources.delta import delta_plan_files

        assert delta_plan_files(path, predicates={"k": (10**9, None)}) == []

    def test_partitioned_write_via_option(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "w2")
        (
            _df(spark, 0, 30)
            .write.format("deltalog")
            .mode("append")
            .option("partitionBy", "part")
            .save(path)
        )
        got = read_delta_table(spark, path)
        assert _rows(got) == _rows(_df(spark, 0, 30))
        assert sorted(
            d for d in os.listdir(path) if d.startswith("part=")
        ) == ["part=0", "part=1", "part=2"]
        # round trip through the source reader (partition constants)
        assert _rows(spark.read.format("deltalog").load(path)) == _rows(
            _df(spark, 0, 30)
        )

    def test_append_inherits_partition_spec_and_checks_schema(
        self, registered, tmp_path
    ):
        """Appending to a partitioned table WITHOUT partitionBy must
        inherit the table's spec (else foreign readers reconstructing
        partition columns from partitionValues see unpartitioned
        corruption); mismatched column names must raise before any
        file is written."""
        from etl_processing_scd1_spark.sources.delta import _replay

        spark = registered
        path = str(tmp_path / "w4")
        write_delta_table(_df(spark, 0, 10), path, partition_by=["part"])
        _df(spark, 10, 20).write.format("deltalog").mode("append").save(path)
        snap = _replay(None, path, None)
        assert all(
            set(add.get("partitionValues") or {}) == {"part"}
            for add in snap.files.values()
        )
        assert _rows(spark.read.format("deltalog").load(path)) == _rows(
            _df(spark, 0, 20)
        )
        with pytest.raises(Exception, match="do not match the"):
            (
                _df(spark, 0, 3).withColumnRenamed("v", "w")
                .write.format("deltalog").mode("append").save(path)
            )
        with pytest.raises(Exception, match="conflicts with"):
            (
                _df(spark, 0, 3).write.format("deltalog").mode("append")
                .option("partitionBy", "k").save(path)
            )

    def test_boolean_partition_filter_pushdown(self, registered, tmp_path):
        """Spark hive-encodes booleans as 'true'/'false'; the pushed
        EqualTo carries Python True. A str()-based prune compares
        'True' != 'true' and silently returns an EMPTY result — the
        typed compare must keep the matching files."""
        spark = registered
        path = str(tmp_path / "w5")
        df = spark.range(0, 40).select(
            F.col("id").alias("k"), (F.col("id") % 2 == 0).alias("flag")
        )
        write_delta_table(df, path, partition_by=["flag"])
        got = spark.read.format("deltalog").load(path).filter("flag = true")
        assert sorted(r.k for r in got.collect()) == list(range(0, 40, 2))
        got2 = spark.read.format("deltalog").load(path).filter("flag = false")
        assert got2.count() == 20

    def test_writer_reader_full_loop(self, registered, tmp_path):
        """write.format('deltalog') → readStream.format('deltalog'):
        the same registered source serves both halves."""
        spark = registered
        path = str(tmp_path / "w3")
        _df(spark, 0, 10).write.format("deltalog").mode("append").save(path)
        out: list = []
        q = (
            spark.readStream.format("deltalog").load(path)
            .writeStream.foreachBatch(
                lambda b, bid: out.append(b.count())
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        q.awaitTermination(180)
        assert sum(out) == 10


class TestDeletionVectors:
    """PROTOCOL.md §Deletion Vectors: merge-on-read row deletes via
    RoaringBitmapArray sidecars — codec round trips, delete commits,
    scan-time application in both readers, protocol gating, CDF
    guard, and the streaming skip."""

    def test_roaring_codec_roundtrip_and_run_containers(self):
        import struct

        from etl_processing_scd1_spark.sources.delta import (
            _rba_decode,
            _rba_encode,
            _roaring32_deserialize,
        )

        # array + bitset (>4096) containers, multiple high words
        vals = list(range(0, 9000, 2)) + [70000, (1 << 33) + 7]
        assert _rba_decode(_rba_encode(vals)) == sorted(vals)
        # hand-built RUN container (cookie 12347) — foreign writers
        # emit these; our writer doesn't, so decode is tested raw
        raw = struct.pack("<I", ((1 - 1) << 16) | 12347)  # 1 container
        raw += b"\x01"            # run flag bitset: container 0 is runs
        raw += struct.pack("<HH", 0, 5 - 1)   # key 0, cardinality 5
        raw += struct.pack("<H", 2)           # 2 runs
        raw += struct.pack("<HH", 10, 2)      # 10,11,12
        raw += struct.pack("<HH", 100, 1)     # 100,101
        got, pos = _roaring32_deserialize(raw, 0)
        assert got == [10, 11, 12, 100, 101]
        assert pos == len(raw)

    def test_delete_read_time_travel_stacked(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import delete_delta_rows

        path = str(tmp_path / "dv1")
        write_delta_table(_df(spark, 0, 100).repartition(4), path)
        assert delete_delta_rows(spark, path, "k % 5 = 0") == 1
        got = read_delta_table(spark, path)
        assert got.count() == 80
        assert got.filter("k % 5 = 0").count() == 0
        assert sorted(r.k for r in got.collect()) == [
            k for k in range(100) if k % 5
        ]
        # pre-delete snapshot intact
        assert read_delta_table(spark, path, version=0).count() == 100
        # second delete merges with the existing DV
        assert delete_delta_rows(spark, path, "k = 7") == 2
        assert read_delta_table(spark, path).count() == 79
        # no-op: no commit
        assert delete_delta_rows(spark, path, "k = -1") == 2
        # appends still work after the protocol upgrade
        write_delta_table(_df(spark, 100, 110), path, mode="append")
        assert read_delta_table(spark, path).count() == 89

    def test_partitioned_table_and_datasource(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import delete_delta_rows
        from etl_processing_scd1_spark.sources.deltalog_datasource import (
            DeltaLogDataSource,
        )

        spark.dataSource.register(DeltaLogDataSource)
        path = str(tmp_path / "dv2")
        write_delta_table(_df(spark, 0, 60), path, partition_by=["part"])
        delete_delta_rows(spark, path, "part = '1' OR k = 0")
        got = read_delta_table(spark, path)
        assert got.count() == 39
        assert got.filter("part = '1'").count() == 0
        ds = spark.read.format("deltalog").load(path)
        assert ds.count() == 39
        assert sorted(r.k for r in ds.collect()) == sorted(
            k for k in range(1, 60) if k % 3 != 1
        )
        # time travel through the DataSource ignores the later DV
        tt = spark.read.format("deltalog").option("versionAsOf", 0).load(path)
        assert tt.count() == 60

    def test_inline_storage_type(self, spark, tmp_path):
        """storageType 'i': the bitmap rides z85-encoded inside the
        descriptor itself — rewrite a DV add action to inline form
        and the reader must still apply it."""
        import json as _json

        from etl_processing_scd1_spark.sources.delta import (
            _commit_file,
            _rba_encode,
            _z85_encode,
            delete_delta_rows,
        )

        path = str(tmp_path / "dv3")
        write_delta_table(_df(spark, 0, 20).coalesce(1), path)
        delete_delta_rows(spark, path, "k < 5")
        f = _commit_file(path, 1)
        lines = [ln for ln in open(f).read().splitlines() if ln.strip()]
        out = []
        data = _rba_encode(list(range(5)))
        pad = (-len(data)) % 4
        for ln in lines:
            a = _json.loads(ln)
            if "add" in a and a["add"].get("deletionVector"):
                a["add"]["deletionVector"] = {
                    "storageType": "i",
                    "pathOrInlineDv": _z85_encode(data + b"\x00" * pad),
                    "sizeInBytes": len(data),
                    "cardinality": 5,
                }
            out.append(_json.dumps(a))
        open(f, "w").write("\n".join(out) + "\n")
        got = read_delta_table(spark, path)
        assert sorted(r.k for r in got.collect()) == list(range(5, 20))

    def test_protocol_gate_other_v3_features(self, spark, tmp_path):
        import json as _json

        from etl_processing_scd1_spark.sources.delta import _commit_file

        path = str(tmp_path / "dv4")
        write_delta_table(_df(spark, 0, 5), path)
        f = _commit_file(path, 0)
        lines = [ln for ln in open(f).read().splitlines() if ln.strip()]
        out = []
        for ln in lines:
            a = _json.loads(ln)
            if "protocol" in a:
                a["protocol"] = {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    # v2Checkpoint is SUPPORTED since round 10; an
                    # unknown feature still gates loudly
                    "readerFeatures": ["deletionVectors", "v2Checkpoint"],
                    "writerFeatures": [],
                }
            out.append(_json.dumps(a))
        open(f, "w").write("\n".join(out) + "\n")
        assert _rows(read_delta_table(spark, path)) == _rows(_df(spark, 0, 5))
        out2 = []
        for ln in open(f).read().splitlines():
            a = _json.loads(ln)
            if "protocol" in a:
                # typeWidening graduated to a SUPPORTED reader feature
                # (round 11); gate on a genuinely unknown one
                a["protocol"]["readerFeatures"] = ["futureReaderFeature"]
            out2.append(_json.dumps(a))
        open(f, "w").write("\n".join(out2) + "\n")
        with pytest.raises(Exception, match="futureReaderFeature"):
            read_delta_table(spark, path)

    def test_cdf_row_level_and_streaming_skip(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            delete_delta_rows,
            delta_changes,
        )
        from etl_processing_scd1_spark.sources.deltalog_datasource import (
            DeltaLogDataSource,
        )

        spark.dataSource.register(DeltaLogDataSource)
        path = str(tmp_path / "dv5")
        ck = str(tmp_path / "ck")
        write_delta_table(_df(spark, 0, 10), path)

        def drain():
            got: list = []
            q = (
                spark.readStream.format("deltalog").load(path)
                .writeStream.foreachBatch(
                    lambda b, bid: got.append(b.count())
                )
                .trigger(availableNow=True)
                .option("checkpointLocation", ck)
                .start()
            )
            q.awaitTermination(180)
            return sum(got)

        assert drain() == 10
        delete_delta_rows(spark, path, "k < 3")
        # appends-stream consumer must NOT re-emit the DV re-add
        assert drain() == 0
        # ...but CDF turns the DV commit into ROW-level deletes
        ch = delta_changes(spark, path, 0, 1).collect()
        assert {(r.k, r._change_type, r._commit_version) for r in ch} == {
            (0, "delete", 1), (1, "delete", 1), (2, "delete", 1),
        }

    def test_checkpoint_preserves_deletion_vectors(self, spark, tmp_path):
        """A checkpoint written AFTER a DV delete must persist both
        the v3 protocol readerFeatures and the per-file
        ``deletionVector`` descriptors — replay starts at ckpt+1, so
        losing either would resurrect deleted rows or trip the
        spec-invalid-protocol gate."""
        from etl_processing_scd1_spark.sources.delta import (
            _replay,
            delete_delta_rows,
            write_checkpoint,
        )

        path = str(tmp_path / "dvck")
        write_delta_table(_df(spark, 0, 50).repartition(2), path)
        delete_delta_rows(spark, path, "k % 10 = 0")            # v1
        write_delta_table(_df(spark, 50, 60), path, mode="append")  # v2
        write_checkpoint(spark, path, 2)
        assert os.path.exists(
            os.path.join(path, "_delta_log", f"{2:020d}.checkpoint.parquet")
        )
        got = read_delta_table(spark, path)
        assert got.count() == 55
        assert got.filter("k % 10 = 0 AND k < 50").count() == 0
        snap = _replay(spark, path, 2)
        assert snap.protocol["minReaderVersion"] == 3
        assert "deletionVectors" in snap.protocol["readerFeatures"]
        # non-DV adds replayed from the checkpoint must NOT grow a
        # literal None descriptor (JSON-log shape preserved)
        assert all(
            "deletionVector" not in a or a["deletionVector"]
            for a in snap.files.values()
        )
        # a delete AFTER the checkpoint merges with the replayed DV
        assert delete_delta_rows(spark, path, "k = 1 OR k = 51") == 3
        assert read_delta_table(spark, path).count() == 53
        # and time travel to v1 through the checkpointed log still
        # sees exactly the first delete
        assert read_delta_table(spark, path, version=1).count() == 45

    def test_dv_recommit_remove_carries_prior_descriptor(
        self, spark, tmp_path
    ):
        """Protocol interop: logical files reconcile by (path,
        deletionVector.uniqueId), so when a second DML touches a file
        that already carries a DV, the remove action must name the OLD
        descriptor — a path-only remove leaves the (path, dv1) add
        live for a stock reader, double-counting its surviving rows."""
        from etl_processing_scd1_spark.sources.delta import (
            _commit_file,
            _read_actions,
            delete_delta_rows,
            restore_delta_table,
        )

        path = str(tmp_path / "dvre")
        write_delta_table(_df(spark, 0, 20).coalesce(1), path)   # v0
        assert delete_delta_rows(spark, path, "k < 3") == 1      # v1: dv1
        with open(_commit_file(path, 1)) as fh:
            acts = list(_read_actions(fh))
        dv1 = next(a["add"]["deletionVector"] for a in acts if "add" in a)
        # v1's remove retires the DV-less v0 add: path-only is correct
        rem0 = next(a["remove"] for a in acts if "remove" in a)
        assert "deletionVector" not in rem0

        assert delete_delta_rows(spark, path, "k >= 3 AND k < 5") == 2
        with open(_commit_file(path, 2)) as fh:
            acts = list(_read_actions(fh))
        rem = next(a["remove"] for a in acts if "remove" in a)
        assert rem["deletionVector"] == dv1
        assert rem["extendedFileMetadata"] is True
        assert rem["size"] > 0 and "partitionValues" in rem
        dv2 = next(a["add"]["deletionVector"] for a in acts if "add" in a)
        assert sorted(r.k for r in read_delta_table(spark, path).collect()) \
            == list(range(5, 20))

        # RESTORE's DV-differs leg: the remove retires the CURRENT
        # (path, dv2) entry, the re-add restores dv1
        assert restore_delta_table(spark, path, 1) == 3
        with open(_commit_file(path, 3)) as fh:
            acts = list(_read_actions(fh))
        rem = next(a["remove"] for a in acts if "remove" in a)
        assert rem["deletionVector"] == dv2
        add = next(a["add"] for a in acts if "add" in a)
        assert add["deletionVector"] == dv1
        assert sorted(r.k for r in read_delta_table(spark, path).collect()) \
            == list(range(3, 20))


class TestMergeOnReadDml:
    """update_delta_rows / merge_delta_table: DV-kill + re-insert in
    ONE commit — SQL UPDATE and MERGE INTO (SCD1 upsert) on the open
    Delta format, O(changed rows), no file rewritten."""

    def test_update_rows(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            update_delta_rows,
        )

        path = str(tmp_path / "up1")
        write_delta_table(_df(spark, 0, 20).repartition(2), path)
        v = update_delta_rows(spark, path, "k < 5", {"v": "v + 1000"})
        assert v == 1
        got = read_delta_table(spark, path)
        assert got.count() == 20
        rows = {r.k: r.v for r in got.collect()}
        assert rows[0] == 1000 and rows[4] == 1040 and rows[5] == 50
        # the pre-update snapshot is intact
        assert {r.k: r.v for r in
                read_delta_table(spark, path, version=0).collect()}[0] == 0
        # no match -> no commit
        assert update_delta_rows(spark, path, "k = -1", {"v": "0"}) == 1
        with pytest.raises(ValueError, match="SET columns"):
            update_delta_rows(spark, path, "k = 0", {"nope": "1"})

    def test_merge_scd1_upsert_and_idempotence(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            delta_table_version,
            merge_delta_table,
        )

        path = str(tmp_path / "mg1")
        write_delta_table(_df(spark, 0, 10).repartition(2), path)
        # keys 5..9 changed payload, 10..14 fresh inserts
        src = spark.range(5, 15).select(
            F.col("id").alias("k"),
            (F.col("id") * 10 + 1).alias("v"),
            (F.col("id") % 3).cast("string").alias("part"),
        )
        assert merge_delta_table(spark, src, path, ["k"]) == 1
        got = {r.k: r.v for r in read_delta_table(spark, path).collect()}
        assert len(got) == 15
        assert got[3] == 30 and got[7] == 71 and got[12] == 121
        # SCD1 idempotence: replaying the SAME merge commits NOTHING
        assert merge_delta_table(spark, src, path, ["k"]) == 1
        assert delta_table_version(path) == 1
        # a second real merge stacks DVs on the first
        src2 = spark.createDataFrame([(7, 72, "1")], "k long, v long, part string")
        assert merge_delta_table(spark, src2, path, ["k"]) == 2
        got = {r.k: r.v for r in read_delta_table(spark, path).collect()}
        assert len(got) == 15 and got[7] == 72 and got[8] == 81

    def test_merge_delete_missing_full_sync(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            merge_delta_table,
        )

        path = str(tmp_path / "mg2")
        write_delta_table(_df(spark, 0, 10), path)
        # full-sync SCD1: source = keys 0..4 unchanged -> 5..9 deleted
        merge_delta_table(
            spark, _df(spark, 0, 5), path, ["k"], delete_missing=True
        )
        got = read_delta_table(spark, path)
        assert sorted(r.k for r in got.collect()) == list(range(5))
        # merge into an EMPTY-snapshot table degrades to insert
        p2 = str(tmp_path / "mg3")
        write_delta_table(_df(spark, 0, 0), p2)
        merge_delta_table(spark, _df(spark, 0, 3), p2, ["k"])
        assert read_delta_table(spark, p2).count() == 3

    def test_merge_rejects_duplicate_source_keys(self, spark, tmp_path):
        """MERGE INTO semantics: multiple source rows matching one
        target row is an error, not a silent key duplication (two
        same-key source rows would DV-kill the target once and insert
        both)."""
        from etl_processing_scd1_spark.sources.delta import (
            merge_delta_table,
        )

        path = str(tmp_path / "mgdup")
        write_delta_table(_df(spark, 0, 10), path)
        dup_src = spark.createDataFrame(
            [(3, 31, "0"), (3, 32, "0"), (4, 41, "1")],
            "k long, v long, part string",
        )
        with pytest.raises(ValueError, match="duplicate"):
            merge_delta_table(spark, dup_src, path, ["k"])
        # nothing committed, table untouched
        assert delta_table_version(path) == 0
        assert read_delta_table(spark, path).count() == 10
        # NULL keys are one equivalence class too (matches eqNullSafe)
        null_dup = spark.createDataFrame(
            [(None, 1, "0"), (None, 2, "0")], "k long, v long, part string"
        )
        with pytest.raises(ValueError, match="duplicate"):
            merge_delta_table(spark, null_dup, path, ["k"])
        # a key column literally named "count" must not trip the probe
        # (groupBy().count() would make the reference ambiguous)
        p2 = str(tmp_path / "mgcount")
        cdf = spark.createDataFrame(
            [(1, 10), (2, 20)], "count long, v long"
        )
        write_delta_table(cdf, p2)
        src = spark.createDataFrame([(2, 21), (3, 30)], "count long, v long")
        merge_delta_table(spark, src, p2, ["count"])
        got = {r["count"]: r.v for r in read_delta_table(spark, p2).collect()}
        assert got == {1: 10, 2: 21, 3: 30}

    def test_merge_on_column_mapped_table_with_dvs(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            delete_delta_rows,
            merge_delta_table,
        )

        path = str(tmp_path / "mg4")
        write_delta_table(
            _df(spark, 0, 12), path, partition_by=["part"],
            column_mapping="name",
        )
        delete_delta_rows(spark, path, "k = 1")
        src = spark.range(2, 4).select(
            F.col("id").alias("k"),
            (F.col("id") * 10 + 5).alias("v"),
            (F.col("id") % 3).cast("string").alias("part"),
        )
        merge_delta_table(spark, src, path, ["k"])
        got = {r.k: r.v for r in read_delta_table(spark, path).collect()}
        assert len(got) == 11 and 1 not in got
        assert got[2] == 25 and got[3] == 35 and got[4] == 40


class TestColumnMapping:
    """PROTOCOL.md §Column Mapping, name mode: parquet columns,
    partition directories, partitionValues keys, and stats all carry
    uuid physical names; the log's schemaString holds the logical
    names plus the per-field mapping metadata. Writer creates/appends
    mapped tables; both readers project back to logical. Id mode is
    covered by TestColumnMappingIdMode."""

    def test_roundtrip_physical_layout_append_overwrite(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from etl_processing_scd1_spark.sources.delta import (
            _commit_file,
            _replay,
        )

        path = str(tmp_path / "cm1")
        write_delta_table(
            _df(spark, 0, 30), path, partition_by=["part"],
            column_mapping="name",
        )
        snap = _replay(spark, path, None)
        cm = snap.column_mapping
        assert set(cm) == {"k", "v", "part"}
        assert all(ph.startswith("col-") for ph in cm.values())
        assert snap.protocol == {"minReaderVersion": 2, "minWriterVersion": 5}
        # physical layout: file columns, partition dirs, and
        # partitionValues keys are the physical names
        rel, add = next(iter(snap.files.items()))
        assert f"{cm['part']}=" in rel
        assert set(add["partitionValues"]) == {cm["part"]}
        pf = pq.read_schema(os.path.join(path, rel))
        assert cm["k"] in pf.names and "k" not in pf.names
        # stats keyed physically
        assert cm["k"] in json.loads(add["stats"])["minValues"]
        # logical read
        got = read_delta_table(spark, path)
        assert got.columns == ["k", "v", "part"]
        assert sorted(r.k for r in got.collect()) == list(range(30))
        # append inherits the mapping (logical input)
        write_delta_table(_df(spark, 30, 40), path, mode="append")
        assert read_delta_table(spark, path).count() == 40
        # overwrite keeps the mapped metadata
        write_delta_table(_df(spark, 0, 5), path, mode="overwrite")
        assert read_delta_table(spark, path).count() == 5
        # append with a column outside the schema EVOLVES the mapping
        # (add-column evolution — TestAddColumnEvolution pins details)
        write_delta_table(
            _df(spark, 100, 101).withColumn("extra", F.lit(1)), path,
            mode="append",
        )
        snap2 = _replay(spark, path, None)
        assert "extra" in snap2.column_mapping
        got = read_delta_table(spark, path)
        assert {r.k: r.extra for r in got.collect()}[100] == 1
        assert got.filter("extra IS NULL").count() == 5

    def test_datasource_read_pushdown_and_write_gate(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import delta_plan_files
        from etl_processing_scd1_spark.sources.deltalog_datasource import (
            DeltaLogDataSource,
        )

        spark.dataSource.register(DeltaLogDataSource)
        path = str(tmp_path / "cm2")
        write_delta_table(
            _df(spark, 0, 100).repartition(4), path, column_mapping="name"
        )
        ds = spark.read.format("deltalog").load(path)
        assert ds.columns == ["k", "v", "part"]
        assert ds.filter("k >= 90").count() == 10
        assert sorted(r.k for r in ds.collect()) == list(range(100))
        # logical predicates prune through the physical stats
        assert delta_plan_files(path, predicates={"k": (10**9, None)}) == []
        assert len(delta_plan_files(path)) > 0
        # DataSource write half is gated on mapped tables
        with pytest.raises(Exception, match="column-mapped"):
            (
                _df(spark, 100, 101).write.format("deltalog")
                .mode("append").save(path)
            )

    def test_dv_delete_cdf_checkpoint_on_mapped_table(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            _replay,
            delete_delta_rows,
            delta_changes,
            write_checkpoint,
        )

        path = str(tmp_path / "cm3")
        write_delta_table(_df(spark, 0, 40), path, column_mapping="name")
        write_delta_table(_df(spark, 40, 50), path, mode="append")
        # CDF comes back logical
        ch = delta_changes(spark, path, 0, 1)
        assert ch.columns == ["k", "v", "part", "_change_type", "_commit_version"]
        assert ch.count() == 10
        # DV delete with a LOGICAL condition
        delete_delta_rows(spark, path, "k % 10 = 0")
        got = read_delta_table(spark, path)
        assert got.count() == 45
        assert got.filter("k % 10 = 0").count() == 0
        snap = _replay(spark, path, None)
        assert snap.protocol["minReaderVersion"] == 3
        assert set(snap.protocol["readerFeatures"]) == {
            "deletionVectors", "columnMapping",
        }
        # checkpoint replay preserves mapping + DVs + features
        write_checkpoint(spark, path, snap.version)
        got = read_delta_table(spark, path)
        assert got.count() == 45 and got.columns == ["k", "v", "part"]

    def test_streaming_read_and_id_mode_gate(self, spark, tmp_path):
        import json as _json

        from etl_processing_scd1_spark.sources.delta import _commit_file
        from etl_processing_scd1_spark.sources.deltalog_datasource import (
            DeltaLogDataSource,
        )

        spark.dataSource.register(DeltaLogDataSource)
        path = str(tmp_path / "cm4")
        write_delta_table(_df(spark, 0, 10), path, column_mapping="name")
        got: list = []
        q = (
            spark.readStream.format("deltalog").load(path)
            .writeStream.foreachBatch(
                lambda b, bid: got.append(sorted(r.k for r in b.collect()))
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        q.awaitTermination(180)
        assert [ks for ks in got if ks] == [list(range(10))]
        # a table flipped to id mode whose files carry NO footer field
        # ids (written under name mode) reads via the spec's
        # physicalName fallback — formerly a loud gate, now supported
        p2 = str(tmp_path / "cm5")
        write_delta_table(_df(spark, 0, 5), p2, column_mapping="name")
        f = _commit_file(p2, 0)
        lines = [ln for ln in open(f).read().splitlines() if ln.strip()]
        out = []
        for ln in lines:
            a = _json.loads(ln)
            if "metaData" in a:
                a["metaData"]["configuration"]["delta.columnMapping.mode"] = "id"
            out.append(_json.dumps(a))
        open(f, "w").write("\n".join(out) + "\n")
        assert _rows(read_delta_table(spark, p2)) == _rows(_df(spark, 0, 5))


class TestV2Checkpoints:
    """PROTOCOL.md §V2 Checkpoints (read side): uuid-named manifest
    (parquet or json) + sidecar action files under
    ``_delta_log/_sidecars/`` — the layout newer foreign writers
    produce. The manifest's checkpointMetadata row is a marker, the
    sidecars hold the file actions."""

    def _make_v2(self, spark, path, manifest_fmt: str):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from etl_processing_scd1_spark.sources.delta import (
            _checkpoint_file,
            _commit_file,
            write_checkpoint,
        )

        for i in range(6):
            write_delta_table(
                _df(spark, i * 5, i * 5 + 5).select("k", "v"), path,
                mode="append" if i else "append",
            )
        write_checkpoint(spark, path, 5)
        log = os.path.join(path, "_delta_log")
        rows = pq.read_table(_checkpoint_file(path, 5)).to_pylist()
        adds = [
            {"add": {k: v for k, v in r["add"].items() if v is not None}}
            for r in rows if r.get("add") is not None
        ]
        others = [
            {k: v for k, v in r.items() if v is not None}
            for r in rows if r.get("add") is None
        ]
        # declare the feature like a real v2 writer would
        for o in others:
            if "protocol" in o:
                o["protocol"] = {
                    "minReaderVersion": 3, "minWriterVersion": 7,
                    "readerFeatures": ["v2Checkpoint"],
                    "writerFeatures": ["v2Checkpoint"],
                }
        os.makedirs(os.path.join(log, "_sidecars"), exist_ok=True)
        side_names = []
        half = max(1, len(adds) // 2)
        for i, chunk in enumerate((adds[:half], adds[half:])):
            if not chunk:
                continue
            name = f"sc-{i}.parquet"
            pq.write_table(
                pa.Table.from_pylist(chunk),
                os.path.join(log, "_sidecars", name),
            )
            side_names.append(name)
        manifest_rows = others + [
            {"sidecar": {"path": n, "sizeInBytes": 1}} for n in side_names
        ] + [{"checkpointMetadata": {"version": 5}}]
        os.unlink(_checkpoint_file(path, 5))
        if manifest_fmt == "parquet":
            mf = os.path.join(
                log, f"{5:020d}.checkpoint.aaaa-bbbb-cccc.parquet"
            )
            # column-wise build: from_pylist infers the schema from
            # the FIRST row only and would null out the other actions
            keys = sorted({k for r in manifest_rows for k in r})
            pq.write_table(
                pa.table({k: [r.get(k) for r in manifest_rows]
                          for k in keys}),
                mf,
            )
        else:
            mf = os.path.join(log, f"{5:020d}.checkpoint.aaaa-bbbb.json")
            with open(mf, "w") as fh:
                for r in manifest_rows:
                    fh.write(json.dumps(r) + "\n")
        # simulate log retention: only the checkpointed tail remains
        for v in range(5):
            os.unlink(_commit_file(path, v))

    def test_write_v2_checkpoint_roundtrip(self, spark, tmp_path):
        """The WRITE half: write_checkpoint(v2=True) produces a
        uuid-named manifest + sidecars that our own replay, the
        DataSource, log expiry and vacuum all consume — including a
        deletion-vector-carrying snapshot."""
        import glob

        from etl_processing_scd1_spark.sources.delta import (
            _commit_file,
            delete_delta_rows,
            expire_delta_log,
            vacuum_delta_table,
            write_checkpoint,
        )

        path = str(tmp_path / "v2w")
        for i in range(6):
            write_delta_table(
                _df(spark, i * 5, i * 5 + 5).select("k", "v"), path,
                mode="append",
            )
        delete_delta_rows(spark, path, "k = 2")                 # v6, DV
        write_checkpoint(spark, path, 6, v2=True)
        for v in range(6):
            os.unlink(_commit_file(path, v))
        assert glob.glob(
            os.path.join(path, "_delta_log", "_sidecars", "*.parquet")
        )
        got = read_delta_table(spark, path)
        assert sorted(r.k for r in got.collect()) == \
            [k for k in range(30) if k != 2]
        # the DataSource replays the same v2 layout
        from etl_processing_scd1_spark.sources.deltalog_datasource import (
            DeltaLogDataSource,
        )

        spark.dataSource.register(DeltaLogDataSource)
        assert spark.read.format("deltalog").load(path).count() == 29
        # maintenance on top: expiry keeps the v2 checkpoint, vacuum
        # keeps sidecar-referenced files
        write_delta_table(_df(spark, 30, 32).select("k", "v"), path,
                          mode="append")
        assert vacuum_delta_table(spark, path, retention_hours=0.0) == []
        assert read_delta_table(spark, path).count() == 31
        assert expire_delta_log(spark, path, keep_last=1) >= 0
        assert read_delta_table(spark, path).count() == 31

    @pytest.mark.parametrize("fmt", ["parquet", "json"])
    def test_read_append_vacuum_through_v2_checkpoint(
        self, spark, tmp_path, fmt
    ):
        from etl_processing_scd1_spark.sources.delta import (
            vacuum_delta_table,
        )

        path = str(tmp_path / f"v2{fmt}")
        self._make_v2(spark, path, fmt)
        got = read_delta_table(spark, path)
        assert sorted(r.k for r in got.collect()) == list(range(30))
        # appends on top of the v2 checkpoint replay correctly
        write_delta_table(
            _df(spark, 30, 33).select("k", "v"), path, mode="append"
        )
        assert read_delta_table(spark, path).count() == 33
        # vacuum keep-set reads the sidecar adds — nothing referenced
        # only through the v2 checkpoint may be deleted
        assert vacuum_delta_table(spark, path, retention_hours=0.0) == []
        assert read_delta_table(spark, path).count() == 33


class TestColumnMappingIdMode:
    """PROTOCOL.md §Column Mapping, id mode — the mode foreign Delta
    writers default to on evolved tables: files are matched by the
    parquet footer FIELD ID (``delta.columnMapping.id``), with
    physicalName as the fallback for id-less files. Our writer stamps
    the ids via Spark's ``parquet.field.id`` column metadata; the
    ``deltalog`` DataSource resolves per file by true field id, so
    even foreign files with arbitrary column names read correctly."""

    def test_id_mode_write_read_dml_roundtrip(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from etl_processing_scd1_spark.sources.delta import (
            _replay,
            delete_delta_rows,
            merge_delta_table,
        )
        from etl_processing_scd1_spark.sources.deltalog_datasource import (
            DeltaLogDataSource,
        )

        spark.dataSource.register(DeltaLogDataSource)
        path = str(tmp_path / "id1")
        write_delta_table(
            _df(spark, 0, 12), path, partition_by=["part"],
            column_mapping="id",
        )
        snap = _replay(spark, path, None)
        conf = snap.metadata["configuration"]
        assert conf["delta.columnMapping.mode"] == "id"
        assert snap.column_mapping_ids == {"k": 1, "v": 2, "part": 3}
        # footer field ids match the mapping ids (the id-mode contract)
        rel = next(iter(snap.files))
        sch = pq.read_schema(os.path.join(path, rel))
        ids = {
            f.name: int(f.metadata[b"PARQUET:field_id"])
            for f in sch if f.metadata and b"PARQUET:field_id" in f.metadata
        }
        cm = snap.column_mapping
        assert ids == {cm["k"]: 1, cm["v"]: 2}  # part lives in the dir
        # both readers project back to logical names
        assert _rows(read_delta_table(spark, path)) == _rows(_df(spark, 0, 12))
        got = spark.read.format("deltalog").load(path)
        assert _rows(got) == _rows(_df(spark, 0, 12))
        # merge-on-read DML stacks on id tables like name tables
        assert delete_delta_rows(spark, path, "k = 1") == 1
        src = spark.createDataFrame(
            [(2, 25, "2"), (12, 120, "0")], "k long, v long, part string"
        )
        merge_delta_table(spark, src, path, ["k"])
        rows = {r.k: r.v for r in read_delta_table(spark, path).collect()}
        assert len(rows) == 12 and 1 not in rows
        assert rows[2] == 25 and rows[12] == 120
        # appends inherit the id stamps
        write_delta_table(_df(spark, 20, 22), path, mode="append")
        sch2 = pq.read_schema(os.path.join(
            path, sorted(_replay(spark, path, None).files)[-1]
        ))
        assert any(
            f.metadata and b"PARQUET:field_id" in f.metadata for f in sch2
        )

    def test_foreign_file_resolves_by_parquet_field_id(
        self, spark, tmp_path
    ):
        """A file written by a foreign id-stamping engine under column
        names that match NEITHER the logical nor the physical names
        still reads through format('deltalog'): in id mode the footer
        field id wins over every name."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from etl_processing_scd1_spark.sources.delta import (
            _atomic_commit,
            _replay,
        )
        from etl_processing_scd1_spark.sources.deltalog_datasource import (
            DeltaLogDataSource,
        )

        spark.dataSource.register(DeltaLogDataSource)
        path = str(tmp_path / "id2")
        write_delta_table(
            _df(spark, 0, 4).select("k", "v"), path, column_mapping="id"
        )
        # foreign file: arbitrary names, correct field ids
        foreign = pa.table({"weird_a": [100, 101], "weird_b": [7, 8]})
        sch = pa.schema([
            pa.field("weird_a", pa.int64(),
                     metadata={b"PARQUET:field_id": b"1"}),
            pa.field("weird_b", pa.int64(),
                     metadata={b"PARQUET:field_id": b"2"}),
        ])
        dest = os.path.join(path, "part-foreign.parquet")
        pq.write_table(foreign.cast(sch), dest)
        _atomic_commit(path, 1, [
            {"add": {"path": "part-foreign.parquet", "partitionValues": {},
                     "size": os.path.getsize(dest),
                     "modificationTime": 0, "dataChange": True}},
        ])
        got = spark.read.format("deltalog").load(path)
        rows = sorted((r.k, r.v) for r in got.collect())
        assert rows == sorted(
            [(k, k * 10) for k in range(4)] + [(100, 7), (101, 8)]
        )
        assert _replay(spark, path, None).column_mapping_ids == {"k": 1, "v": 2}


class TestAddColumnEvolution:
    """write_delta_table add-column evolution (mergeSchema): one
    metaData action appends the new fields; mapped tables assign
    fresh mapping ids past maxColumnId and uuid physicalNames.
    Pre-evolution files read NULL for the new columns."""

    @pytest.mark.parametrize("cm_mode", ["none", "name", "id"])
    def test_append_with_new_column(self, spark, tmp_path, cm_mode):
        from etl_processing_scd1_spark.sources.delta import _replay

        path = str(tmp_path / f"ev_{cm_mode}")
        write_delta_table(_df(spark, 0, 6), path, column_mapping=cm_mode)
        evolved = spark.range(6, 9).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
            (F.col("id") % 3).cast("string").alias("part"),
            (F.col("id") * 2).alias("w"),
        )
        write_delta_table(evolved, path, mode="append")
        snap = _replay(spark, path, None)
        assert [f.name for f in snap.schema.fields] == ["k", "v", "part", "w"]
        got = read_delta_table(spark, path)
        rows = {r.k: (r.v, r.w) for r in got.collect()}
        assert len(rows) == 9
        assert rows[2] == (20, None)      # pre-evolution file: NULL
        assert rows[7] == (70, 14)
        if cm_mode != "none":
            cm = snap.column_mapping
            assert set(cm) == {"k", "v", "part", "w"}
            assert cm["w"].startswith("col-")
            conf = snap.metadata["configuration"]
            assert conf["delta.columnMapping.maxColumnId"] == "4"
            assert (snap.column_mapping_ids or {}).get("w") == 4
        # the DataSource reader resolves the evolved table too
        from etl_processing_scd1_spark.sources.deltalog_datasource import (
            DeltaLogDataSource,
        )

        spark.dataSource.register(DeltaLogDataSource)
        ds = spark.read.format("deltalog").load(path)
        assert sorted(ds.columns) == ["k", "part", "v", "w"]
        assert ds.filter("w IS NOT NULL").count() == 3
        # time travel to the pre-evolution version keeps the old schema
        assert read_delta_table(spark, path, version=0).columns == \
            ["k", "v", "part"]

    def test_evolution_then_dml_on_mapped_table(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            delete_delta_rows,
            merge_delta_table,
        )

        path = str(tmp_path / "ev_dml")
        write_delta_table(_df(spark, 0, 6), path, column_mapping="name")
        evolved = spark.range(6, 8).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
            (F.col("id") % 3).cast("string").alias("part"),
            F.lit("x").alias("tag"),
        )
        write_delta_table(evolved, path, mode="append")
        delete_delta_rows(spark, path, "k = 1")
        src = spark.createDataFrame(
            [(2, 25, "2", "y")], "k long, v long, part string, tag string"
        )
        merge_delta_table(spark, src, path, ["k"])
        got = {r.k: (r.v, r.tag) for r in read_delta_table(spark, path).collect()}
        assert len(got) == 7 and 1 not in got
        assert got[2] == (25, "y") and got[6] == (60, "x")
        assert got[0] == (0, None)


class TestDeltaLogStreamWriter:
    """df.writeStream.format('deltalog'): the first-class streaming
    write half — checkpointed resume plus the txn-watermark replay
    guard (exactly-once across a crash between sink commit and
    checkpoint write)."""

    @pytest.fixture()
    def registered(self, spark):
        from etl_processing_scd1_spark.sources.deltalog_datasource import (
            DeltaLogDataSource,
        )

        spark.dataSource.register(DeltaLogDataSource)
        return spark

    def test_stream_write_resume(self, registered, tmp_path):
        spark = registered
        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        ck = str(tmp_path / "ck")
        write_delta_table(_df(spark, 0, 10), src)

        def drain():
            q = (
                spark.readStream.format("deltalog").load(src)
                .writeStream.format("deltalog").option("path", dst)
                .trigger(availableNow=True)
                .option("checkpointLocation", ck)
                .start()
            )
            q.awaitTermination(240)

        drain()
        assert read_delta_table(spark, dst).count() == 10
        write_delta_table(_df(spark, 10, 15), src, mode="append")
        drain()
        assert sorted(r.k for r in read_delta_table(spark, dst).collect()) \
            == list(range(15))
        drain()  # nothing new -> no duplicates
        assert read_delta_table(spark, dst).count() == 15

    def test_replayed_batch_is_dropped(self, registered, tmp_path):
        """Crash between sink commit and checkpoint write replays the
        micro-batch with the SAME batchId but fresh executor files:
        the txn watermark must skip the commit and delete the dupes."""
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema

        from pyspark.sql.datasource import CaseInsensitiveDict

        from etl_processing_scd1_spark.sources.deltalog_datasource import (
            DeltaLogDataSource,
        )

        spark = registered
        path = str(tmp_path / "replay")
        schema = _df(spark, 0, 0).schema
        w = DeltaLogDataSource(
            CaseInsensitiveDict({"path": path, "txnAppId": "app-1"})
        ).streamWriter(schema, False)
        tbl = pa.table(
            {"k": [1, 2], "v": [10, 20], "part": ["1", "2"]},
            schema=to_arrow_schema(schema),
        )
        m1 = w.write(iter(tbl.to_batches()))
        w.commit([m1], 0)
        assert read_delta_table(spark, path).count() == 2
        # replay of batch 0: new files, same id
        m2 = w.write(iter(tbl.to_batches()))
        w.commit([m2], 0)
        assert read_delta_table(spark, path).count() == 2
        # the duplicate files are gone from disk, not just unreferenced
        dupes = [rel for rel, *_ in m2.files
                 if os.path.exists(os.path.join(path, rel))]
        assert dupes == []
        # next batch id lands normally
        m3 = w.write(iter(tbl.to_batches()))
        w.commit([m3], 1)
        assert read_delta_table(spark, path).count() == 4


class TestRenameColumn:
    """rename_delta_column (PROTOCOL.md §Column Mapping): a
    metadata-only logical rename — physical parquet names and mapping
    ids never change, every pre-rename file keeps resolving, appends
    and merge-on-read DML work under the new name, and unmapped
    tables refuse (a logical rename would orphan their files)."""

    @pytest.mark.parametrize("mode", ["name", "id"])
    def test_rename_read_append_dml(self, spark, tmp_path, mode):
        from etl_processing_scd1_spark.sources.delta import (
            delete_delta_rows,
            rename_delta_column,
        )

        path = str(tmp_path / f"rn{mode}")
        write_delta_table(
            _df(spark, 0, 12), path,
            partition_by=["part"], column_mapping=mode,
        )
        v = rename_delta_column(spark, path, "v", "val")
        got = read_delta_table(spark, path)
        assert "val" in got.columns and "v" not in got.columns
        assert sorted((r.k, r.val) for r in got.collect()) == \
            [(k, k * 10) for k in range(12)]
        # append under the new logical name
        write_delta_table(
            spark.range(12, 15).select(
                F.col("id").alias("k"),
                (F.col("id") * 10).alias("val"),
                (F.col("id") % 3).cast("string").alias("part"),
            ),
            path, mode="append",
        )
        # DV delete with a predicate over BOTH renamed and key cols
        delete_delta_rows(spark, path, "val >= 130 OR k = 0")
        assert sorted(r.k for r in
                      read_delta_table(spark, path).collect()) == \
            list(range(1, 13))
        # partition-column rename is legal too (physical dirs)
        v2 = rename_delta_column(spark, path, "part", "bucket")
        got = read_delta_table(spark, path)
        assert "bucket" in got.columns and v2 > v
        assert got.filter("bucket = '1'").count() > 0

    def test_rename_guards(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            rename_delta_column,
        )

        plain = str(tmp_path / "plain")
        write_delta_table(_df(spark, 0, 3), plain)
        with pytest.raises(DeltaProtocolError, match="column mapping"):
            rename_delta_column(spark, plain, "v", "val")
        mapped = str(tmp_path / "mapped")
        write_delta_table(_df(spark, 0, 3), mapped, column_mapping="name")
        with pytest.raises(ValueError, match="not in table schema"):
            rename_delta_column(spark, mapped, "nope", "x")
        with pytest.raises(ValueError, match="already exists"):
            rename_delta_column(spark, mapped, "v", "k")


class TestOptimizeDropTimestamp:
    """Round-11 Delta command surface: OPTIMIZE bin-pack compaction
    (dataChange=false rewrite, invisible to CDF, materializes DVs),
    DROP COLUMN under column mapping, and TIMESTAMP AS OF
    time-travel resolution."""

    def test_optimize_compacts_and_materializes_dvs(
        self, spark, tmp_path
    ):
        from etl_processing_scd1_spark.sources.delta import (
            _replay,
            delete_delta_rows,
            optimize_delta_table,
        )

        path = str(tmp_path / "opt")
        for lo in (0, 10, 20, 30):
            write_delta_table(
                _df(spark, lo, lo + 10), path,
                mode="append" if lo else "overwrite",
            )
        delete_delta_rows(spark, path, "k % 5 = 0")
        before = _rows(read_delta_table(spark, path))
        v_pre = delta_table_version(path)
        v = optimize_delta_table(spark, path, target_files=2)
        snap = _replay(spark, path, None)
        assert _rows(read_delta_table(spark, path)) == before
        assert len(snap.files) <= 2 < 4
        # DVs are materialized away by the rewrite
        assert not any(a.get("deletionVector") for a in snap.files.values())
        # history stays time-travelable
        assert _rows(read_delta_table(spark, path, version=v_pre)) == before
        assert v == v_pre + 1

    def test_optimize_invisible_to_cdf(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            delta_changes,
            delete_delta_rows,
            optimize_delta_table,
        )

        path = str(tmp_path / "optcdf")
        write_delta_table(_df(spark, 0, 20), path)            # v0
        delete_delta_rows(spark, path, "k >= 18")             # v1
        v1 = delta_table_version(path)
        optimize_delta_table(spark, path, target_files=1)     # v2
        write_delta_table(_df(spark, 20, 23), path, mode="append")  # v3
        # window covering ONLY the optimize: zero events
        assert delta_changes(spark, path, v1, v1 + 1).count() == 0
        # window across the optimize: just the append's inserts
        ch = delta_changes(spark, path, v1)
        got = sorted((r.k, r._change_type) for r in ch.collect())
        assert got == [(20, "insert"), (21, "insert"), (22, "insert")]
        # a DV delete in-window followed by optimize STILL reports
        # the deleted rows (the rewrite merely changes layout)
        delete_delta_rows(spark, path, "k = 21")              # v4
        v3 = delta_table_version(path) - 1
        optimize_delta_table(spark, path, target_files=1)     # v5
        ch2 = delta_changes(spark, path, v3)
        kinds = sorted((r.k, r._change_type) for r in ch2.collect())
        assert (21, "delete") in kinds

    def test_drop_column_and_guards(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            DeltaProtocolError,
            drop_delta_column,
        )

        path = str(tmp_path / "dropc")
        write_delta_table(
            _df(spark, 0, 9), path,
            partition_by=["part"], column_mapping="name",
        )
        v = drop_delta_column(spark, path, "v")
        got = read_delta_table(spark, path)
        assert sorted(got.columns) == ["k", "part"]
        assert got.count() == 9
        # time travel BEFORE the drop still shows the column
        assert "v" in read_delta_table(spark, path, version=v - 1).columns
        # re-adding the same name is safe under mapping: fresh id +
        # fresh physical name, old bytes can't resurrect
        write_delta_table(
            spark.range(9, 12).select(
                F.col("id").alias("k"),
                (F.col("id") % 3).cast("string").alias("part"),
                F.lit(777).alias("v"),
            ),
            path, mode="append",
        )
        rows = {r.k: r.v for r in read_delta_table(spark, path).collect()}
        assert rows[10] == 777 and rows[0] is None
        with pytest.raises(DeltaProtocolError, match="partition column"):
            drop_delta_column(spark, path, "part")
        plain = str(tmp_path / "dropplain")
        write_delta_table(_df(spark, 0, 3), plain)
        with pytest.raises(DeltaProtocolError, match="column mapping"):
            drop_delta_column(spark, plain, "v")

    def test_timestamp_as_of(self, spark, tmp_path):
        import json as _json
        import os as _os

        from etl_processing_scd1_spark.sources.delta import (
            _commit_file,
            delta_version_at_timestamp,
        )

        path = str(tmp_path / "tsof")
        write_delta_table(_df(spark, 0, 5), path)                    # v0
        write_delta_table(_df(spark, 5, 8), path, mode="append")     # v1
        write_delta_table(_df(spark, 8, 10), path, mode="append")    # v2
        # pin distinct commit timestamps (same-ms commits are real;
        # the resolver takes the newest <= ts)
        stamps = {}
        for v, t in ((0, 1000), (1, 2000), (2, 3000)):
            f = _commit_file(path, v)
            lines = [_json.loads(ln) for ln in open(f)]
            for a in lines:
                if "commitInfo" in a:
                    a["commitInfo"]["timestamp"] = t
            with open(f, "w") as fh:
                for a in lines:
                    fh.write(_json.dumps(a) + "\n")
            stamps[v] = t
        assert delta_version_at_timestamp(path, 1000) == 0
        assert delta_version_at_timestamp(path, 2999) == 1
        assert delta_version_at_timestamp(path, 99999) == 2
        with pytest.raises(ValueError, match="before"):
            delta_version_at_timestamp(path, 999)
        got = read_delta_table(spark, path, timestamp_ms=2500)
        assert got.count() == 8
        with pytest.raises(ValueError, match="exclusive"):
            read_delta_table(spark, path, version=1, timestamp_ms=2500)


class TestZOrder:
    def test_zorder_tightens_pruning_on_both_dims(self, spark, tmp_path):
        """OPTIMIZE ZORDER BY (x, y): after the clustered rewrite, a
        point-range predicate on EITHER dimension stats-prunes to a
        strict subset of the files — the multi-dimensional locality
        a single-column sort can't give (sorting by x leaves y
        min/max spanning every file)."""
        from etl_processing_scd1_spark.sources.delta import (
            delta_plan_files,
            optimize_delta_table,
        )

        path = str(tmp_path / "zord")
        # x and y deliberately uncorrelated (y = reversed x)
        df = spark.range(0, 4096).selectExpr(
            "id AS x", "4095 - id AS y", "id % 7 AS v"
        )
        write_delta_table(df.repartition(8), path)
        optimize_delta_table(spark, path, target_files=8,
                             zorder_by=["x", "y"])
        total = len(delta_plan_files(path))
        assert total >= 4
        for col in ("x", "y"):
            pruned = len(delta_plan_files(
                path, predicates={col: (100, 130)}
            ))
            assert pruned < total, f"no pruning on {col}"
        # content identical
        got = read_delta_table(spark, path)
        assert got.count() == 4096
        assert got.selectExpr("sum(x)", "sum(y)").collect()[0] == \
            df.selectExpr("sum(x)", "sum(y)").collect()[0]

    def test_zorder_guards(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            optimize_delta_table,
        )

        path = str(tmp_path / "zg")
        write_delta_table(_df(spark, 0, 10), path)
        with pytest.raises(ValueError, match="not in table"):
            optimize_delta_table(spark, path, zorder_by=["nope"])
        with pytest.raises(ValueError, match="numeric"):
            optimize_delta_table(spark, path, zorder_by=["part"])


class TestMetadataTables:
    def test_inspection_surface(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            delete_delta_rows,
            delta_metadata_table,
        )

        path = str(tmp_path / "meta")
        write_delta_table(_df(spark, 0, 20), path, partition_by=["part"])
        write_delta_table(_df(spark, 20, 30), path, mode="append")
        delete_delta_rows(spark, path, "k < 2")
        hist = delta_metadata_table(spark, path, "history")
        assert hist.count() == 3
        assert [r.operation for r in hist.orderBy("version").collect()][-1] \
            == "DELETE"
        files = delta_metadata_table(spark, path, "files")
        assert files.selectExpr("sum(num_records)").collect()[0][0] == 30
        assert files.selectExpr("sum(dv_cardinality)").collect()[0][0] == 2
        parts = delta_metadata_table(spark, path, "partitions")
        assert parts.count() == 3
        with pytest.raises(ValueError, match="unknown metadata"):
            delta_metadata_table(spark, path, "nope")


class TestCheckConstraints:
    def test_add_enforce_drop(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            add_delta_constraint,
            drop_delta_constraint,
            merge_delta_table,
        )

        path = str(tmp_path / "ck")
        write_delta_table(_df(spark, 1, 10), path)
        add_delta_constraint(spark, path, "pos_k", "k > 0")
        # appends violating the constraint refuse, clean ones commit
        with pytest.raises(DeltaProtocolError, match="pos_k"):
            write_delta_table(_df(spark, -2, 0), path, mode="append")
        write_delta_table(_df(spark, 10, 12), path, mode="append")
        assert read_delta_table(spark, path).count() == 11
        # MERGE insert legs enforce too
        bad_src = spark.createDataFrame(
            [(-5, 1, "0")], "k long, v long, part string"
        )
        with pytest.raises(DeltaProtocolError, match="pos_k"):
            merge_delta_table(spark, bad_src, path, ["k"])
        # NULL passes the CHECK (SQL convention) — but the schema here
        # is non-nullable (range-derived), so the write is refused by
        # NOT NULL enforcement, not by the constraint; a nullable
        # table shows the CHECK letting NULL through below
        with pytest.raises(DeltaProtocolError, match="NOT NULL k"):
            write_delta_table(
                spark.createDataFrame([(None, 7, "0")],
                                      "k long, v long, part string"),
                path, mode="append",
            )
        nullable = str(tmp_path / "ck_nullable")
        write_delta_table(
            spark.createDataFrame([(1, 1, "0")],
                                  "k long, v long, part string"),
            nullable,
        )
        add_delta_constraint(spark, nullable, "pos_k", "k > 0")
        write_delta_table(
            spark.createDataFrame([(None, 7, "0")],
                                  "k long, v long, part string"),
            nullable, mode="append",
        )
        assert read_delta_table(spark, nullable).count() == 2
        # adding a constraint existing data violates refuses
        with pytest.raises(DeltaProtocolError, match="existing rows"):
            add_delta_constraint(spark, path, "small", "v < 5")
        with pytest.raises(ValueError, match="already exists"):
            add_delta_constraint(spark, path, "pos_k", "k > 0")
        drop_delta_constraint(spark, path, "pos_k")
        write_delta_table(_df(spark, -2, 0), path, mode="append")
        assert read_delta_table(spark, path).count() == 13
        with pytest.raises(ValueError, match="not found"):
            drop_delta_constraint(spark, path, "pos_k")


class TestReviewFixesR11:
    def test_constraint_blocks_drop_and_rename(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            add_delta_constraint,
            drop_delta_column,
            drop_delta_constraint,
            rename_delta_column,
        )

        path = str(tmp_path / "rfck")
        write_delta_table(_df(spark, 1, 5), path, column_mapping="name")
        add_delta_constraint(spark, path, "pos", "v > 0")
        with pytest.raises(DeltaProtocolError, match="CHECK constraint"):
            drop_delta_column(spark, path, "v")
        with pytest.raises(DeltaProtocolError, match="CHECK constraint"):
            rename_delta_column(spark, path, "v", "val")
        # unrelated columns still rename/drop fine
        rename_delta_column(spark, path, "part", "bucket")
        drop_delta_constraint(spark, path, "pos")
        rename_delta_column(spark, path, "v", "val")
        assert "val" in read_delta_table(spark, path).columns


class TestMergeSchemaEvolution:
    """merge_delta_table(evolve_schema=...) — the autoMerge switch:
    extra source columns RAISE by default (this merge is
    UPDATE SET * / INSERT * shaped; silently dropping would lose
    data), and with evolve_schema=True the SAME commit carries the
    evolving metaData action plus the DML — old rows read NULL, a
    non-NULL new-column value alone marks a matched row changed."""

    def test_extra_source_column_raises_by_default(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import merge_delta_table

        path = str(tmp_path / "mev_raise")
        write_delta_table(_df(spark, 0, 6), path)
        src = spark.createDataFrame(
            [(1, 10, "1", "x")], "k long, v long, part string, tag string"
        )
        with pytest.raises(ValueError, match="evolve_schema"):
            merge_delta_table(spark, src, path, ["k"])
        # nothing committed by the refused merge
        assert delta_table_version(path) == 0

    @pytest.mark.parametrize("cm_mode", ["none", "name"])
    def test_evolving_merge_one_commit(self, spark, tmp_path, cm_mode):
        from etl_processing_scd1_spark.sources.delta import (
            _replay,
            merge_delta_table,
        )

        path = str(tmp_path / f"mev_{cm_mode}")
        write_delta_table(_df(spark, 0, 6), path, column_mapping=cm_mode)
        src = spark.createDataFrame(
            [
                (1, 10, "1", "upd"),   # same v: changed ONLY via new col
                (7, 70, "1", "ins"),   # fresh key: insert
            ],
            "k long, v long, part string, tag string",
        )
        v = merge_delta_table(spark, src, path, ["k"], evolve_schema=True)
        assert v == 1  # metaData + DV + adds in ONE commit
        snap = _replay(spark, path, None)
        assert [f.name for f in snap.schema.fields] == ["k", "v", "part", "tag"]
        got = {r.k: (r.v, r.tag) for r in read_delta_table(spark, path).collect()}
        assert len(got) == 7
        assert got[1] == (10, "upd")   # NULL -> 'upd' counted as changed
        assert got[7] == (70, "ins")
        assert got[2] == (20, None)    # untouched pre-evolution row
        if cm_mode == "name":
            assert (snap.column_mapping or {})["tag"].startswith("col-")
            assert (
                snap.metadata["configuration"]["delta.columnMapping.maxColumnId"]
                == "4"
            )

    def test_evolving_merge_replay_is_idempotent(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import merge_delta_table

        path = str(tmp_path / "mev_idem")
        write_delta_table(_df(spark, 0, 6), path)
        src = spark.createDataFrame(
            [(1, 10, "1", "x")], "k long, v long, part string, tag string"
        )
        v1 = merge_delta_table(spark, src, path, ["k"], evolve_schema=True)
        # replay: schema already evolved, payload identical -> no-op
        v2 = merge_delta_table(spark, src, path, ["k"], evolve_schema=True)
        assert v2 == v1
        got = {r.k: r.tag for r in read_delta_table(spark, path).collect()}
        assert got[1] == "x" and got[0] is None

    def test_cdf_sees_evolving_merge_changes(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            delta_changes,
            merge_delta_table,
        )

        path = str(tmp_path / "mev_cdf")
        write_delta_table(_df(spark, 0, 4), path)
        src = spark.createDataFrame(
            [(2, 20, "2", "t"), (9, 90, "0", "t")],
            "k long, v long, part string, tag string",
        )
        merge_delta_table(spark, src, path, ["k"], evolve_schema=True)
        ch = delta_changes(spark, path, 0, 1)
        kinds = {(r.k, r._change_type) for r in ch.collect()}
        assert (2, "delete") in kinds and (2, "insert") in kinds
        assert (9, "insert") in kinds


class TestShallowClone:
    """clone_delta_table: zero-copy table at a new root referencing
    the source's files by absolute path; immediately independent in
    both directions; partition values come from the log, not
    directory inference."""

    def test_clone_reads_equal_and_is_independent(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import clone_delta_table

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        write_delta_table(_df(spark, 0, 8), src)
        clone_delta_table(spark, src, dst)
        assert _rows(read_delta_table(spark, dst)) == \
            _rows(read_delta_table(spark, src))
        # zero data copied: no parquet under the clone root
        copied = [
            f for root, _, names in os.walk(dst) for f in names
            if f.endswith(".parquet")
        ]
        assert copied == []
        # source moves on; the clone is pinned at the clone point
        write_delta_table(_df(spark, 8, 12), src, mode="append")
        assert len(_rows(read_delta_table(spark, dst))) == 8
        # clone moves on; the source never sees it
        write_delta_table(_df(spark, 100, 103), dst, mode="append")
        assert len(_rows(read_delta_table(spark, dst))) == 11
        assert len(_rows(read_delta_table(spark, src))) == 12
        with pytest.raises(ValueError, match="already has a table"):
            clone_delta_table(spark, src, dst)

    def test_partitioned_dv_clone_and_dml(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            clone_delta_table,
            delete_delta_rows,
            update_delta_rows,
        )

        src = str(tmp_path / "psrc")
        dst = str(tmp_path / "pdst")
        write_delta_table(_df(spark, 0, 12), src, partition_by=["part"])
        delete_delta_rows(spark, src, "k % 4 = 0")      # DVs on source files
        clone_delta_table(spark, src, dst)
        got = read_delta_table(spark, dst)
        # partition values from the LOG (no directory inference possible)
        assert sorted(set(r.part for r in got.collect())) == ["0", "1", "2"]
        assert sorted(r.k for r in got.collect()) == \
            [k for k in range(12) if k % 4 != 0]
        assert dict(
            (r.k, r.part) for r in got.collect()
        )[5] == str(5 % 3)
        # DML on the clone DV-kills SOURCE-owned files clone-locally
        update_delta_rows(spark, dst, "k = 5", {"v": "999"})
        assert {r.k: r.v for r in read_delta_table(spark, dst).collect()}[5] \
            == 999
        assert {r.k: r.v for r in read_delta_table(spark, src).collect()}[5] \
            == 50  # source untouched
        # source deletes AFTER the clone point stay invisible to it
        delete_delta_rows(spark, src, "k = 7")
        assert 7 in {r.k for r in read_delta_table(spark, dst).collect()}

    def test_clone_cdf_and_optimize_materialize(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            clone_delta_table,
            delete_delta_rows,
            delta_changes,
            optimize_delta_table,
        )

        src = str(tmp_path / "csrc")
        dst = str(tmp_path / "cdst")
        write_delta_table(_df(spark, 0, 9), src, partition_by=["part"])
        clone_delta_table(spark, src, dst)
        # CDF: the clone commit itself is dataChange=false (no events);
        # a clone-local delete emits row-level deletes from the
        # EXTERNAL source files with correct partition values
        delete_delta_rows(spark, dst, "k % 3 = 1")
        ch = delta_changes(spark, dst, 0, 1)
        rows = {(r.k, r.part, r._change_type) for r in ch.collect()}
        assert rows == {(1, "1", "delete"), (4, "1", "delete"),
                        (7, "1", "delete")}
        # OPTIMIZE materializes clone-local files; source files intact
        optimize_delta_table(spark, dst, target_files=1)
        local = [
            f for root, _, names in os.walk(dst) for f in names
            if f.endswith(".parquet") and "_delta_log" not in root
        ]
        assert local, "optimize should write clone-local files"
        assert len(_rows(read_delta_table(spark, dst))) == 6
        assert len(_rows(read_delta_table(spark, src))) == 9

    def test_clone_carries_mapping_and_constraints(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            add_delta_constraint,
            clone_delta_table,
            rename_delta_column,
        )

        src = str(tmp_path / "msrc")
        dst = str(tmp_path / "mdst")
        write_delta_table(_df(spark, 0, 5), src, column_mapping="name")
        add_delta_constraint(spark, src, "v_pos", "v >= 0")
        clone_delta_table(spark, src, dst)
        # constraint enforced on the CLONE
        bad = spark.createDataFrame(
            [(50, -1, "0")], "k long, v long, part string"
        )
        with pytest.raises(DeltaProtocolError, match="v_pos"):
            write_delta_table(bad, dst, mode="append")
        # rename on the clone (mapping carried over); source keeps 'v'
        rename_delta_column(spark, dst, "part", "bucket3")
        assert "bucket3" in read_delta_table(spark, dst).columns
        assert "part" in read_delta_table(spark, src).columns


class TestGeneratedColumns:
    """PROTOCOL.md §Generated Columns (delta.generationExpression,
    minWriterVersion 4): computed when absent, validated when
    provided, recomputed by UPDATE over the post-SET row, omittable
    in MERGE sources; canonical use = derived partition columns."""

    def test_create_compute_validate_append(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import _replay

        path = str(tmp_path / "gen")
        base = spark.range(0, 6).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        write_delta_table(
            base, path, generated_columns={"v2x": "v * 2"},
            partition_by=["v2x"],
        )
        snap = _replay(spark, path, None)
        assert snap.protocol["minWriterVersion"] >= 4
        fields = {
            f["name"]: f for f in
            __import__("json").loads(snap.metadata["schemaString"])["fields"]
        }
        assert fields["v2x"]["metadata"]["delta.generationExpression"] == "v * 2"
        got = {r.k: r.v2x for r in read_delta_table(spark, path).collect()}
        assert got[3] == 60
        # append WITHOUT the column: computed
        write_delta_table(
            spark.range(6, 8).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ),
            path, mode="append",
        )
        got = {r.k: r.v2x for r in read_delta_table(spark, path).collect()}
        assert got[7] == 140
        # append WITH a consistent value: accepted
        ok = spark.createDataFrame([(8, 80, 160)], "k long, v long, v2x long")
        write_delta_table(ok, path, mode="append")
        # append WITH a lying value: refused
        bad = spark.createDataFrame([(9, 90, 7)], "k long, v long, v2x long")
        with pytest.raises(DeltaProtocolError, match="v2x"):
            write_delta_table(bad, path, mode="append")
        with pytest.raises(ValueError, match="created"):
            write_delta_table(ok, path, mode="append",
                              generated_columns={"z": "v"})

    def test_update_recomputes_merge_may_omit(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            merge_delta_table,
            update_delta_rows,
        )

        path = str(tmp_path / "gen_dml")
        base = spark.range(0, 5).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        write_delta_table(base, path, generated_columns={"v2x": "v * 2"})
        # UPDATE touches the generation input -> generated col follows
        update_delta_rows(spark, path, "k = 2", {"v": "v + 5"})
        got = {r.k: (r.v, r.v2x) for r in read_delta_table(spark, path).collect()}
        assert got[2] == (25, 50)
        # explicit SET of a generated column must stay consistent
        with pytest.raises(DeltaProtocolError, match="v2x"):
            update_delta_rows(spark, path, "k = 1", {"v2x": "123"})
        # MERGE source omits the generated column -> computed
        src = spark.createDataFrame([(0, 100), (9, 90)], "k long, v long")
        merge_delta_table(spark, src, path, ["k"])
        got = {r.k: (r.v, r.v2x) for r in read_delta_table(spark, path).collect()}
        assert got[0] == (100, 200) and got[9] == (90, 180)


class TestDataSourceWriterEnforcementGates:
    """format('deltalog') writes refuse tables whose write contract
    the executor-side Arrow path cannot enforce (CHECK constraints,
    generated columns) — the same fail-loud pattern as the
    column-mapping refusal; write_delta_table is the enforcing
    writer."""

    def test_refuses_constrained_and_generated_tables(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.delta import (
            add_delta_constraint,
        )
        from etl_processing_scd1_spark.sources.deltalog_datasource import (
            DeltaLogDataSource,
        )

        spark.dataSource.register(DeltaLogDataSource)
        ck = str(tmp_path / "ck")
        write_delta_table(_df(spark, 0, 4), ck)
        add_delta_constraint(spark, ck, "v_pos", "v >= 0")
        with pytest.raises(Exception, match="CHECK constraint"):
            _df(spark, 4, 6).write.format("deltalog").mode("append").save(ck)

        gen = str(tmp_path / "gen")
        base = spark.range(0, 4).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        write_delta_table(base, gen, generated_columns={"v2x": "v * 2"})
        lying = spark.createDataFrame(
            [(9, 90, 1)], "k long, v long, v2x long"
        )
        with pytest.raises(Exception, match="generated column"):
            lying.write.format("deltalog").mode("append").save(gen)


class TestIdentityColumns:
    """PROTOCOL.md §Identity Columns (minWriterVersion 6): GENERATED
    ALWAYS long columns the writer assigns from a stored high water
    mark, advanced in the same commit's metaData."""

    def test_generation_contiguous_and_watermark(self, spark, tmp_path):
        path = str(tmp_path / "ident")
        df = spark.range(0, 50).selectExpr("id * 2 AS k").repartition(4)
        write_delta_table(df, path, identity_columns={"rid": (10, 3)})
        ids = sorted(r.rid for r in read_delta_table(spark, path).collect())
        # contiguous lattice from start, one value per row
        assert ids == list(range(10, 10 + 3 * 50, 3))
        # appends continue past the stored watermark — never reuse
        write_delta_table(
            spark.range(50, 80).selectExpr("id * 2 AS k"), path,
            mode="append",
        )
        ids2 = sorted(r.rid for r in read_delta_table(spark, path).collect())
        assert len(set(ids2)) == 80 and ids2[-1] == 10 + 3 * 79
        # protocol requires writer 6
        import json as _json
        import os as _os

        with open(_os.path.join(path, "_delta_log", "0" * 20 + ".json")) as fh:
            proto = next(
                _json.loads(ln)["protocol"] for ln in fh
                if '"protocol"' in ln
            )
        assert proto["minWriterVersion"] >= 6

    def test_generated_always_gates(self, spark, tmp_path):
        path = str(tmp_path / "ident")
        df = spark.range(0, 10).selectExpr("id AS k")
        write_delta_table(df, path, identity_columns={"rid": (1, 1)})
        # explicit values refused on append
        with pytest.raises(DeltaProtocolError, match="GENERATED ALWAYS"):
            write_delta_table(
                read_delta_table(spark, path), path, mode="append"
            )
        # UPDATE of the identity column refused
        from etl_processing_scd1_spark.sources.delta import (
            update_delta_rows,
        )

        with pytest.raises(DeltaProtocolError, match="GENERATED ALWAYS"):
            update_delta_rows(spark, path, "k = 1", {"rid": "999"})
        # creation with the column already present refused
        with pytest.raises(DeltaProtocolError, match="GENERATED ALWAYS"):
            write_delta_table(
                spark.range(3).selectExpr("id AS k", "id AS rid"),
                str(tmp_path / "other"),
                identity_columns={"rid": (1, 1)},
            )
        # creation-only flag
        with pytest.raises(ValueError, match="created"):
            write_delta_table(
                df, path, mode="append", identity_columns={"x": (1, 1)}
            )

    def test_overwrite_never_reuses_values(self, spark, tmp_path):
        path = str(tmp_path / "ident")
        write_delta_table(
            spark.range(0, 20).selectExpr("id AS k"), path,
            identity_columns={"rid": (1, 1)},
        )
        write_delta_table(
            spark.range(0, 5).selectExpr("id AS k"), path,
            mode="overwrite",
        )
        ids = sorted(r.rid for r in read_delta_table(spark, path).collect())
        # the overwrite's rows continue PAST the old watermark (the
        # spec's watermark never decreases — ids are never recycled)
        assert ids == [21, 22, 23, 24, 25]

    def test_empty_append_keeps_watermark(self, spark, tmp_path):
        path = str(tmp_path / "ident")
        write_delta_table(
            spark.range(0, 7).selectExpr("id AS k"), path,
            identity_columns={"rid": (1, 1)},
        )
        empty = spark.range(0, 0).selectExpr("id AS k")
        write_delta_table(empty, path, mode="append")
        write_delta_table(
            spark.range(7, 9).selectExpr("id AS k"), path, mode="append"
        )
        ids = sorted(r.rid for r in read_delta_table(spark, path).collect())
        assert ids == list(range(1, 10))

    def test_datasource_writer_refuses_identity_tables(
        self, spark, tmp_path
    ):
        from etl_processing_scd1_spark.sources import ensure_datasources

        ensure_datasources(spark)
        path = str(tmp_path / "ident")
        write_delta_table(
            spark.range(0, 5).selectExpr("id AS k"), path,
            identity_columns={"rid": (1, 1)},
        )
        with pytest.raises(Exception, match="identity"):
            spark.range(5, 8).selectExpr("id AS k").write.format(
                "deltalog"
            ).mode("append").save(path)


class TestRestoreByTimestamp:
    def test_restore_timestamp_resolution(self, spark, tmp_path):
        import time as _time

        from etl_processing_scd1_spark.sources.delta import (
            restore_delta_table,
        )

        path = str(tmp_path / "rst")
        write_delta_table(_df(spark, 0, 5), path)           # v0
        _time.sleep(0.01)
        write_delta_table(_df(spark, 5, 8), path, mode="append")  # v1
        _time.sleep(0.01)
        write_delta_table(_df(spark, 100, 102), path, mode="overwrite")
        # v1's own commit instant resolves to v1 (latest at-or-before)
        ts_v1 = delta_history(path)[1]["timestamp"]
        restore_delta_table(spark, path, timestamp_ms=ts_v1)
        assert _rows(read_delta_table(spark, path)) == _rows(
            _df(spark, 0, 8)
        )
        with pytest.raises(ValueError, match="exclusive"):
            restore_delta_table(spark, path, version=0, timestamp_ms=ts_v1)
        with pytest.raises(ValueError, match="required"):
            restore_delta_table(spark, path)

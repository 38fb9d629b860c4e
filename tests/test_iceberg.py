"""Apache Iceberg interop (sources/iceberg.py) and the stdlib Avro
object-container codec under it (sources/avro.py): binary-encoding
round trips (hypothesis), container files under both codecs, table
write/read round trips, append vs overwrite snapshots, metadata-
version and snapshot-id time travel, partitioned layout with typed
partition tuples, put-if-absent commit atomicity, protocol gating,
and the foreign-table path (identity-partition constants filled from
the manifest when data files omit the column)."""

from __future__ import annotations

import io
import json
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_processing_scd1_spark.sources.avro import (
    AvroError,
    decode,
    dump_avro,
    encode,
    load_avro,
    parse_schema,
)
from etl_processing_scd1_spark.sources.iceberg import (
    IcebergConcurrentCommit,
    IcebergProtocolError,
    iceberg_snapshots,
    iceberg_table_version,
    read_iceberg_table,
    write_iceberg_table,
)


# --------------------------------------------------------------------------
# Avro codec
# --------------------------------------------------------------------------

_REC_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"], "default": None},
            {"name": "c", "type": {"type": "array", "items": "long"}},
            {"name": "d", "type": {"type": "map", "values": "string"}},
            {"name": "e", "type": "boolean"},
            {"name": "f", "type": "double"},
            {"name": "g", "type": "bytes"},
        ],
    }
)

_REC = st.fixed_dictionaries(
    {
        "a": st.integers(min_value=-(2**63), max_value=2**63 - 1),
        "b": st.none() | st.text(max_size=20),
        "c": st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=5),
        "d": st.dictionaries(st.text(max_size=8), st.text(max_size=8), max_size=4),
        "e": st.booleans(),
        "f": st.floats(allow_nan=False),
        "g": st.binary(max_size=16),
    }
)


class TestAvroCodec:
    @settings(max_examples=60, deadline=None)
    @given(st.lists(_REC, max_size=8), st.sampled_from(["null", "deflate"]))
    def test_container_roundtrip(self, tmp_path_factory, recs, codec):
        path = str(tmp_path_factory.mktemp("avro") / "t.avro")
        dump_avro(path, _REC_SCHEMA, recs, codec=codec)
        meta, out = load_avro(path)
        assert out == recs
        assert meta["avro.codec"].decode() == codec

    @settings(max_examples=100, deadline=None)
    @given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
    def test_zigzag_long_roundtrip(self, n):
        buf = io.BytesIO()
        encode(buf, "long", n)
        buf.seek(0)
        assert decode(buf, "long") == n

    def test_named_type_reference_and_enum_fixed(self):
        schema = parse_schema(
            json.dumps(
                {
                    "type": "record",
                    "name": "outer",
                    "fields": [
                        {
                            "name": "p",
                            "type": {
                                "type": "record",
                                "name": "pt",
                                "fields": [{"name": "x", "type": "int"}],
                            },
                        },
                        {"name": "q", "type": "pt"},  # reference by name
                        {
                            "name": "kind",
                            "type": {
                                "type": "enum",
                                "name": "k",
                                "symbols": ["A", "B"],
                            },
                        },
                        {
                            "name": "sync",
                            "type": {"type": "fixed", "name": "s16", "size": 4},
                        },
                    ],
                }
            )
        )
        rec = {"p": {"x": 1}, "q": {"x": -7}, "kind": "B", "sync": b"abcd"}
        buf = io.BytesIO()
        encode(buf, schema, rec)
        buf.seek(0)
        assert decode(buf, schema) == rec

    def test_negative_array_block_count_with_size(self):
        # spec: a negative count means |count| items preceded by a
        # byte size — writers like Java Avro emit this form
        schema = parse_schema(json.dumps({"type": "array", "items": "long"}))
        items = io.BytesIO()
        encode(items, "long", 5)
        encode(items, "long", 6)
        payload = items.getvalue()
        buf = io.BytesIO()
        encode(buf, "long", -2)
        encode(buf, "long", len(payload))
        buf.write(payload)
        encode(buf, "long", 0)
        buf.seek(0)
        assert decode(buf, schema) == [5, 6]

    def test_corrupt_sync_marker_raises(self, tmp_path):
        path = str(tmp_path / "t.avro")
        dump_avro(path, _REC_SCHEMA, [{"a": 1, "b": None, "c": [], "d": {},
                                       "e": True, "f": 0.0, "g": b""}])
        raw = bytearray(open(path, "rb").read())
        raw[-1] ^= 0xFF
        open(path, "wb").write(bytes(raw))
        with pytest.raises(AvroError, match="sync"):
            load_avro(path)


# --------------------------------------------------------------------------
# Iceberg tables
# --------------------------------------------------------------------------


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        (F.col("id") % 3).cast("string").alias("part"),
    )


def _rows(df):
    return sorted((r.k, r.v, r.part) for r in df.select("k", "v", "part").collect())


class TestIcebergRoundTrip:
    def test_write_read_append_overwrite_timetravel(self, spark, tmp_path):
        path = str(tmp_path / "t1")
        v1 = write_iceberg_table(_df(spark, 0, 10), path)
        assert v1 == 1
        assert _rows(read_iceberg_table(spark, path)) == _rows(_df(spark, 0, 10))

        v2 = write_iceberg_table(_df(spark, 10, 15), path, mode="append")
        assert v2 == 2
        assert _rows(read_iceberg_table(spark, path)) == _rows(_df(spark, 0, 15))

        v3 = write_iceberg_table(_df(spark, 100, 103), path, mode="overwrite")
        assert v3 == 3
        assert _rows(read_iceberg_table(spark, path)) == _rows(_df(spark, 100, 103))

        # time travel: metadata version pin sees the pre-overwrite state
        assert _rows(read_iceberg_table(spark, path, version=2)) == _rows(
            _df(spark, 0, 15)
        )
        assert _rows(read_iceberg_table(spark, path, version=1)) == _rows(
            _df(spark, 0, 10)
        )
        # snapshot pin within the LATEST metadata (old snapshots kept)
        snaps = iceberg_snapshots(path)
        assert [s["operation"] for s in snaps] == ["append", "append", "overwrite"]
        assert _rows(
            read_iceberg_table(spark, path, snapshot_id=snaps[0]["snapshot-id"])
        ) == _rows(_df(spark, 0, 10))
        assert iceberg_table_version(path) == 3

    def test_partitioned_layout_and_typed_tuples(self, spark, tmp_path):
        path = str(tmp_path / "t2")
        write_iceberg_table(_df(spark, 0, 30), path, partition_by=["part"])
        got = read_iceberg_table(spark, path)
        assert _rows(got) == _rows(_df(spark, 0, 30))
        # data files keep ALL schema columns (spec behavior) and the
        # hive layout uses shadow dirs
        data_dirs = os.listdir(os.path.join(path, "data"))
        assert any(d.startswith("_p_part=") for d in data_dirs)
        # the manifest carries a typed partition tuple
        from etl_processing_scd1_spark.sources.avro import load_avro as _load

        meta_dir = os.path.join(path, "metadata")
        manifest = next(
            f for f in os.listdir(meta_dir) if f.endswith("-m0.avro")
        )
        _, entries = _load(os.path.join(meta_dir, manifest))
        parts = {e["data_file"]["partition"]["part"] for e in entries}
        assert parts == {"0", "1", "2"}
        assert all(e["data_file"]["record_count"] > 0 for e in entries)

    def test_integer_partition_column_round_trips_typed(self, spark, tmp_path):
        path = str(tmp_path / "t3")
        df = spark.range(0, 20).select(
            F.col("id").alias("k"), (F.col("id") % 4).alias("bucket")
        )
        write_iceberg_table(df, path, partition_by=["bucket"])
        got = read_iceberg_table(spark, path)
        assert dict(got.dtypes)["bucket"] == "bigint"
        assert sorted(r.bucket for r in got.select("bucket").distinct().collect()) == [
            0, 1, 2, 3,
        ]

    def test_append_reorders_columns_to_table_schema(self, spark, tmp_path):
        path = str(tmp_path / "t4")
        write_iceberg_table(_df(spark, 0, 5), path)
        shuffled = _df(spark, 5, 8).select("part", "v", "k")
        write_iceberg_table(shuffled, path, mode="append")
        assert _rows(read_iceberg_table(spark, path)) == _rows(_df(spark, 0, 8))

    def test_empty_overwrite_gives_empty_snapshot(self, spark, tmp_path):
        path = str(tmp_path / "t5")
        write_iceberg_table(_df(spark, 0, 5), path)
        write_iceberg_table(_df(spark, 0, 5).limit(0), path, mode="overwrite")
        got = read_iceberg_table(spark, path)
        assert got.count() == 0
        assert got.columns == ["k", "v", "part"]


class TestIcebergProtocol:
    def test_concurrent_commit_loses_cleanly(self, spark, tmp_path):
        path = str(tmp_path / "t6")
        write_iceberg_table(_df(spark, 0, 5), path)
        # steal version 2 out from under the writer
        v2 = os.path.join(path, "metadata", "v2.metadata.json")
        with open(os.path.join(path, "metadata", "v1.metadata.json")) as fh:
            json_v1 = fh.read()
        with open(v2, "w") as fh:
            fh.write(json_v1)
        with pytest.raises(IcebergConcurrentCommit):
            write_iceberg_table(_df(spark, 5, 9), path, mode="append")
        # the winner's table still reads
        assert read_iceberg_table(spark, path, version=1).count() == 5

    def test_future_format_version_gated(self, spark, tmp_path):
        path = str(tmp_path / "t7")
        write_iceberg_table(_df(spark, 0, 5), path)
        f = os.path.join(path, "metadata", "v1.metadata.json")
        meta = json.load(open(f))
        meta["format-version"] = 4
        json.dump(meta, open(f, "w"))
        # v3 is implemented (puffin DVs, tests/test_iceberg_v3.py);
        # the gate now sits at the next unreleased version
        with pytest.raises(IcebergProtocolError, match="format-version 4"):
            read_iceberg_table(spark, path)

    def test_spec_invalid_equality_delete_gated(self, spark, tmp_path):
        """Equality deletes ARE implemented, but a spec-invalid one —
        ``data_file.content=2`` with no ``equality_ids`` — must raise
        rather than guess the delete key: the hand-rewritten manifest
        marks every file as such a delete."""
        path = str(tmp_path / "t8")
        write_iceberg_table(_df(spark, 0, 5), path)
        meta_dir = os.path.join(path, "metadata")
        mf = next(f for f in os.listdir(meta_dir) if f.endswith("-m0.avro"))
        mp = os.path.join(meta_dir, mf)
        meta_hdr, entries = load_avro(mp)
        schema = json.loads(meta_hdr["avro.schema"].decode())
        df_field = next(
            f for f in schema["fields"] if f["name"] == "data_file"
        )
        df_field["type"]["fields"].insert(
            0, {"name": "content", "type": "int", "field-id": 134}
        )
        for e in entries:
            e["data_file"]["content"] = 2
        dump_avro(mp, json.dumps(schema), entries)
        with pytest.raises(IcebergProtocolError, match="equality_ids"):
            read_iceberg_table(spark, path)

    def test_nested_schema_round_trips(self, spark, tmp_path):
        # formerly a "flat scalar schemas only" writer gate; nested
        # types are now first-class (full coverage in
        # tests/test_nested_types.py)
        df = spark.range(3).select(
            F.col("id").alias("k"), F.struct(F.col("id")).alias("s")
        )
        path = str(tmp_path / "t9")
        write_iceberg_table(df, path)
        got = read_iceberg_table(spark, path)
        assert sorted(r.s.id for r in got.collect()) == [0, 1, 2]


class TestForeignTable:
    def test_partition_constants_filled_from_manifest(self, spark, tmp_path):
        """A table written by engines that DROP identity-partition
        source columns from data files (hive-migrated layouts): our
        reader reconstitutes the column from the manifest's typed
        partition tuple."""
        import pyarrow.parquet as pq

        path = str(tmp_path / "t10")
        write_iceberg_table(_df(spark, 0, 30), path, partition_by=["part"])
        # strip the partition column out of every data file in place
        for root, _d, fns in os.walk(os.path.join(path, "data")):
            for fn in fns:
                if fn.endswith(".parquet"):
                    f = os.path.join(root, fn)
                    t = pq.read_table(f)
                    # a foreign writer carries no Spark row-metadata
                    # footer key (Spark would trust it over the
                    # physical schema and resurrect the column as NULL)
                    t = t.drop_columns(["part"]).replace_schema_metadata(None)
                    pq.write_table(t, f)
        got = read_iceberg_table(spark, path)
        assert _rows(got) == _rows(_df(spark, 0, 30))


class TestMetadataPlannedScan:
    def test_read_builds_without_spark_jobs(self, spark, tmp_path):
        """The scan is planned from the table metadata alone: on a
        table with an identity partition, a renamed column, a position
        delete and an equality delete, building the read runs no Spark
        job (no footer inference, no per-file join input), and the
        rows are the visible ones."""
        from etl_processing_scd1_spark.sources.iceberg import (
            _load_metadata,
            _snapshot_files,
            delete_iceberg_rows,
            rename_iceberg_column,
            upsert_iceberg_table,
        )

        from .conftest import spark_jobs

        path = str(tmp_path / "planned")
        write_iceberg_table(_df(spark, 0, 12), path, partition_by=["part"])
        rename_iceberg_column(path, "v", "val")
        upsert_iceberg_table(                      # equality delete on k
            spark.range(8, 14).select(
                F.col("id").alias("k"),
                (F.col("id") * 10 + 1).alias("val"),
                (F.col("id") % 3).cast("string").alias("part"),
            ),
            path, ["k"],
        )
        delete_iceberg_rows(spark, path, "k = 2")  # position delete
        deletes = _snapshot_files(path, _load_metadata(path), None)[2]
        assert sorted(d["content"] for d in deletes) == [1, 2]

        got = []
        assert spark_jobs(
            spark, lambda: got.append(read_iceberg_table(spark, path))
        ) == 0
        assert sorted((r.k, r.val, r.part) for r in got[0].collect()) == sorted(
            [(k, k * 10, str(k % 3)) for k in range(8) if k != 2]
            + [(k, k * 10 + 1, str(k % 3)) for k in range(8, 14)]
        )


class TestAvroDistributedScan:
    def test_multi_file_parse_nullable_union_and_source_file(self, spark, tmp_path):
        import json

        from etl_processing_scd1_spark.sources.avro import dump_avro
        from etl_processing_scd1_spark.sources.readers import read_avro_distributed

        schema = json.dumps(
            {
                "type": "record",
                "name": "r",
                "fields": [
                    {"name": "k", "type": "long"},
                    {"name": "name", "type": ["null", "string"], "default": None},
                    {"name": "ok", "type": "boolean"},
                ],
            }
        )
        for i in range(3):
            recs = [
                {"k": i * 10 + j, "name": None if j == 0 else f"n{i}{j}", "ok": j % 2 == 0}
                for j in range(4)
            ]
            dump_avro(str(tmp_path / f"part{i}.avro"), schema, recs)
        df = read_avro_distributed(spark, str(tmp_path / "*.avro"))
        assert df.columns == ["k", "name", "ok"]
        assert dict(df.dtypes) == {"k": "bigint", "name": "string", "ok": "boolean"}
        rows = {r.k: (r.name, r.ok) for r in df.collect()}
        assert len(rows) == 12
        assert rows[0] == (None, True)
        assert rows[21] == ("n21", False)
        # with_source_file surfaces per-file lineage
        df2 = read_avro_distributed(spark, str(tmp_path / "*.avro"),
                                    with_source_file=True)
        files = {r._source_file.rsplit("/", 1)[-1] for r in df2.collect()}
        assert files == {"part0.avro", "part1.avro", "part2.avro"}

    def test_nested_schema_rejected(self, spark, tmp_path):
        import json

        from etl_processing_scd1_spark.sources.avro import AvroError, dump_avro
        from etl_processing_scd1_spark.sources.readers import read_avro_distributed

        schema = json.dumps(
            {
                "type": "record",
                "name": "r",
                "fields": [
                    {"name": "xs", "type": {"type": "array", "items": "long"}}
                ],
            }
        )
        dump_avro(str(tmp_path / "n.avro"), schema, [{"xs": [1, 2]}])
        with pytest.raises(AvroError, match="flat scalar"):
            read_avro_distributed(spark, str(tmp_path / "*.avro"))


class TestManifestBoundsPruning:
    def test_plan_prunes_files_and_reads_stay_correct(self, spark, tmp_path):
        """Per-file lower/upper bounds (parquet FOOTER stats → spec
        single-value serialization in the manifest) prune the scan
        plan at metadata time; a predicate read + exact filter equals
        the unpruned read + filter."""
        from etl_processing_scd1_spark.sources.iceberg import iceberg_plan_files

        path = str(tmp_path / "tb")
        df = spark.range(0, 1000).select(
            F.col("id").alias("k"),
            (F.col("id") % 100).alias("v"),
            F.concat(F.lit("u"), F.lpad(F.col("id").cast("string"), 4, "0"))
            .alias("name"),
        )
        # disjoint k-ranges per file
        write_iceberg_table(df.repartitionByRange(8, "k"), path)
        all_files = iceberg_plan_files(path)
        assert len(all_files) == 8
        pruned = iceberg_plan_files(path, predicates={"k": (100, 150)})
        assert 1 <= len(pruned) < len(all_files)
        # string bounds prune too
        pruned_s = iceberg_plan_files(path, predicates={"name": ("u0900", None)})
        assert 1 <= len(pruned_s) < len(all_files)
        # correctness: superset guarantee + exact filter == plain read
        got = (
            read_iceberg_table(spark, path, predicates={"k": (100, 150)})
            .filter((F.col("k") >= 100) & (F.col("k") <= 150))
        )
        want = read_iceberg_table(spark, path).filter(
            (F.col("k") >= 100) & (F.col("k") <= 150)
        )
        assert sorted(r.k for r in got.collect()) == sorted(
            r.k for r in want.collect()
        )

    def test_files_without_bounds_never_pruned(self, spark, tmp_path):
        """A foreign manifest with no bounds maps must survive any
        predicate (pruning is a superset guarantee, not a filter)."""
        from etl_processing_scd1_spark.sources.avro import dump_avro, load_avro
        from etl_processing_scd1_spark.sources.iceberg import iceberg_plan_files

        path = str(tmp_path / "tnb")
        write_iceberg_table(_df(spark, 0, 20), path)
        meta_dir = os.path.join(path, "metadata")
        for fn in os.listdir(meta_dir):
            if fn.endswith("-m0.avro"):
                mp = os.path.join(meta_dir, fn)
                hdr, entries = load_avro(mp)
                for e in entries:
                    e["data_file"]["lower_bounds"] = None
                    e["data_file"]["upper_bounds"] = None
                dump_avro(mp, hdr["avro.schema"].decode(), entries)
        assert len(iceberg_plan_files(path, predicates={"k": (10**9, None)})) \
            == len(iceberg_plan_files(path))


class TestStreamingIcebergSink:
    def test_stream_matches_batch_and_replay_is_idempotent(self, spark, tmp_path):
        import glob
        import shutil

        from etl_processing_scd1_spark.sources.iceberg import iceberg_last_batch_id
        from etl_processing_scd1_spark.streaming.pipeline import (
            streaming_iceberg_sink,
        )

        src = _df(spark, 0, 40)
        feed = tmp_path / "feed"
        feed.mkdir()
        src.filter(F.col("k") < 20).coalesce(1).write.parquet(str(feed / "_b1.tmp"))
        src.filter(F.col("k") >= 20).coalesce(1).write.parquet(str(feed / "_b2.tmp"))
        for i, f in enumerate(sorted(glob.glob(str(feed / "_b*.tmp" / "*.parquet")))):
            shutil.copy(f, feed / f"{i:03d}.parquet")

        stream = spark.readStream.schema(src.schema).parquet(str(feed))
        table_path = str(tmp_path / "it")
        q = streaming_iceberg_sink(
            stream, table_path, checkpoint_dir=str(tmp_path / "ck"),
            app_id="test-app",
        )
        q.awaitTermination(180)
        assert _rows(read_iceberg_table(spark, table_path)) == _rows(src)
        assert iceberg_last_batch_id(table_path, "test-app") >= 0

        # at-least-once redelivery with a FRESH checkpoint: batch ids
        # replay from 0, all at/below the summary watermark — no
        # double appends
        stream2 = spark.readStream.schema(src.schema).parquet(str(feed))
        q2 = streaming_iceberg_sink(
            stream2, table_path, checkpoint_dir=str(tmp_path / "ck2"),
            app_id="test-app",
        )
        q2.awaitTermination(180)
        assert _rows(read_iceberg_table(spark, table_path)) == _rows(src)
        # a DIFFERENT app id is an independent writer and does append
        stream3 = spark.readStream.schema(src.schema).parquet(str(feed))
        q3 = streaming_iceberg_sink(
            stream3, table_path, checkpoint_dir=str(tmp_path / "ck3"),
            app_id="other-app",
        )
        q3.awaitTermination(180)
        assert read_iceberg_table(spark, table_path).count() == 80


class TestEvolutionAndCompaction:
    def test_add_column_evolution(self, spark, tmp_path):
        """Appending a DataFrame with a NEW column evolves the schema
        (fresh id appended — ids never reused); rows from files
        written before the evolution read as NULL for it, and a
        writer missing an existing column null-fills it."""
        path = str(tmp_path / "ev")
        write_iceberg_table(_df(spark, 0, 5), path)
        evolved = _df(spark, 5, 8).withColumn("score", F.col("k") * 2)
        write_iceberg_table(evolved, path, mode="append")
        got = read_iceberg_table(spark, path)
        assert got.columns == ["k", "v", "part", "score"]
        rows = {r.k: r.score for r in got.collect()}
        assert rows[0] is None and rows[6] == 12
        # old writer shape (no score column) still appends, as NULL
        write_iceberg_table(_df(spark, 8, 9), path, mode="append")
        got2 = read_iceberg_table(spark, path)
        assert got2.count() == 9
        assert {r.k: r.score for r in got2.collect()}[8] is None
        # time travel to the pre-evolution metadata keeps the old schema
        v1 = read_iceberg_table(spark, path, version=1)
        assert v1.columns == ["k", "v", "part"]

    def test_compaction_replace_snapshot(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            compact_iceberg_table,
            iceberg_plan_files,
        )

        path = str(tmp_path / "cp")
        df = spark.range(0, 200).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v"),
            (F.col("id") % 3).cast("string").alias("part"),
        )
        write_iceberg_table(df.repartition(6), path)
        for lo in (200, 260):
            write_iceberg_table(
                spark.range(lo, lo + 60).select(
                    F.col("id").alias("k"), (F.col("id") * 3).alias("v"),
                    (F.col("id") % 3).cast("string").alias("part"),
                ).repartition(4),
                path, mode="append",
            )
        before = iceberg_plan_files(path)
        assert len(before) >= 10
        compact_iceberg_table(spark, path, target_files=2)
        after = iceberg_plan_files(path)
        assert len(after) <= 2
        got = read_iceberg_table(spark, path)
        assert got.count() == 320
        assert sorted(r.k for r in got.collect()) == list(range(320))
        # history intact: pre-compaction snapshot still readable
        snaps = iceberg_snapshots(path)
        assert snaps[-1]["operation"] == "replace"
        assert _rows(
            read_iceberg_table(spark, path,
                               snapshot_id=snaps[-2]["snapshot-id"])
        ) == _rows(read_iceberg_table(spark, path))


class TestExpireSnapshots:
    def test_expiry_reclaims_unreferenced_tree(self, spark, tmp_path):
        import glob

        from etl_processing_scd1_spark.sources.iceberg import expire_snapshots

        path = str(tmp_path / "exp")
        write_iceberg_table(_df(spark, 0, 10), path)                  # snap 1
        write_iceberg_table(_df(spark, 10, 14), path, mode="append")  # snap 2
        write_iceberg_table(_df(spark, 100, 103), path, mode="overwrite")  # 3
        n_data_before = len(glob.glob(os.path.join(path, "data", "**", "*.parquet"),
                                      recursive=True))
        v = expire_snapshots(path, keep_last=1)
        assert v == 4
        snaps = iceberg_snapshots(path)
        assert len(snaps) == 1 and snaps[0]["operation"] == "overwrite"
        # current snapshot unaffected
        assert _rows(read_iceberg_table(spark, path)) == _rows(_df(spark, 100, 103))
        # the dropped snapshots' exclusive data files are gone
        n_data_after = len(glob.glob(os.path.join(path, "data", "**", "*.parquet"),
                                     recursive=True))
        assert n_data_after < n_data_before
        # expired snapshot ids are unreadable now
        with pytest.raises(ValueError, match="snapshot"):
            read_iceberg_table(spark, path, snapshot_id=123456789)

    def test_shared_files_survive_expiry(self, spark, tmp_path):
        """Append snapshots SHARE manifests with their parents: files
        referenced by a retained snapshot must survive even though an
        expired snapshot also referenced them."""
        path = str(tmp_path / "exp2")
        write_iceberg_table(_df(spark, 0, 10), path)                  # snap 1
        write_iceberg_table(_df(spark, 10, 14), path, mode="append")  # snap 2

        from etl_processing_scd1_spark.sources.iceberg import expire_snapshots

        expire_snapshots(path, keep_last=1)
        # snap 2 (kept) includes snap 1's files — all 14 rows intact
        assert _rows(read_iceberg_table(spark, path)) == _rows(_df(spark, 0, 14))

    def test_noop_when_nothing_to_expire(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import expire_snapshots

        path = str(tmp_path / "exp3")
        write_iceberg_table(_df(spark, 0, 5), path)
        assert expire_snapshots(path, keep_last=5) == 1
        assert read_iceberg_table(spark, path).count() == 5


class TestIcebergLogDataSource:
    """Spark-4 Python DataSource API (format('iceberglog')): batch
    snapshot reads with metadata-version/snapshot-id time travel and
    the incremental streaming source over snapshot adds."""

    @pytest.fixture()
    def registered(self, spark):
        from etl_processing_scd1_spark.sources.iceberglog_datasource import (
            IcebergLogDataSource,
        )

        spark.dataSource.register(IcebergLogDataSource)
        return spark

    def test_batch_read_and_time_travel(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "ids")
        write_iceberg_table(_df(spark, 0, 20), path, partition_by=["part"])
        got = spark.read.format("iceberglog").load(path)
        assert _rows(got) == _rows(_df(spark, 0, 20))
        write_iceberg_table(_df(spark, 100, 103), path, mode="overwrite")
        assert _rows(
            spark.read.format("iceberglog").option("versionAsOf", 1).load(path)
        ) == _rows(_df(spark, 0, 20))
        snaps = iceberg_snapshots(path)
        assert _rows(
            spark.read.format("iceberglog")
            .option("snapshotId", snaps[0]["snapshot-id"]).load(path)
        ) == _rows(_df(spark, 0, 20))
        assert _rows(spark.read.format("iceberglog").load(path)) == _rows(
            _df(spark, 100, 103)
        )

    def test_streaming_incremental_appends(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "iss")
        ck = str(tmp_path / "ck")
        write_iceberg_table(_df(spark, 0, 10), path)

        def drain():
            out: list = []
            q = (
                spark.readStream.format("iceberglog").load(path)
                .writeStream.foreachBatch(
                    lambda b, bid: out.append(sorted(r.k for r in b.collect()))
                )
                .trigger(availableNow=True)
                .option("checkpointLocation", ck)
                .start()
            )
            q.awaitTermination(180)
            return [ks for ks in out if ks]

        assert drain() == [list(range(10))]
        write_iceberg_table(_df(spark, 10, 15), path, mode="append")
        write_iceberg_table(_df(spark, 15, 18), path, mode="append")
        # resumed checkpoint sees ONLY the two new snapshots' adds —
        # carried manifests from the parent snapshot are filtered by
        # added_snapshot_id, so nothing replays
        assert sorted(k for ks in drain() for k in ks) == list(range(10, 18))
        assert drain() == []

    def test_rate_limited_drain_one_micro_batch_per_version(
        self, registered, tmp_path
    ):
        """maxVersionsPerBatch=1: one micro-batch per metadata version
        — the incremental-drain stand-in for availableNow (Spark's
        Python DataSource wrapper downgrades availableNow to a single
        batch; see log_datasource._VersionStreamReader)."""
        import time

        spark = registered
        path = str(tmp_path / "irl")
        write_iceberg_table(_df(spark, 0, 5).coalesce(1), path)       # v1
        write_iceberg_table(
            _df(spark, 5, 10).coalesce(1), path, mode="append"
        )                                                             # v2
        batches: list = []
        q = (
            spark.readStream.format("iceberglog")
            .option("maxVersionsPerBatch", "1")
            .load(path)
            .writeStream.foreachBatch(
                lambda b, bid: batches.append(
                    (bid, sorted(r.k for r in b.collect()))
                )
            )
            .trigger(processingTime="50 milliseconds")
            .option("checkpointLocation", str(tmp_path / "irlck"))
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline and \
                    sum(len(ks) for _, ks in batches) < 10:
                time.sleep(0.2)
        finally:
            q.stop()
        fed = [(bid, ks) for bid, ks in batches if ks]
        assert [ks for _, ks in fed] == [list(range(5)), list(range(5, 10))]
        assert fed[0][0] < fed[1][0]


class TestIcebergSourcePushdown:
    def test_manifest_bounds_pushdown(self, spark, tmp_path):
        """pushFilters routes comparison filters into the manifest-
        bounds pruning — the DataSource plans fewer InputPartitions
        and results equal the exact filter over the full read."""
        from pyspark.sql.datasource import (
            GreaterThanOrEqual,
            LessThanOrEqual,
        )

        from etl_processing_scd1_spark.sources.iceberglog_datasource import (
            IcebergLogDataSource,
        )

        spark.dataSource.register(IcebergLogDataSource)
        path = str(tmp_path / "ipf")
        df = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        write_iceberg_table(df.repartitionByRange(8, "k"), path)
        r_all = IcebergLogDataSource({"path": path}).reader(df.schema)
        assert len(r_all.partitions()) == 8
        r = IcebergLogDataSource({"path": path}).reader(df.schema)
        r.pushFilters([GreaterThanOrEqual(("k",), 100),
                       LessThanOrEqual(("k",), 150)])
        assert 1 <= len(r.partitions()) < 8
        got = (
            spark.read.format("iceberglog").load(path)
            .filter("k between 100 and 150")
        )
        assert sorted(row.k for row in got.collect()) == list(range(100, 151))


# --------------------------------------------------------------------------
# Avro codec: RANDOM-schema property test (the codec is load-bearing
# for every Iceberg manifest — a fixed-shape round-trip is not enough)
# --------------------------------------------------------------------------

_PRIMS = ["null", "boolean", "int", "long", "float", "double", "bytes", "string"]


def _schemas(depth=2):
    prim = st.sampled_from(_PRIMS)
    if depth == 0:
        return prim
    sub = _schemas(depth - 1)
    names = st.uuids().map(lambda u: f"r{u.hex[:8]}")
    record = st.builds(
        lambda name, fields: {
            "type": "record",
            "name": name,
            "fields": [
                {"name": f"f{i}", "type": t} for i, t in enumerate(fields)
            ],
        },
        names,
        st.lists(sub, min_size=1, max_size=3),
    )
    array = st.builds(lambda t: {"type": "array", "items": t}, sub)
    mapp = st.builds(lambda t: {"type": "map", "values": t}, sub)
    union = st.builds(
        lambda t: ["null", t],
        st.sampled_from([p for p in _PRIMS if p != "null"]),
    )
    return st.one_of(prim, record, array, mapp, union)


def _value_for(schema):
    if schema == "null":
        return st.none()
    if schema == "boolean":
        return st.booleans()
    if schema in ("int", "long"):
        lim = 2**31 - 1 if schema == "int" else 2**63 - 1
        return st.integers(min_value=-lim - 1, max_value=lim)
    if schema in ("float", "double"):
        return st.floats(allow_nan=False, width=32 if schema == "float" else 64)
    if schema == "bytes":
        return st.binary(max_size=12)
    if schema == "string":
        return st.text(max_size=12)
    if isinstance(schema, list):  # ["null", X]
        return st.none() | _value_for(schema[1])
    t = schema["type"]
    if t == "record":
        return st.fixed_dictionaries(
            {f["name"]: _value_for(f["type"]) for f in schema["fields"]}
        )
    if t == "array":
        return st.lists(_value_for(schema["items"]), max_size=4)
    if t == "map":
        return st.dictionaries(
            st.text(max_size=6), _value_for(schema["values"]), max_size=3
        )
    raise AssertionError(schema)


class TestAvroRandomSchemas:
    @settings(max_examples=80, deadline=None)
    @given(st.data())
    def test_any_schema_roundtrips(self, data):
        import io as _io

        from etl_processing_scd1_spark.sources.avro import (
            decode as _dec,
            encode as _enc,
            parse_schema as _parse,
        )

        schema_node = data.draw(_schemas())
        value = data.draw(_value_for(schema_node))
        parsed = _parse(json.dumps(schema_node))
        buf = _io.BytesIO()
        _enc(buf, parsed, value)
        buf.seek(0)
        assert _dec(buf, parsed) == value
        assert buf.read() == b""  # decoder consumed exactly what was written


class TestIcebergLogDataSourceWriter:
    """Write half of format('iceberglog'): executors write
    data/ parquet files with footer bounds and report commit
    messages; the driver folds them into one manifest tree +
    put-if-absent metadata commit (shared _commit_snapshot)."""

    @pytest.fixture()
    def registered(self, spark):
        from etl_processing_scd1_spark.sources.iceberglog_datasource import (
            IcebergLogDataSource,
        )

        spark.dataSource.register(IcebergLogDataSource)
        return spark

    def test_append_overwrite_time_travel_and_bounds(self, registered, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import iceberg_plan_files

        spark = registered
        path = str(tmp_path / "iw1")
        (
            _df(spark, 0, 60)
            .write.format("iceberglog").mode("append")
            .option("partitionBy", "part").save(path)
        )
        assert _rows(read_iceberg_table(spark, path)) == _rows(_df(spark, 0, 60))
        _df(spark, 60, 70).write.format("iceberglog").mode("append").save(path)
        assert read_iceberg_table(spark, path).count() == 70
        _df(spark, 0, 5).write.format("iceberglog").mode("overwrite").save(path)
        assert _rows(read_iceberg_table(spark, path)) == _rows(_df(spark, 0, 5))
        assert read_iceberg_table(spark, path, version=2).count() == 70
        assert [s["operation"] for s in iceberg_snapshots(path)] == [
            "append", "append", "overwrite",
        ]
        # executor-written footer bounds drive manifest pruning
        assert iceberg_plan_files(path, predicates={"k": (10**9, None)}) == []
        # typed partition tuples present in the partitioned commit's
        # manifest (later commits are unpartitioned; uuid file names
        # sort arbitrarily, so union across all manifests)
        meta_dir = os.path.join(path, "metadata")
        seen = set()
        for fn in os.listdir(meta_dir):
            if fn.endswith("-m0.avro"):
                _, entries = load_avro(os.path.join(meta_dir, fn))
                seen |= {
                    e["data_file"]["partition"].get("part") for e in entries
                }
        assert {"0", "1", "2"} <= seen

    def test_append_schema_mismatch_refused(self, registered, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            IcebergProtocolError,
        )

        spark = registered
        path = str(tmp_path / "iw2")
        _df(spark, 0, 5).write.format("iceberglog").mode("append").save(path)
        bad = _df(spark, 5, 8).withColumn("extra", F.lit(1))
        with pytest.raises(Exception) as ei:
            bad.write.format("iceberglog").mode("append").save(path)
        assert "match the table schema" in str(ei.value)
        # table unchanged and still readable
        assert read_iceberg_table(spark, path).count() == 5


class TestPositionDeletes:
    """Iceberg v2 merge-on-read: delete_iceberg_rows commits a
    position-delete file (content=1 manifest); both readers apply it
    at scan time, time travel sees pre-delete snapshots, planning is
    unaffected, and the v1 writer gate still holds."""

    def test_delete_read_time_travel(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            delete_iceberg_rows,
            iceberg_plan_files,
        )

        path = str(tmp_path / "pd1")
        write_iceberg_table(_df(spark, 0, 60).repartition(4), path)
        n_files = len(iceberg_plan_files(path))
        v = delete_iceberg_rows(spark, path, "k % 5 = 0")
        assert v == 2
        got = read_iceberg_table(spark, path)
        assert got.count() == 48
        assert got.filter("k % 5 = 0").count() == 0
        # untouched rows identical, columns intact
        assert sorted((r.k, r.v) for r in got.collect()) == [
            (k, k * 10) for k in range(60) if k % 5
        ]
        # pre-delete snapshot intact (metadata-version time travel)
        assert read_iceberg_table(spark, path, version=1).count() == 60
        # deletes do not change the planned data-file set
        assert len(iceberg_plan_files(path)) == n_files
        # stacked second delete on the (now v2) table
        v2 = delete_iceberg_rows(spark, path, "k = 7")
        assert v2 == 3
        assert read_iceberg_table(spark, path).count() == 47
        # no-match delete: no new version committed
        assert delete_iceberg_rows(spark, path, "k = -1") == 3

    def test_partitioned_table_delete(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            delete_iceberg_rows,
        )

        path = str(tmp_path / "pd2")
        write_iceberg_table(_df(spark, 0, 30), path, partition_by=["part"])
        delete_iceberg_rows(spark, path, "part = '1'")
        got = read_iceberg_table(spark, path)
        assert got.count() == 20
        assert got.filter("part = '1'").count() == 0
        assert read_iceberg_table(spark, path, version=1).count() == 30

    def test_datasource_applies_deletes(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            delete_iceberg_rows,
        )
        from etl_processing_scd1_spark.sources.iceberglog_datasource import (
            IcebergLogDataSource,
        )

        spark.dataSource.register(IcebergLogDataSource)
        path = str(tmp_path / "pd3")
        write_iceberg_table(_df(spark, 0, 40).repartition(4), path)
        delete_iceberg_rows(spark, path, "k < 10")
        ds = spark.read.format("iceberglog").load(path)
        assert ds.count() == 30
        assert ds.filter("k < 10").count() == 0
        assert ds.agg(F.sum("v").alias("s")).collect()[0].s == \
            sum(k * 10 for k in range(10, 40))
        # batch time travel through the DataSource ignores later deletes
        tt = spark.read.format("iceberglog").option("versionAsOf", 1).load(path)
        assert tt.count() == 40
        # manifest-bounds pushdown still correct with deletes present
        assert sorted(
            r.k for r in ds.filter("k >= 35").collect()
        ) == list(range(35, 40))

    def test_streaming_source_skips_delete_snapshots(self, spark, tmp_path):
        """The appends-stream consumer must not emit anything for a
        delete commit (same contract as deltalog's ignoreDeletes)."""
        from etl_processing_scd1_spark.sources.iceberg import (
            delete_iceberg_rows,
        )
        from etl_processing_scd1_spark.sources.iceberglog_datasource import (
            IcebergLogDataSource,
        )

        spark.dataSource.register(IcebergLogDataSource)
        path = str(tmp_path / "pd4")
        ck = str(tmp_path / "ck")
        write_iceberg_table(_df(spark, 0, 10), path)

        def drain():
            got: list = []
            q = (
                spark.readStream.format("iceberglog").load(path)
                .writeStream.foreachBatch(
                    lambda b, bid: got.append(sorted(r.k for r in b.collect()))
                )
                .trigger(availableNow=True)
                .option("checkpointLocation", ck)
                .start()
            )
            q.awaitTermination(180)
            return [ks for ks in got if ks]

        assert drain() == [list(range(10))]
        delete_iceberg_rows(spark, path, "k < 3")
        assert drain() == []

    def test_append_and_compact_after_delete(self, spark, tmp_path):
        """The v2 table stays fully writable: appends carry the delete
        manifests forward (old deletes keep applying, new rows are
        untouched) with advancing sequence numbers; compaction
        rewrites the rows with deletes applied, leaving a clean
        delete-free snapshot."""
        from etl_processing_scd1_spark.sources.iceberg import (
            _load_metadata,
            _snapshot_files,
            compact_iceberg_table,
            delete_iceberg_rows,
        )

        path = str(tmp_path / "pd5")
        write_iceberg_table(_df(spark, 0, 10), path)
        delete_iceberg_rows(spark, path, "k < 3")
        write_iceberg_table(_df(spark, 10, 20), path, mode="append")
        got = read_iceberg_table(spark, path)
        assert sorted(r.k for r in got.collect()) == list(range(3, 20))
        meta = _load_metadata(path)
        assert meta["format-version"] == 2
        assert meta["last-sequence-number"] == 2
        snaps = meta["snapshots"]
        assert [s.get("sequence-number") for s in snaps[-2:]] == [1, 2]
        # second delete on the appended table reaches the new rows too
        delete_iceberg_rows(spark, path, "k = 15")
        assert read_iceberg_table(spark, path).count() == 16
        # compaction applies the deletes and drops the delete manifests
        compact_iceberg_table(spark, path, target_files=2)
        meta = _load_metadata(path)
        _, files, deletes = _snapshot_files(path, meta, None, None)
        assert deletes == []
        assert len(files) <= 2
        got = read_iceberg_table(spark, path)
        assert sorted(r.k for r in got.collect()) == [
            k for k in range(3, 20) if k != 15
        ]

    def test_dml_sees_a_column_no_file_holds(self, spark, tmp_path):
        """DELETE and UPDATE scan the rows readers see: a column added
        after every data file was written reads NULL in both, so a
        condition or a rewrite may name it."""
        from etl_processing_scd1_spark.sources.iceberg import (
            add_iceberg_column,
            delete_iceberg_rows,
            update_iceberg_rows,
        )

        path = str(tmp_path / "pd_note")
        write_iceberg_table(_df(spark, 0, 5), path)
        add_iceberg_column(path, "note", "string")
        update_iceberg_rows(spark, path, "k = 1", {"v": "111"})
        delete_iceberg_rows(spark, path, "note IS NULL AND k = 2")
        got = sorted(
            (r.k, r.v, r.note) for r in read_iceberg_table(spark, path).collect()
        )
        assert got == [(0, 0, None), (1, 111, None), (3, 30, None),
                       (4, 40, None)]


class TestEqualityDeletes:
    """v2 merge-on-read EQUALITY deletes: ``upsert_iceberg_table``
    (the Flink-CDC write pattern — one snapshot with an equality-
    delete file over the key columns plus the batch's data files at
    the same sequence number) and the strict ``data_seq < delete_seq``
    scan-planning bound in both readers (spec §Scan Planning,
    §Equality Delete Files)."""

    def test_upsert_roundtrip_reinsert_survives(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            upsert_iceberg_table,
        )

        path = str(tmp_path / "eq1")
        write_iceberg_table(_df(spark, 0, 20).repartition(3), path)

        def batch(lo, hi, bump):
            return spark.range(lo, hi).select(
                F.col("id").alias("k"),
                (F.col("id") * 10 + bump).alias("v"),
                (F.col("id") % 3).cast("string").alias("part"),
            )

        # keys 5..19 replaced, 20..24 fresh inserts — ONE snapshot
        assert upsert_iceberg_table(batch(5, 25, 1), path, ["k"]) == 2
        got = {r.k: r.v for r in read_iceberg_table(spark, path).collect()}
        assert len(got) == 25
        assert got[3] == 30      # untouched pre-upsert row
        assert got[7] == 71      # replaced
        assert got[22] == 221    # inserted
        # pre-upsert snapshot intact (time travel)
        assert read_iceberg_table(spark, path, version=1).count() == 20
        # second upsert: the STRICT seq bound means it replaces rows
        # written by the FIRST upsert (same key, higher delete seq)
        # while its own rows survive their co-committed delete
        assert upsert_iceberg_table(batch(7, 8, 2), path, ["k"]) == 3
        got = {r.k: r.v for r in read_iceberg_table(spark, path).collect()}
        assert len(got) == 25
        assert got[7] == 72 and got[8] == 81 and got[3] == 30

    def test_upsert_via_datasource_and_null_keys(self, spark, tmp_path):
        """The iceberglog DataSource applies equality deletes
        executor-side (per-file anti-join, only deletes with a higher
        seq than the file) — and null keys match null (the spec's
        null-equals-null delete semantics, which Flink CDC relies
        on)."""
        from etl_processing_scd1_spark.sources.iceberg import (
            upsert_iceberg_table,
        )
        from etl_processing_scd1_spark.sources.iceberglog_datasource import (
            IcebergLogDataSource,
        )

        spark.dataSource.register(IcebergLogDataSource)
        path = str(tmp_path / "eq2")
        base = spark.createDataFrame(
            [(None, 1), (1, 10), (2, 20)], "k long, v long"
        )
        write_iceberg_table(base, path)
        up = spark.createDataFrame([(None, 99), (2, 21)], "k long, v long")
        upsert_iceberg_table(up, path, ["k"])

        expect = {None: 99, 1: 10, 2: 21}
        got = {r.k: r.v for r in read_iceberg_table(spark, path).collect()}
        assert got == expect
        ds = {r.k: r.v
              for r in spark.read.format("iceberglog").load(path).collect()}
        assert ds == expect
        # time travel through the DataSource ignores the later upsert
        tt = spark.read.format("iceberglog").option("versionAsOf", 1).load(path)
        assert {r.k: r.v for r in tt.collect()} == {None: 1, 1: 10, 2: 20}

    def test_upsert_mixed_with_position_deletes_and_compaction(
        self, spark, tmp_path
    ):
        """Equality and position deletes stack on one table; appends
        keep working; compaction rewrites ALL deletes away leaving a
        clean snapshot."""
        from etl_processing_scd1_spark.sources.iceberg import (
            _load_metadata,
            _snapshot_files,
            compact_iceberg_table,
            delete_iceberg_rows,
            upsert_iceberg_table,
        )

        path = str(tmp_path / "eq3")
        write_iceberg_table(_df(spark, 0, 30).repartition(2), path)
        up = spark.range(10, 35).select(
            F.col("id").alias("k"),
            (F.col("id") * 10 + 1).alias("v"),
            (F.col("id") % 3).cast("string").alias("part"),
        )
        upsert_iceberg_table(up, path, ["k"])              # 35 rows live
        delete_iceberg_rows(spark, path, "k % 5 = 0")      # drops 7
        got = {r.k: r.v for r in read_iceberg_table(spark, path).collect()}
        assert len(got) == 28
        assert 10 not in got and got[11] == 111 and got[3] == 30
        # the position delete reached rows from BOTH writes
        assert 0 not in got and 30 not in got
        # appends still work on the eq-delete table
        write_iceberg_table(
            spark.createDataFrame([(100, 1000, "1")], "k long, v long, part string"),
            path, mode="append",
        )
        assert read_iceberg_table(spark, path).count() == 29
        # compaction applies everything and drops the delete manifests
        compact_iceberg_table(spark, path, target_files=2)
        _, files, deletes = _snapshot_files(
            path, _load_metadata(path), None, None
        )
        assert deletes == []
        assert read_iceberg_table(spark, path).count() == 29

    def test_upsert_guards(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            upsert_iceberg_table,
        )

        path = str(tmp_path / "eq4")
        write_iceberg_table(_df(spark, 0, 5), path)
        with pytest.raises(ValueError, match="key column"):
            upsert_iceberg_table(
                spark.createDataFrame([(1, 2)], "a long, b long"), path, ["a"]
            )
        with pytest.raises(ValueError, match="non-empty"):
            upsert_iceberg_table(_df(spark, 0, 1), path, [])
        # upsert into a missing table degrades to a plain create
        p2 = str(tmp_path / "eq5")
        assert upsert_iceberg_table(_df(spark, 0, 5), p2, ["k"]) == 1
        assert read_iceberg_table(spark, p2).count() == 5

    def test_upsert_with_new_columns_evolves_schema(self, spark, tmp_path):
        """Upsert carrying NEW columns evolves the schema in the same
        commit (spec §Schema Evolution; the r10 gate removed): fresh
        field ids past last-column-id, old data files read NULL for
        the added column, the upsert's delete/insert semantics are
        unchanged, and a SECOND upsert over the evolved schema works."""
        from etl_processing_scd1_spark.sources.iceberg import (
            _load_metadata,
            drop_iceberg_column,
            upsert_iceberg_table,
        )

        path = str(tmp_path / "eqevo")
        write_iceberg_table(_df(spark, 0, 6), path)
        src = spark.createDataFrame(
            [(2, 22, "0", "gold"), (6, 66, "0", "silver")],
            "k long, v long, part string, tier string",
        )
        upsert_iceberg_table(src, path, ["k"])
        meta = _load_metadata(path)
        fields = {f["name"]: f["id"] for f in meta["schema"]["fields"]}
        assert fields["tier"] == meta["last-column-id"] == 4
        got = {r.k: (r.v, r.tier)
               for r in read_iceberg_table(spark, path).collect()}
        assert got[2] == (22, "gold") and got[6] == (66, "silver")
        assert got[1][1] is None and len(got) == 7
        # second upsert under the evolved schema
        upsert_iceberg_table(
            spark.createDataFrame([(1, 11, "1", "bronze")],
                                  "k long, v long, part string, tier string"),
            path, ["k"],
        )
        got = {r.k: r.tier
               for r in read_iceberg_table(spark, path).collect()}
        assert got[1] == "bronze" and got[2] == "gold"
        # retired-name reuse still refuses through the upsert path
        drop_iceberg_column(path, "tier")
        with pytest.raises(IcebergProtocolError, match="previously dropped"):
            upsert_iceberg_table(src, path, ["k"])


class TestEqualityDeleteChangelog:
    """Changelog windows over EQUALITY-delete commits (formerly a
    gated raise): the planner emits 'eq_row_delete' events carrying
    the delete file's path + key columns, and each executor task
    key-matches ITS OWN data file — planning stays metadata-only,
    the matching scan stays distributed."""

    @pytest.fixture()
    def registered(self, spark):
        from etl_processing_scd1_spark.sources.iceberglog_datasource import (
            IcebergLogDataSource,
        )

        spark.dataSource.register(IcebergLogDataSource)
        return spark

    def _changes(self, spark, path, start, end=None):
        r = (
            spark.read.format("iceberglog")
            .option("readChangeFeed", "true")
            .option("startingVersion", start)
        )
        if end is not None:
            r = r.option("endingVersion", end)
        return sorted(
            (r_._change_type, r_.k, r_.v, r_._commit_version)
            for r_ in r.load(path).collect()
        )

    def test_upsert_window_emits_erased_row_images(
        self, registered, tmp_path
    ):
        from etl_processing_scd1_spark.sources.iceberg import (
            upsert_iceberg_table,
        )

        spark = registered
        path = str(tmp_path / "eqc1")
        write_iceberg_table(_df(spark, 0, 10).coalesce(1), path)   # v1
        src = spark.createDataFrame(
            [(3, 31, "0"), (10, 100, "1")], "k long, v long, part string"
        )
        upsert_iceberg_table(src, path, ["k"])                     # v2
        assert self._changes(spark, path, 2) == [
            ("delete", 3, 30, 2),
            ("insert", 3, 31, 2),
            ("insert", 10, 100, 2),
        ]
        # the whole-history window emits v1's inserts too
        ch = self._changes(spark, path, 1)
        assert ("insert", 3, 30, 1) in ch and ("delete", 3, 30, 2) in ch
        assert len(ch) == 13  # 10 v1 inserts + 1 delete + 2 upserts

    def test_second_upsert_respects_prior_equality_deletes(
        self, registered, tmp_path
    ):
        """eq_prior interplay: a key already erased by an EARLIER
        equality delete must not re-emit when a LATER delete matches
        it again; the later window's erased image is the UPSERTED
        value, not the original."""
        from etl_processing_scd1_spark.sources.iceberg import (
            upsert_iceberg_table,
        )

        spark = registered
        path = str(tmp_path / "eqc2")
        write_iceberg_table(_df(spark, 0, 6).coalesce(1), path)    # v1
        upsert_iceberg_table(
            spark.createDataFrame([(2, 21, "2")], "k long, v long, part string"),
            path, ["k"],
        )                                                          # v2
        upsert_iceberg_table(
            spark.createDataFrame([(2, 22, "2"), (4, 41, "1")],
                                  "k long, v long, part string"),
            path, ["k"],
        )                                                          # v3
        assert self._changes(spark, path, 3) == [
            ("delete", 2, 21, 3),   # the v2 value, NOT the v1 original
            ("delete", 4, 40, 3),
            ("insert", 2, 22, 3),
            ("insert", 4, 41, 3),
        ]
        # current state consistent with the changes
        got = {r.k: r.v for r in read_iceberg_table(spark, path).collect()}
        assert got[2] == 22 and got[4] == 41 and len(got) == 6

    def test_overwrite_after_upsert_excludes_eq_dead_rows(
        self, registered, tmp_path
    ):
        """File-removal events under live equality deletes (formerly
        the second gate): the delete images are the rows still ALIVE
        at the window start — eq-erased rows must not re-emit."""
        from etl_processing_scd1_spark.sources.iceberg import (
            upsert_iceberg_table,
        )

        spark = registered
        path = str(tmp_path / "eqc3")
        write_iceberg_table(_df(spark, 0, 5).coalesce(1), path)    # v1
        upsert_iceberg_table(
            spark.createDataFrame([(1, 11, "1")], "k long, v long, part string"),
            path, ["k"],
        )                                                          # v2
        write_iceberg_table(
            _df(spark, 100, 102).coalesce(1), path, mode="overwrite"
        )                                                          # v3
        ch = self._changes(spark, path, 3)
        dels = [(k, v) for t, k, v, _ in ch if t == "delete"]
        ins = [(k, v) for t, k, v, _ in ch if t == "insert"]
        # (1, 10) was eq-erased at v2 — only its upserted image dies
        assert sorted(dels) == [(0, 0), (1, 11), (2, 20), (3, 30), (4, 40)]
        assert sorted(ins) == [(100, 1000), (101, 1010)]


class TestIcebergRollback:
    def test_rollback_and_continue(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            iceberg_snapshots,
            rollback_iceberg_table,
        )

        path = str(tmp_path / "rb")
        write_iceberg_table(_df(spark, 0, 10), path)                  # v1
        write_iceberg_table(_df(spark, 10, 15), path, mode="append")  # v2
        write_iceberg_table(_df(spark, 100, 102), path, mode="overwrite")  # v3
        first = iceberg_snapshots(path)[0]["snapshot-id"]
        assert rollback_iceberg_table(path, first) == 4
        got = read_iceberg_table(spark, path)
        assert sorted(r.k for r in got.collect()) == list(range(10))
        # rolled-over snapshots stay time-travelable by version
        assert read_iceberg_table(spark, path, version=3).count() == 2
        # the next append parents off the restored snapshot
        write_iceberg_table(_df(spark, 50, 52), path, mode="append")
        assert read_iceberg_table(spark, path).count() == 12
        with pytest.raises(ValueError, match="not in table"):
            rollback_iceberg_table(path, 12345)


class TestIcebergVacuum:
    def test_orphans_deleted_referenced_kept(self, spark, tmp_path):
        """Orphan removal is metadata-reachability based: a planted
        never-referenced file goes (past retention), every file any
        snapshot of any metadata version references stays — time
        travel intact, delete files included."""
        import glob
        import shutil

        from etl_processing_scd1_spark.sources.iceberg import (
            delete_iceberg_rows,
            vacuum_iceberg_table,
        )

        path = str(tmp_path / "ivac")
        write_iceberg_table(_df(spark, 0, 10), path)
        write_iceberg_table(_df(spark, 10, 15), path, mode="overwrite")
        delete_iceberg_rows(spark, path, "k = 11")  # adds a delete file
        orphan = os.path.join(path, "data", "part-orphan.parquet")
        real = glob.glob(os.path.join(path, "data", "*.parquet"))[0]
        shutil.copy(real, orphan)
        staged = os.path.join(path, "_staged-deadbeef")
        os.makedirs(staged)
        shutil.copy(real, os.path.join(staged, "inflight.parquet"))
        # default retention protects the fresh orphan
        assert vacuum_iceberg_table(path) == []
        deleted = vacuum_iceberg_table(path, retention_hours=0.0)
        assert deleted == [os.path.join("data", "part-orphan.parquet")]
        assert os.path.exists(os.path.join(staged, "inflight.parquet"))
        # every snapshot still reads: overwrite's files, v1's files,
        # and the position-delete file all survived
        assert read_iceberg_table(spark, path).count() == 4
        assert read_iceberg_table(spark, path, version=1).count() == 10
        assert read_iceberg_table(spark, path, version=2).count() == 5


class TestPartitionTransforms:
    """Spec §Partition Transforms: bucket[N] (murmur3, Appendix-B
    vectors), truncate[W], year/month/day — writer computes the
    partition tuple with Spark expressions (bucket via a vectorized
    pandas_udf of the spec hash), manifests carry transform +
    source-id, equality predicates prune files by the TUPLE, and
    DML/appends inherit the spec."""

    def test_murmur3_spec_vectors(self):
        import struct

        from etl_processing_scd1_spark.sources.iceberg import (
            _bucket_int,
            _transform_scalar,
            murmur3_32,
        )

        # Appendix B reference values
        assert murmur3_32(struct.pack("<q", 34)) == 2017239379
        assert murmur3_32(b"iceberg") == 1210000089
        import datetime

        days = (datetime.date(2017, 11, 16) - datetime.date(1970, 1, 1)).days
        assert murmur3_32(struct.pack("<q", days)) == -653330422
        assert _bucket_int(34, 16, "long") == (2017239379 & 0x7FFFFFFF) % 16
        assert _bucket_int("iceberg", 16, "string") == \
            (1210000089 & 0x7FFFFFFF) % 16
        # truncate floors toward -inf (spec)
        assert _transform_scalar("truncate[4]", -7, "long") == -8
        assert _transform_scalar("truncate[3]", "iceberg", "string") == "ice"
        assert _transform_scalar("month", datetime.date(2017, 11, 16),
                                 "date") == (2017 - 1970) * 12 + 10
        assert _transform_scalar("year", datetime.date(2017, 11, 16),
                                 "date") == 47

    def test_write_read_prune_dml(self, spark, tmp_path):
        import datetime

        from etl_processing_scd1_spark.sources.iceberg import (
            _bucket_int,
            _load_metadata,
            _snapshot_files,
            delete_iceberg_rows,
            upsert_iceberg_table,
        )

        path = str(tmp_path / "pt1")
        df = spark.range(0, 120).select(
            F.col("id").alias("k"),
            F.concat(F.lit("n-"), F.col("id")).alias("name"),
            F.date_add(
                F.to_date(F.lit("2020-01-01")), (F.col("id") % 90).cast("int")
            ).alias("d"),
            (F.col("id") * 10).alias("v"),
        )
        write_iceberg_table(
            df, path,
            partition_by=["bucket(8, k)", "truncate(3, name)", "month(d)"],
        )
        meta = _load_metadata(path, None)
        spec = meta["partition-spec"]
        assert [(f["name"], f["transform"], f["source-id"]) for f in spec] == [
            ("k_bucket", "bucket[8]", 1),
            ("name_trunc", "truncate[3]", 2),
            ("d_month", "month", 3),
        ]
        # manifest tuples carry the spec-hash bucket of the source key
        _, files, _ = _snapshot_files(path, meta, None, None)
        for _p, part, _s in files:
            assert set(part) == {"k_bucket", "name_trunc", "d_month"}
            assert 0 <= part["k_bucket"] < 8
        got = read_iceberg_table(spark, path)
        assert got.columns == ["k", "name", "d", "v"]
        rows = {r.k: (r.name, r.d, r.v) for r in got.collect()}
        assert len(rows) == 120
        assert rows[7] == ("n-7", datetime.date(2020, 1, 8), 70)
        # bucket-tuple pruning: a key-equality predicate plans ~1/8 of
        # the files and still returns the row
        _, allf, _ = _snapshot_files(path, meta, None, None)
        _, pruned, _ = _snapshot_files(path, meta, None, {"k": (7, 7)})
        assert len(pruned) < len(allf)
        want_bucket = _bucket_int(7, 8, "long")
        assert all(p["k_bucket"] == want_bucket for _f, p, _s in pruned)
        assert read_iceberg_table(
            spark, path, predicates={"k": (7, 7)}
        ).filter("k = 7").count() == 1
        # append inherits the transform spec; DML works on the table
        write_iceberg_table(
            df.withColumn("k", F.col("k") + 1000), path, mode="append"
        )
        delete_iceberg_rows(spark, path, "k = 3")
        upsert_iceberg_table(
            spark.createDataFrame(
                [(5, "n-5", datetime.date(2020, 1, 6), 555)],
                "k long, name string, d date, v long",
            ),
            path, ["k"],
        )
        final = {r.k: r.v for r in read_iceberg_table(spark, path).collect()}
        assert len(final) == 239 and 3 not in final and final[5] == 555
        meta2 = _load_metadata(path, None)
        assert meta2["partition-spec"] == spec  # spec untouched by DML

    def test_datasource_reads_transformed_write_gated(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberglog_datasource import (
            IcebergLogDataSource,
        )

        spark.dataSource.register(IcebergLogDataSource)
        path = str(tmp_path / "pt2")
        write_iceberg_table(
            _df(spark, 0, 20), path, partition_by=["bucket(4, k)"]
        )
        ds = spark.read.format("iceberglog").load(path)
        assert sorted(r.k for r in ds.collect()) == list(range(20))
        # the DataSource write half groups by COLUMNS — transformed
        # tuples need write_iceberg_table
        with pytest.raises(Exception, match="transform-partitioned"):
            (
                _df(spark, 20, 25).write.format("iceberglog")
                .mode("append").save(path)
            )

    def test_bucket_exact_beyond_float53(self, spark, tmp_path):
        """Writer UDF and planner pruning must agree on the spec hash
        for snowflake-scale keys: a float64 round-trip of 2^53+1
        computes the WRONG bucket and a key-equality scan would prune
        the file holding the row."""
        from etl_processing_scd1_spark.sources.iceberg import (
            _bucket_int,
            _load_metadata,
            _snapshot_files,
        )

        big = 2 ** 53 + 1
        path = str(tmp_path / "pt53")
        df = spark.createDataFrame(
            [(big, 1), (2 ** 53, 2), (7, 3)], "k long, v long"
        )
        write_iceberg_table(df, path, partition_by=["bucket(16, k)"])
        meta = _load_metadata(path, None)
        _, files, _ = _snapshot_files(path, meta, None, None)
        tuples = {}
        import pyarrow.parquet as pq

        for p, part, _s in files:
            for kv in pq.read_table(p, columns=["k"]).column("k").to_pylist():
                tuples[kv] = part["k_bucket"]
        assert tuples[big] == _bucket_int(big, 16, "long")
        assert tuples[2 ** 53] == _bucket_int(2 ** 53, 16, "long")
        assert tuples[big] != tuples[2 ** 53] or \
            _bucket_int(big, 16, "long") == _bucket_int(2 ** 53, 16, "long")
        # the pruned read finds the row
        got = read_iceberg_table(
            spark, path, predicates={"k": (big, big)}
        ).filter(f"k = {big}")
        assert got.count() == 1

    def test_identity_date_partition_pruning(self, spark, tmp_path):
        """Identity-date tuples are stored as epoch-day ints; an
        equality predicate carrying a datetime.date must compare in
        that encoding (a raw compare pruned EVERY file)."""
        import datetime

        path = str(tmp_path / "ptd")
        df = spark.createDataFrame(
            [(1, datetime.date(2020, 1, 1)), (2, datetime.date(2020, 1, 2))],
            "k long, d date",
        )
        write_iceberg_table(df, path, partition_by=["d"])
        want = datetime.date(2020, 1, 2)
        got = read_iceberg_table(
            spark, path, predicates={"d": (want, want)}
        )
        assert [r.k for r in got.collect()] == [2]

    def test_drop_gate_covers_transform_sources(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            drop_iceberg_column,
        )

        path = str(tmp_path / "ptdrop")
        write_iceberg_table(
            _df(spark, 0, 6), path, partition_by=["bucket(4, k)"]
        )
        with pytest.raises(IcebergProtocolError, match="partition source"):
            drop_iceberg_column(path, "k")
        # non-source columns still droppable
        assert drop_iceberg_column(path, "v") == 2
        assert read_iceberg_table(spark, path).columns == ["k", "part"]

    def test_void_transform_in_foreign_spec_is_benign(self):
        from etl_processing_scd1_spark.sources.iceberg import (
            _spec_entries_from_meta,
            _transform_result_ice,
            _transform_scalar,
        )

        # spec evolution (REPLACE/DROP PARTITION FIELD) leaves void
        # fields behind — plan, never prune, never raise
        assert _transform_result_ice("void", "long") == "long"
        assert _transform_scalar("void", 5, "long") is NotImplemented
        meta = {
            "schema": {"fields": [{"id": 1, "name": "k", "type": "long"}]},
            "partition-specs": [{"fields": [
                {"name": "k_bucket", "transform": "void",
                 "source-id": 1, "field-id": 1000},
            ]}],
        }
        entries = _spec_entries_from_meta(meta)
        assert entries[0]["transform"] == "void"

    def test_bad_specs_raise(self, spark, tmp_path):
        path = str(tmp_path / "pt3")
        with pytest.raises(IcebergProtocolError, match="cannot parse"):
            write_iceberg_table(
                _df(spark, 0, 5), path, partition_by=["bucket(4 k)"]
            )
        with pytest.raises(IcebergProtocolError, match="not supported"):
            write_iceberg_table(
                _df(spark, 0, 5), path, partition_by=["year(k)"]
            )
        with pytest.raises(ValueError, match="not in DataFrame"):
            write_iceberg_table(
                _df(spark, 0, 5), path, partition_by=["bucket(4, nope)"]
            )


class TestDropColumnEvolution:
    """DROP COLUMN (spec §Schema Evolution) on real field-id plumbing:
    survivors keep their ids across the drop (the old positional
    writer renumbered them), the dropped id is retired forever, and
    name reuse is refused while id-less files may exist."""

    def test_drop_read_timetravel_and_append(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            _load_metadata,
            drop_iceberg_column,
        )
        from etl_processing_scd1_spark.sources.iceberglog_datasource import (
            IcebergLogDataSource,
        )

        spark.dataSource.register(IcebergLogDataSource)
        path = str(tmp_path / "dc1")
        write_iceberg_table(_df(spark, 0, 10), path)            # v1: k,v,part
        v = drop_iceberg_column(path, "v")                      # v2
        assert v == 2
        got = read_iceberg_table(spark, path)
        assert got.columns == ["k", "part"]
        assert sorted(r.k for r in got.collect()) == list(range(10))
        # time travel BEFORE the drop still shows the column
        assert read_iceberg_table(spark, path, version=1).columns == \
            ["k", "v", "part"]
        # survivors keep their ORIGINAL ids; the dropped id is retired
        meta = _load_metadata(path, None)
        ids = {f["name"]: f["id"] for f in meta["schema"]["fields"]}
        assert ids == {"k": 1, "part": 3}
        assert meta["last-column-id"] == 3
        # append after the drop: two-generation scan, ids stable
        write_iceberg_table(
            spark.range(10, 13).select(
                F.col("id").alias("k"),
                (F.col("id") % 3).cast("string").alias("part"),
            ),
            path, mode="append",
        )
        got = read_iceberg_table(spark, path)
        assert sorted(r.k for r in got.collect()) == list(range(13))
        meta = _load_metadata(path, None)
        assert {f["name"]: f["id"] for f in meta["schema"]["fields"]} == \
            {"k": 1, "part": 3}
        assert meta["last-column-id"] == 3
        # the DataSource reads the dropped-column table too
        ds = spark.read.format("iceberglog").load(path)
        assert ds.columns == ["k", "part"] and ds.count() == 13
        # re-adding the dropped NAME is refused (old files would
        # resurrect by name matching); a FRESH name gets a FRESH id
        with pytest.raises(IcebergProtocolError, match="previously dropped"):
            write_iceberg_table(
                spark.range(13, 14).select(
                    F.col("id").alias("k"), F.col("id").alias("v"),
                    (F.col("id") % 3).cast("string").alias("part"),
                ),
                path, mode="append",
            )
        write_iceberg_table(
            spark.range(13, 14).select(
                F.col("id").alias("k"),
                (F.col("id") % 3).cast("string").alias("part"),
                (F.col("id") * 2).alias("w"),
            ),
            path, mode="append",
        )
        meta = _load_metadata(path, None)
        ids = {f["name"]: f["id"] for f in meta["schema"]["fields"]}
        assert ids == {"k": 1, "part": 3, "w": 4}
        assert meta["last-column-id"] == 4
        got = read_iceberg_table(spark, path)
        rows = {r.k: r.w for r in got.collect()}
        assert len(rows) == 14 and rows[13] == 26 and rows[0] is None

    def test_drop_interacts_with_rename_and_dml(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            delete_iceberg_rows,
            drop_iceberg_column,
            rename_iceberg_column,
        )

        path = str(tmp_path / "dc2")
        write_iceberg_table(_df(spark, 0, 10), path)
        rename_iceberg_column(path, "v", "val")
        drop_iceberg_column(path, "val")
        got = read_iceberg_table(spark, path)
        assert got.columns == ["k", "part"]
        # merge-on-read DELETE still works on the surviving columns
        delete_iceberg_rows(spark, path, "k < 3")
        assert sorted(r.k for r in read_iceberg_table(spark, path).collect()) \
            == list(range(3, 10))
        # neither the old nor the renamed name may return
        for bad in ("v", "val"):
            with pytest.raises(
                IcebergProtocolError, match="previously dropped"
            ):
                write_iceberg_table(
                    spark.range(0, 1).select(
                        F.col("id").alias("k"),
                        (F.col("id") % 3).cast("string").alias("part"),
                        F.col("id").alias(bad),
                    ),
                    path, mode="append",
                )

    def test_drop_gates(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            drop_iceberg_column,
            upsert_iceberg_table,
        )

        path = str(tmp_path / "dc3")
        write_iceberg_table(_df(spark, 0, 6), path, partition_by=["part"])
        with pytest.raises(IcebergProtocolError, match="partition source"):
            drop_iceberg_column(path, "part")
        with pytest.raises(ValueError, match="not in table schema"):
            drop_iceberg_column(path, "nope")
        # live equality-delete key blocks the drop
        p2 = str(tmp_path / "dc4")
        write_iceberg_table(_df(spark, 0, 6), p2)
        upsert_iceberg_table(
            spark.createDataFrame([(1, 11, "1")], "k long, v long, part string"),
            p2, ["k"],
        )
        with pytest.raises(IcebergProtocolError, match="equality-delete"):
            drop_iceberg_column(p2, "k")

    def test_new_files_carry_footer_field_ids(self, spark, tmp_path):
        """Data files stamped with real field ids: resolution becomes
        id-first (rename/name-reuse immune), matching foreign
        id-stamping engines."""
        import pyarrow.parquet as pq

        from etl_processing_scd1_spark.sources.iceberg import (
            _load_metadata,
            rename_iceberg_column,
        )

        path = str(tmp_path / "dc5")
        write_iceberg_table(_df(spark, 0, 4), path)
        rename_iceberg_column(path, "v", "val")
        write_iceberg_table(
            spark.range(4, 6).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("val"),
                (F.col("id") % 3).cast("string").alias("part"),
            ),
            path, mode="append",
        )
        meta = _load_metadata(path, None)
        data_dir = os.path.join(path, "data")
        stamped = 0
        for root, _d, fns in os.walk(data_dir):
            for fn in fns:
                if not fn.endswith(".parquet") or "delete" in fn:
                    continue
                sch = pq.read_schema(os.path.join(root, fn))
                ids = {
                    f.name: int(f.metadata[b"PARQUET:field_id"])
                    for f in sch
                    if f.metadata and b"PARQUET:field_id" in f.metadata
                }
                if ids:
                    stamped += 1
                    # the renamed column keeps id 2 under either name
                    assert ids.get("v", ids.get("val")) == 2
                    assert ids["k"] == 1
        assert stamped >= 2  # both generations stamped
        assert {f["name"]: f["id"] for f in meta["schema"]["fields"]} == \
            {"k": 1, "val": 2, "part": 3}
        got = read_iceberg_table(spark, path)
        assert {r.k: r.val for r in got.collect()} == {
            k: k * 10 for k in range(6)
        }


class TestIcebergUpdate:
    """update_iceberg_rows: ONE v2 snapshot = position-delete file
    for the matched rows + new data files with the SET expressions
    applied — the merge-on-read UPDATE, cost O(matched)."""

    def test_update_rows_one_snapshot(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            delete_iceberg_rows,
            update_iceberg_rows,
        )
        from etl_processing_scd1_spark.sources.iceberglog_datasource import (
            IcebergLogDataSource,
        )

        spark.dataSource.register(IcebergLogDataSource)
        path = str(tmp_path / "upd1")
        write_iceberg_table(_df(spark, 0, 20).repartition(2), path)
        assert update_iceberg_rows(
            spark, path, "k < 5", {"v": "v + 1000"}
        ) == 2
        got = read_iceberg_table(spark, path)
        assert got.count() == 20
        rows = {r.k: r.v for r in got.collect()}
        assert rows[0] == 1000 and rows[4] == 1040 and rows[5] == 50
        # the pre-update snapshot is intact (ONE snapshot per update)
        assert {r.k: r.v for r in
                read_iceberg_table(spark, path, version=1).collect()}[0] == 0
        # no match -> no commit
        assert update_iceberg_rows(spark, path, "k = -1", {"v": "0"}) == 2
        # stacks with deletes; the DataSource agrees
        delete_iceberg_rows(spark, path, "k = 7")
        update_iceberg_rows(spark, path, "k = 8", {"v": "0"})
        got = {r.k: r.v
               for r in spark.read.format("iceberglog").load(path).collect()}
        assert len(got) == 19 and 7 not in got and got[8] == 0
        assert got[0] == 1000
        with pytest.raises(ValueError, match="SET columns"):
            update_iceberg_rows(spark, path, "k = 0", {"nope": "1"})


class TestRenameEvolution:
    """Rename-column schema evolution (spec §Schema Evolution: the
    name changes, the field id does not; spec §Column Projection:
    files resolve by parquet field id, else by the
    ``schema.name-mapping.default`` history this writer records).
    Rename is metadata-only — no snapshot, no data file touched."""

    def test_rename_old_and_new_files_resolve(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            delete_iceberg_rows,
            rename_iceberg_column,
        )
        from etl_processing_scd1_spark.sources.iceberglog_datasource import (
            IcebergLogDataSource,
        )

        spark.dataSource.register(IcebergLogDataSource)
        path = str(tmp_path / "rn1")
        write_iceberg_table(_df(spark, 0, 10), path)          # files: v
        v = rename_iceberg_column(path, "v", "val")           # metadata-only
        assert v == 2
        got = read_iceberg_table(spark, path)
        assert got.columns == ["k", "val", "part"]
        assert {r.k: r.val for r in got.collect()} == {
            k: k * 10 for k in range(10)
        }
        # time travel to the pre-rename metadata keeps the old name
        assert read_iceberg_table(spark, path, version=1).columns == \
            ["k", "v", "part"]
        # append AFTER the rename: new files carry the new name; both
        # generations read in one scan
        write_iceberg_table(
            spark.range(10, 15).select(
                F.col("id").alias("k"),
                (F.col("id") * 10).alias("val"),
                (F.col("id") % 3).cast("string").alias("part"),
            ),
            path, mode="append",
        )
        got = read_iceberg_table(spark, path)
        assert {r.k: r.val for r in got.collect()} == {
            k: k * 10 for k in range(15)
        }
        # the DataSource resolves through the name mapping too
        ds = spark.read.format("iceberglog").load(path)
        assert ds.columns == ["k", "val", "part"]
        assert {r.k: r.val for r in ds.collect()} == {
            k: k * 10 for k in range(15)
        }
        # merge-on-read DELETE with a condition on the NEW name must
        # reach pre-rename files
        delete_iceberg_rows(spark, path, "val < 30")
        assert read_iceberg_table(spark, path).count() == 12
        # double rename accumulates the history
        rename_iceberg_column(path, "val", "value")
        got = read_iceberg_table(spark, path)
        assert got.columns == ["k", "value", "part"]
        assert got.count() == 12

    def test_rename_live_equality_delete_key_reads_and_upserts(
        self, spark, tmp_path
    ):
        """Renaming a LIVE equality-delete key column works (the r10
        VERDICT's 'real fix'): readers resolve the delete file's key
        columns through footer field ids / name-mapping exactly like
        data files, so the rename is metadata-only and nothing
        orphans. Sequence: upsert → rename the key → read → SECOND
        upsert under the new name → read."""
        from etl_processing_scd1_spark.sources.iceberg import (
            rename_iceberg_column,
            upsert_iceberg_table,
        )

        path = str(tmp_path / "rneq")
        write_iceberg_table(_df(spark, 0, 10), path)
        src = spark.createDataFrame(
            [(3, 31, "0"), (10, 100, "1")], "k long, v long, part string"
        )
        upsert_iceberg_table(src, path, ["k"])   # live eq-delete on k
        rename_iceberg_column(path, "k", "key")
        got = read_iceberg_table(spark, path)
        assert "key" in got.columns
        vals = {r.key: r.v for r in got.collect()}
        assert vals[3] == 31 and vals[10] == 100 and len(vals) == 11
        # second upsert under the NEW key name: its eq-delete applies
        # over data files written under the OLD name and vice versa
        src2 = spark.createDataFrame(
            [(3, 32, "0"), (11, 110, "2")], "key long, v long, part string"
        )
        upsert_iceberg_table(src2, path, ["key"])
        vals = {r.key: r.v for r in read_iceberg_table(spark, path).collect()}
        assert vals[3] == 32 and vals[11] == 110 and len(vals) == 12
        # changelog over the whole history still replays cleanly —
        # both upserts' erased images resolve through the rename
        from etl_processing_scd1_spark.sources.iceberglog_datasource import (
            IcebergLogDataSource,
        )

        spark.dataSource.register(IcebergLogDataSource)
        ch = (
            spark.read.format("iceberglog")
            .option("readChangeFeed", "true")
            .option("startingVersion", 2)
            .load(path)
        )
        assert ch.filter("_change_type = 'delete'").count() >= 2

    def test_rename_refuses_unresolvable_legacy_delete_file(
        self, spark, tmp_path
    ):
        """The narrow residual gate: a delete file with NO footer
        field ids whose physical key column matches no historical
        name (a truly foreign legacy file) still blocks the rename
        with a descriptive error instead of bricking reads later."""
        import pyarrow.parquet as pq

        from etl_processing_scd1_spark.sources.iceberg import (
            rename_iceberg_column,
            upsert_iceberg_table,
        )

        path = str(tmp_path / "rneq2")
        write_iceberg_table(_df(spark, 0, 6), path)
        upsert_iceberg_table(
            spark.createDataFrame([(1, 11, "1")],
                                  "k long, v long, part string"),
            path, ["k"],
        )
        # mangle the live delete file: strip field ids AND rename its
        # physical column to something no mapping has ever carried
        dels = [
            os.path.join(r, fn)
            for r, _d, fns in os.walk(os.path.join(path, "data"))
            for fn in fns if fn.startswith("eq-delete-")
        ]
        assert dels
        import pyarrow as pa

        t = pq.read_table(dels[0])
        # fresh field: no PARQUET:field_id metadata survives
        pq.write_table(pa.table({"alien_name": t.column(0)}), dels[0])
        with pytest.raises(IcebergProtocolError, match="compact"):
            rename_iceberg_column(path, "k", "key")

    def test_foreign_file_resolves_by_parquet_field_id(
        self, spark, tmp_path
    ):
        """A file written by an id-stamping engine under a name that
        appears in NO mapping still resolves: parquet field_id wins
        over every name heuristic."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from etl_processing_scd1_spark.sources.iceberg import (
            rename_iceberg_column,
        )
        from etl_processing_scd1_spark.sources.iceberglog_datasource import (
            IcebergLogDataSource,
        )

        spark.dataSource.register(IcebergLogDataSource)
        path = str(tmp_path / "rn2")
        write_iceberg_table(_df(spark, 0, 6).coalesce(1), path)
        rename_iceberg_column(path, "v", "val")
        # rewrite the data file as a foreign engine would: arbitrary
        # historical column names + parquet field ids (schema order
        # k=1, v=2, part=3 per this writer's positional ids)
        data_dir = os.path.join(path, "data")
        f = next(
            os.path.join(r, fn)
            for r, _d, fns in os.walk(data_dir)
            for fn in fns if fn.endswith(".parquet")
        )
        t = pq.read_table(f)
        fields = [
            pa.field("c_1", t.schema.field("k").type,
                     metadata={b"PARQUET:field_id": b"1"}),
            pa.field("c_2", t.schema.field("v").type,
                     metadata={b"PARQUET:field_id": b"2"}),
            pa.field("c_3", t.schema.field("part").type,
                     metadata={b"PARQUET:field_id": b"3"}),
        ]
        pq.write_table(
            pa.table(t.columns, schema=pa.schema(fields)), f
        )
        ds = spark.read.format("iceberglog").load(path)
        assert {r.k: r.val for r in ds.collect()} == {
            k: k * 10 for k in range(6)
        }

    def test_rename_guards(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            rename_iceberg_column,
        )

        path = str(tmp_path / "rn3")
        write_iceberg_table(_df(spark, 0, 3), path, partition_by=["part"])
        with pytest.raises(ValueError, match="not in table schema"):
            rename_iceberg_column(path, "nope", "x")
        with pytest.raises(ValueError, match="already exists"):
            rename_iceberg_column(path, "v", "k")
        with pytest.raises(IcebergProtocolError, match="partition"):
            rename_iceberg_column(path, "part", "bucket")


class TestIcebergLogStreamWriter:
    """df.writeStream.format('iceberglog'): checkpointed resume plus
    the snapshot-summary watermark replay guard."""

    @pytest.fixture()
    def registered(self, spark):
        from etl_processing_scd1_spark.sources.iceberglog_datasource import (
            IcebergLogDataSource,
        )

        spark.dataSource.register(IcebergLogDataSource)
        return spark

    def test_stream_write_resume(self, registered, tmp_path):
        spark = registered
        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        ck = str(tmp_path / "ck")
        write_iceberg_table(_df(spark, 0, 10), src)

        def drain():
            q = (
                spark.readStream.format("iceberglog").load(src)
                .writeStream.format("iceberglog").option("path", dst)
                .trigger(availableNow=True)
                .option("checkpointLocation", ck)
                .start()
            )
            q.awaitTermination(240)

        drain()
        assert read_iceberg_table(spark, dst).count() == 10
        write_iceberg_table(_df(spark, 10, 15), src, mode="append")
        drain()
        assert sorted(
            r.k for r in read_iceberg_table(spark, dst).collect()
        ) == list(range(15))
        drain()
        assert read_iceberg_table(spark, dst).count() == 15

    def test_replayed_batch_is_dropped(self, registered, tmp_path):
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema

        from pyspark.sql.datasource import CaseInsensitiveDict

        from etl_processing_scd1_spark.sources.iceberglog_datasource import (
            IcebergLogDataSource,
        )

        spark = registered
        path = str(tmp_path / "replay")
        schema = _df(spark, 0, 0).schema
        w = IcebergLogDataSource(
            CaseInsensitiveDict({"path": path, "appId": "app-1"})
        ).streamWriter(schema, False)
        tbl = pa.table(
            {"k": [1, 2], "v": [10, 20], "part": ["1", "2"]},
            schema=to_arrow_schema(schema),
        )
        m1 = w.write(iter(tbl.to_batches()))
        w.commit([m1], 0)
        assert read_iceberg_table(spark, path).count() == 2
        m2 = w.write(iter(tbl.to_batches()))
        w.commit([m2], 0)
        assert read_iceberg_table(spark, path).count() == 2
        assert [p for p, *_ in m2.files if os.path.exists(p)] == []
        m3 = w.write(iter(tbl.to_batches()))
        w.commit([m3], 1)
        assert read_iceberg_table(spark, path).count() == 4


class TestTemporalTimestampTransforms:
    """Spec §Partition Transforms over TIMESTAMP sources (ungated in
    r11): year/month/day/hour derive from the epoch value with
    UTC-exact INTEGER arithmetic — never Spark's session-TZ
    year()/month() over TimestampType — so the manifest tuple agrees
    with a spec-conformant engine on ANY session timezone. NTZ
    ('timestamp') transforms apply to the stored local value."""

    ROWS = [
        (1, "2024-03-15T07:45:00+00:00"),
        (2, "2024-03-15T08:05:00+00:00"),
        (3, "1969-12-31T23:30:00+00:00"),   # pre-epoch: floor, not trunc
        (4, "2023-12-31T23:59:59+00:00"),
    ]

    @staticmethod
    def _df(spark):
        import datetime

        return spark.createDataFrame(
            [(k, datetime.datetime.fromisoformat(t))
             for k, t in TestTemporalTimestampTransforms.ROWS],
            "k int, ts timestamp",
        )

    @staticmethod
    def _tuples(path):
        from etl_processing_scd1_spark.sources.iceberg import (
            _load_metadata,
            _snapshot_files,
        )

        _, dfs, _ = _snapshot_files(path, _load_metadata(path), None)
        return sorted(tuple(sorted(d[1].items())) for d in dfs)

    def test_scalar_transforms_timestamp(self):
        import datetime

        from etl_processing_scd1_spark.sources.iceberg import (
            _bucket_int,
            _transform_scalar,
            murmur3_32,
        )

        utc = datetime.timezone.utc
        ts = datetime.datetime(2017, 11, 16, 22, 31, 8, tzinfo=utc)
        # 2017-11-16 is epoch day 17486 → hour 17486*24 + 22 = 419686
        assert _transform_scalar("hour", ts, "timestamptz") == 419686
        assert _transform_scalar("month", ts, "timestamptz") == \
            (2017 - 1970) * 12 + 10
        assert _transform_scalar("year", ts, "timestamptz") == 47
        assert _transform_scalar("day", ts, "timestamptz") == \
            (datetime.date(2017, 11, 16) - datetime.date(1970, 1, 1)).days
        # pre-epoch floors toward -inf
        pre = datetime.datetime(1969, 12, 31, 23, 30, tzinfo=utc)
        assert _transform_scalar("hour", pre, "timestamptz") == -1
        assert _transform_scalar("month", pre, "timestamptz") == -1
        # a NAIVE value is session-local/ambiguous for timestamptz →
        # no prune; for NTZ the naive local value IS the value.
        naive = ts.replace(tzinfo=None)
        assert _transform_scalar("hour", naive, "timestamptz") \
            is NotImplemented
        assert _transform_scalar("hour", naive, "timestamp") == 419686
        assert _transform_scalar("hour", ts, "timestamp") is NotImplemented
        # timestamptz buckets hash the spec's micros-from-epoch long
        micros = int(ts.timestamp()) * 1_000_000
        assert _bucket_int(ts, 16, "timestamptz") == \
            (murmur3_32(micros.to_bytes(8, "little", signed=True))
             & 0x7FFFFFFF) % 16

    def test_write_tuples_prune_utc_exact(self, spark, tmp_path):
        import datetime
        import math

        from etl_processing_scd1_spark.sources.iceberg import (
            _load_metadata,
            _snapshot_files,
            write_iceberg_table,
        )

        path = str(tmp_path / "ts_hour")
        df = self._df(spark)
        write_iceberg_table(df, path, partition_by=["hour(ts)", "month(ts)"])
        want = sorted(
            (
                ("ts_hour",
                 math.floor(datetime.datetime.fromisoformat(t).timestamp()
                            / 3600)),
                ("ts_month",
                 (datetime.datetime.fromisoformat(t).year - 1970) * 12
                 + datetime.datetime.fromisoformat(t).month - 1),
            )
            for _, t in self.ROWS
        )
        assert self._tuples(path) == want
        # equality pruning on the timestamp plans 1 of 4 files
        meta = _load_metadata(path)
        v = datetime.datetime.fromisoformat(self.ROWS[0][1])
        _, planned, _ = _snapshot_files(path, meta, None,
                                        predicates={"ts": (v, v)})
        assert len(planned) == 1

    def test_bucket_timestamptz_spec_hash(self, spark, tmp_path):
        import datetime

        from etl_processing_scd1_spark.sources.iceberg import (
            _bucket_int,
            write_iceberg_table,
        )

        path = str(tmp_path / "ts_bucket")
        write_iceberg_table(self._df(spark), path,
                            partition_by=["bucket(4, ts)"])
        # one file per DISTINCT tuple (the write clusters on it)
        want = sorted({
            (("ts_bucket",
              _bucket_int(datetime.datetime.fromisoformat(t), 4,
                          "timestamptz")),)
            for _, t in self.ROWS
        })
        assert self._tuples(path) == want

    def test_gates(self, spark):
        from etl_processing_scd1_spark.sources.iceberg import (
            IcebergProtocolError,
            _transform_column,
            _transform_result_ice,
        )

        with pytest.raises(IcebergProtocolError, match="hour"):
            _transform_result_ice("hour", "date")
        with pytest.raises(IcebergProtocolError, match="bucket"):
            _transform_column("bucket[4]", "ts", "timestamp")
        with pytest.raises(IcebergProtocolError, match="bucket"):
            _transform_column("bucket[4]", "x", "double")

    def test_ntz_local_value_semantics(self, spark, tmp_path):
        """NTZ transforms use the stored LOCAL datetime fields."""
        import datetime

        from pyspark.sql import types as T

        from etl_processing_scd1_spark.sources.iceberg import (
            write_iceberg_table,
        )

        if not hasattr(T, "TimestampNTZType"):
            pytest.skip("no NTZ type")
        path = str(tmp_path / "ntz")
        df = spark.createDataFrame(
            [(1, datetime.datetime(2024, 3, 15, 7, 45)),
             (2, datetime.datetime(1969, 12, 31, 23, 30))],
            T.StructType([
                T.StructField("k", T.IntegerType()),
                T.StructField("ts", T.TimestampNTZType()),
            ]),
        )
        write_iceberg_table(df, path, partition_by=["hour(ts)"])
        eday = (datetime.date(2024, 3, 15) - datetime.date(1970, 1, 1)).days
        assert self._tuples(path) == sorted(
            [(("ts_hour", eday * 24 + 7),), (("ts_hour", -1),)]
        )

    def test_non_utc_session_subprocess(self, tmp_path):
        """The r10 gate's reason was session-TZ divergence: a BARE
        session with a deliberately non-UTC timezone conf must write
        the SAME spec tuples the UTC math predicts."""
        import subprocess
        import sys
        import textwrap

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        script = textwrap.dedent(f"""
            import datetime, sys
            from pyspark.sql import SparkSession
            spark = (SparkSession.builder.master("local[2]")
                     .appName("tz-gate")
                     .config("spark.sql.session.timeZone", "Asia/Kolkata")
                     .getOrCreate())
            from etl_processing_scd1_spark.sources.iceberg import (
                write_iceberg_table, read_iceberg_table,
                _load_metadata, _snapshot_files)
            utc = datetime.timezone.utc
            rows = [(1, datetime.datetime(2024, 3, 15, 7, 45, tzinfo=utc)),
                    (2, datetime.datetime(1969, 12, 31, 23, 30, tzinfo=utc))]
            df = spark.createDataFrame(rows, "k int, ts timestamp")
            path = {str(tmp_path / 'tz')!r}
            write_iceberg_table(df, path,
                                partition_by=["hour(ts)", "month(ts)"])
            _, dfs, _ = _snapshot_files(path, _load_metadata(path), None)
            got = sorted(tuple(sorted(d[1].items())) for d in dfs)
            want = sorted([(("ts_hour", 475135), ("ts_month", 650)),
                           (("ts_hour", -1), ("ts_month", -1))])
            assert got == want, got
            assert read_iceberg_table(spark, path).count() == 2
            spark.stop()
            print("TZ-GATE-OK")
        """)
        proc = subprocess.run(
            [sys.executable, "-c", script], cwd=repo,
            capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert "TZ-GATE-OK" in proc.stdout


class TestTimestampAsOf:
    def test_snapshot_log_resolution(self, spark, tmp_path):
        """FOR TIMESTAMP AS OF reads resolve through the snapshot
        LOG (rollbacks re-log the restored snapshot, so the log is
        the current-at-time record, not the snapshots list)."""
        import json as _json

        from etl_processing_scd1_spark.sources.iceberg import (
            _list_meta_versions,
            _load_metadata,
            _meta_file,
            _put_metadata,
            iceberg_snapshot_at_timestamp,
        )

        path = str(tmp_path / "tsof")
        write_iceberg_table(_df(spark, 0, 5), path)
        write_iceberg_table(_df(spark, 5, 8), path, mode="append")
        write_iceberg_table(_df(spark, 8, 10), path, mode="append")
        # pin deterministic, distinct log timestamps
        base = _list_meta_versions(path)[-1]
        meta = _load_metadata(path, base)
        for i, e in enumerate(meta["snapshot-log"]):
            e["timestamp-ms"] = 1000 * (i + 1)
        _put_metadata(path, base + 1, meta)
        sids = [e["snapshot-id"] for e in meta["snapshot-log"]]
        assert iceberg_snapshot_at_timestamp(path, 1000) == sids[0]
        assert iceberg_snapshot_at_timestamp(path, 2999) == sids[1]
        assert iceberg_snapshot_at_timestamp(path, 10**9) == sids[2]
        with pytest.raises(ValueError, match="before"):
            iceberg_snapshot_at_timestamp(path, 999)
        got = read_iceberg_table(spark, path, timestamp_ms=2500)
        assert got.count() == 8
        with pytest.raises(ValueError, match="exclusive"):
            read_iceberg_table(spark, path, version=1, timestamp_ms=1)


class TestZOrderCompaction:
    def test_zorder_tightens_manifest_bounds_pruning(
        self, spark, tmp_path
    ):
        from etl_processing_scd1_spark.sources.iceberg import (
            compact_iceberg_table,
            iceberg_plan_files,
        )

        path = str(tmp_path / "zord")
        df = spark.range(0, 4096).selectExpr(
            "id AS x", "4095 - id AS y", "CAST(id % 7 AS STRING) AS s"
        )
        write_iceberg_table(df.repartition(8), path)
        compact_iceberg_table(spark, path, 8, zorder_by=["x", "y"])
        total = len(iceberg_plan_files(path))
        assert total >= 4
        for col in ("x", "y"):
            pruned = len(
                iceberg_plan_files(path, predicates={col: (100, 130)})
            )
            assert pruned < total, f"no pruning on {col}"
        got = read_iceberg_table(spark, path)
        assert got.count() == 4096
        assert got.selectExpr("sum(x)", "sum(y)").collect() == \
            df.selectExpr("sum(x)", "sum(y)").collect()


class TestPartitionSpecEvolution:
    """Spec §Partition Evolution: evolving the spec is metadata-only;
    old files stay under their original spec (manifests carry its
    spec-id, readers resolve per manifest), future writes use the new
    default, and pruning applies each file's OWN spec's transforms."""

    def test_evolve_append_read_prune_dml(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            _load_metadata,
            delete_iceberg_rows,
            evolve_iceberg_partition_spec,
            iceberg_plan_files,
        )

        path = str(tmp_path / "pevo")
        write_iceberg_table(_df(spark, 0, 60), path, partition_by=["part"])
        v = evolve_iceberg_partition_spec(path, ["bucket(4, k)"])
        meta = _load_metadata(path)
        assert meta["default-spec-id"] == 1
        assert [s["spec-id"] for s in meta["partition-specs"]] == [0, 1]
        # metadata-only: same snapshot, rows unchanged
        assert read_iceberg_table(spark, path).count() == 60
        # future writes use the new layout
        write_iceberg_table(_df(spark, 60, 120), path, mode="append")
        got = read_iceberg_table(spark, path)
        assert sorted(r.k for r in got.collect()) == list(range(120))
        total = len(iceberg_plan_files(path))
        # equality on k prunes bucket-spec files only (old-spec files
        # can't be tuple-pruned on k — superset guarantee holds)
        by_k = len(iceberg_plan_files(path, predicates={"k": (70, 70)}))
        assert by_k < total
        # equality on part prunes the identity-spec generation
        by_part = len(
            iceberg_plan_files(path, predicates={"part": ("1", "1")})
        )
        assert by_part < total
        # merge-on-read DML spans both generations
        delete_iceberg_rows(spark, path, "k % 10 = 0")
        assert read_iceberg_table(spark, path).count() == 108
        # evolve to UNPARTITIONED and append
        evolve_iceberg_partition_spec(path, [])
        write_iceberg_table(_df(spark, 120, 130), path, mode="append")
        assert read_iceberg_table(spark, path).count() == 118
        assert v == 2

    def test_field_id_reuse_and_guards(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            _load_metadata,
            evolve_iceberg_partition_spec,
        )

        path = str(tmp_path / "pevo2")
        write_iceberg_table(_df(spark, 0, 6), path, partition_by=["part"])
        orig_fid = _load_metadata(path)["partition-specs"][0]["fields"][0][
            "field-id"
        ]
        evolve_iceberg_partition_spec(path, ["bucket(8, k)"])
        evolve_iceberg_partition_spec(path, ["part"])
        specs = _load_metadata(path)["partition-specs"]
        # identical (source, transform) reuses the ORIGINAL field id
        assert specs[2]["fields"][0]["field-id"] == orig_fid
        # distinct transforms got a fresh id
        assert specs[1]["fields"][0]["field-id"] != orig_fid
        with pytest.raises(ValueError, match="not in table schema"):
            evolve_iceberg_partition_spec(path, ["nope"])
        with pytest.raises(IcebergProtocolError, match="hour"):
            evolve_iceberg_partition_spec(path, ["hour(part)"])


class TestSnapshotRefs:
    def test_tag_read_expiry_protection(self, spark, tmp_path):
        """Spec §Snapshot References: tags pin snapshots — readable
        by name, immune to expire_snapshots(keep_last)."""
        from etl_processing_scd1_spark.sources.iceberg import (
            _load_metadata,
            drop_iceberg_ref,
            expire_snapshots,
            iceberg_ref_snapshot,
            set_iceberg_ref,
        )

        path = str(tmp_path / "refs")
        write_iceberg_table(_df(spark, 0, 5), path)          # snap 1
        set_iceberg_ref(path, "audit-v1")                    # tag snap 1
        write_iceberg_table(_df(spark, 5, 8), path, mode="append")
        write_iceberg_table(_df(spark, 8, 12), path, mode="append")
        assert read_iceberg_table(spark, path, ref="audit-v1").count() == 5
        assert read_iceberg_table(spark, path, ref="main").count() == 12
        # expiry keeps the tagged snapshot alive
        expire_snapshots(path, keep_last=1)
        meta = _load_metadata(path)
        assert len(meta["snapshots"]) == 2  # newest + tagged
        assert read_iceberg_table(spark, path, ref="audit-v1").count() == 5
        assert read_iceberg_table(spark, path).count() == 12
        # drop the ref; the next expiry reclaims it
        drop_iceberg_ref(path, "audit-v1")
        expire_snapshots(path, keep_last=1)
        assert len(_load_metadata(path)["snapshots"]) == 1
        with pytest.raises(ValueError, match="not in table"):
            iceberg_ref_snapshot(path, "audit-v1")

    def test_ref_guards(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            set_iceberg_ref,
        )

        path = str(tmp_path / "refs2")
        write_iceberg_table(_df(spark, 0, 3), path)
        with pytest.raises(ValueError, match="main"):
            set_iceberg_ref(path, "main")
        with pytest.raises(ValueError, match="snapshot"):
            set_iceberg_ref(path, "t", snapshot_id=42)
        with pytest.raises(ValueError, match="tag"):
            set_iceberg_ref(path, "t", ref_type="nope")
        with pytest.raises(ValueError, match="exclusive"):
            read_iceberg_table(spark, path, version=1, ref="main")


class TestMetadataTables:
    def test_inspection_surface(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            delete_iceberg_rows,
            iceberg_metadata_table,
            set_iceberg_ref,
        )

        path = str(tmp_path / "meta")
        write_iceberg_table(_df(spark, 0, 20), path, partition_by=["part"])
        write_iceberg_table(_df(spark, 20, 30), path, mode="append")
        set_iceberg_ref(path, "t1")
        delete_iceberg_rows(spark, path, "k < 2")
        hist = iceberg_metadata_table(spark, path, "history")
        assert hist.count() == 3
        snaps = iceberg_metadata_table(spark, path, "snapshots")
        ops = [r.operation for r in snaps.orderBy("committed_at_ms").collect()]
        assert ops[0] == "append" and ops[-1] in ("delete", "overwrite")
        refs = iceberg_metadata_table(spark, path, "refs")
        assert {r.name for r in refs.collect()} == {"main", "t1"}
        files = iceberg_metadata_table(spark, path, "files")
        assert files.count() >= 3
        assert files.selectExpr("sum(record_count)").collect()[0][0] == 30
        parts = iceberg_metadata_table(spark, path, "partitions")
        assert parts.count() == 3  # part in {0,1,2}
        mans = iceberg_metadata_table(spark, path, "manifests")
        assert mans.filter("content = 1").count() >= 1  # delete manifest
        with pytest.raises(ValueError, match="unknown metadata"):
            iceberg_metadata_table(spark, path, "nope")


class TestReviewFixesR11:
    """Regression pins for the round-11 self-review findings."""

    def test_drop_guard_covers_old_specs(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            drop_iceberg_column,
            evolve_iceberg_partition_spec,
        )

        path = str(tmp_path / "rf1")
        write_iceberg_table(_df(spark, 0, 6), path,
                            partition_by=["bucket(8, k)"])
        evolve_iceberg_partition_spec(path, [])   # default now empty
        # k is still a live source of spec 0's manifests
        with pytest.raises(IcebergProtocolError, match="partition source"):
            drop_iceberg_column(path, "k")

    def test_identity_timestamp_prune_encoding(self):
        import datetime

        from etl_processing_scd1_spark.sources.iceberg import (
            _transform_scalar,
        )

        utc = datetime.timezone.utc
        ts = datetime.datetime(2024, 3, 15, 7, 45, 1, 250, tzinfo=utc)
        micros = int(ts.timestamp() * 1_000_000)
        assert _transform_scalar("identity", ts, "timestamptz") == micros
        assert _transform_scalar(
            "identity", ts.replace(tzinfo=None), "timestamptz"
        ) is NotImplemented
        assert _transform_scalar(
            "identity", ts.replace(tzinfo=None), "timestamp"
        ) == micros

    def test_evolve_refuses_unwritable_specs(self, spark, tmp_path):
        import datetime

        from etl_processing_scd1_spark.sources.iceberg import (
            evolve_iceberg_partition_spec,
        )

        path = str(tmp_path / "rf2")
        df = spark.createDataFrame(
            [(1, datetime.datetime(2024, 1, 1), 1.5)],
            "k long, ts timestamp, v double",
        )
        write_iceberg_table(df, path)
        # identity over a timestamp: tuple not avro-representable
        with pytest.raises(IcebergProtocolError, match="representable"):
            evolve_iceberg_partition_spec(path, ["ts"])
        with pytest.raises(IcebergProtocolError, match="bucket"):
            evolve_iceberg_partition_spec(path, ["bucket(4, v)"])
        # hour over a timestamp IS writable
        evolve_iceberg_partition_spec(path, ["hour(ts)"])
        write_iceberg_table(
            spark.createDataFrame(
                [(2, datetime.datetime(2024, 1, 2), 2.5)],
                "k long, ts timestamp, v double",
            ),
            path, mode="append",
        )
        assert read_iceberg_table(spark, path).count() == 2

    def test_datasource_eq_delete_over_pre_evolution_file(
        self, spark, tmp_path
    ):
        """An eq-delete keyed on a LATER-ADDED column must treat
        pre-evolution files' rows as NULL keys, not crash."""
        from etl_processing_scd1_spark.sources.iceberg import (
            upsert_iceberg_table,
        )
        from etl_processing_scd1_spark.sources.iceberglog_datasource import (
            IcebergLogDataSource,
        )

        spark.dataSource.register(IcebergLogDataSource)
        path = str(tmp_path / "rf3")
        write_iceberg_table(_df(spark, 0, 6), path)
        # evolve-in-upsert adds 'tag'
        upsert_iceberg_table(
            spark.createDataFrame([(1, 11, "1", "x")],
                                  "k long, v long, part string, tag string"),
            path, ["k"],
        )
        # second upsert keyed on the NEW column
        upsert_iceberg_table(
            spark.createDataFrame([(7, 77, "1", "x")],
                                  "k long, v long, part string, tag string"),
            path, ["tag"],
        )
        got = spark.read.format("iceberglog").load(path)
        rows = {r.k: r.tag for r in got.collect()}
        # the tag='x' delete erased upsert #1's (k=1, tag='x') row —
        # its sequence is strictly smaller; pre-evolution rows read
        # tag NULL and survive (NULL != 'x')
        assert 1 not in rows
        assert rows[7] == "x"
        assert sorted(rows) == [0, 2, 3, 4, 5, 7]
        assert all(rows[k] is None for k in (0, 2, 3, 4, 5))

    def test_changelog_dropped_key_fails_loud(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            _resolve_delete_file_columns,
        )

        with pytest.raises(IcebergProtocolError, match="no longer"):
            _resolve_delete_file_columns(
                "/nonexistent.parquet", [42], {1: "k"}, {"properties": {}}
            )


class TestBranchWrites:
    """Branch writes + fast-forward publish (spec §Snapshot
    References — the write-audit-publish workflow): a branch commit's
    parent is the BRANCH head, main's pointer and snapshot-log never
    move until fast_forward_iceberg_main, tags refuse writes, and a
    diverged main refuses the fast-forward."""

    def test_wap_write_audit_publish(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            _load_metadata,
            fast_forward_iceberg_main,
            read_iceberg_table,
            write_iceberg_table,
        )

        path = str(tmp_path / "wap")
        write_iceberg_table(_df(spark, 0, 4), path)          # main v1
        write_iceberg_table(_df(spark, 4, 7), path, branch="audit")
        write_iceberg_table(_df(spark, 7, 9), path, branch="audit")
        # main is untouched: plain read + history
        assert len(_rows(read_iceberg_table(spark, path))) == 4
        meta = _load_metadata(path)
        assert len(meta["snapshot-log"]) == 1
        # branch stacks both commits
        assert len(_rows(read_iceberg_table(spark, path, ref="audit"))) == 9
        # branch parent chain: head -> first branch commit -> main
        by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
        head = meta["refs"]["audit"]["snapshot-id"]
        p1 = by_id[head]["parent-snapshot-id"]
        assert by_id[p1]["parent-snapshot-id"] == meta["current-snapshot-id"]
        # publish: main fast-forwards to the branch head
        fast_forward_iceberg_main(path, "audit")
        assert len(_rows(read_iceberg_table(spark, path))) == 9
        meta2 = _load_metadata(path)
        assert meta2["current-snapshot-id"] == head
        assert meta2["snapshot-log"][-1]["snapshot-id"] == head
        assert "audit" in meta2["refs"]  # ref survives the publish

    def test_branch_write_rejects_tags_and_missing_table(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            IcebergProtocolError,
            set_iceberg_ref,
            write_iceberg_table,
        )

        with pytest.raises(ValueError, match="does not exist"):
            write_iceberg_table(
                _df(spark, 0, 2), str(tmp_path / "nope"), branch="b"
            )
        path = str(tmp_path / "tagw")
        write_iceberg_table(_df(spark, 0, 2), path)
        set_iceberg_ref(path, "pin", ref_type="tag")
        with pytest.raises(IcebergProtocolError, match="tags are immutable"):
            write_iceberg_table(_df(spark, 2, 4), path, branch="pin")

    def test_fast_forward_refuses_diverged_main(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            IcebergProtocolError,
            fast_forward_iceberg_main,
            write_iceberg_table,
        )

        path = str(tmp_path / "diverge")
        write_iceberg_table(_df(spark, 0, 2), path)
        write_iceberg_table(_df(spark, 2, 4), path, branch="b")
        write_iceberg_table(_df(spark, 4, 6), path)  # main moves on
        with pytest.raises(IcebergProtocolError, match="diverged"):
            fast_forward_iceberg_main(path, "b")

    def test_branch_survives_expiry_and_overwrite_isolates(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            expire_snapshots,
            read_iceberg_table,
            write_iceberg_table,
        )

        path = str(tmp_path / "bexp")
        write_iceberg_table(_df(spark, 0, 3), path)
        # overwrite ON THE BRANCH replaces branch content only
        write_iceberg_table(_df(spark, 10, 12), path, branch="b")
        write_iceberg_table(_df(spark, 20, 22), path, branch="b",
                            mode="overwrite")
        assert [r[0] for r in _rows(read_iceberg_table(spark, path, ref="b"))] \
            == [20, 21]
        assert len(_rows(read_iceberg_table(spark, path))) == 3
        # more main commits, then expiry: the branch head is pinned
        write_iceberg_table(_df(spark, 3, 6), path)
        expire_snapshots(path, keep_last=1)
        assert [r[0] for r in _rows(read_iceberg_table(spark, path, ref="b"))] \
            == [20, 21]


class TestRewriteManifests:
    """rewrite_iceberg_manifests: metadata-tree maintenance — one
    manifest per live spec generation, data files untouched, EXISTING
    entries carry explicit snapshot_id / sequence_number so v2
    equality-delete ordering survives the rewrite."""

    def test_merges_append_manifests_content_identical(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            iceberg_metadata_table,
            read_iceberg_table,
            rewrite_iceberg_manifests,
            write_iceberg_table,
        )

        path = str(tmp_path / "rw")
        for i in range(4):
            write_iceberg_table(_df(spark, i * 3, i * 3 + 3), path)
        before = _rows(read_iceberg_table(spark, path))
        pre_version = 4
        v = rewrite_iceberg_manifests(path)
        assert v == 5
        assert _rows(read_iceberg_table(spark, path)) == before
        mf = iceberg_metadata_table(spark, path, "manifests")
        assert mf.filter("content = 0").count() == 1
        # time travel to the pre-rewrite snapshot still plans its own tree
        assert _rows(
            read_iceberg_table(spark, path, version=pre_version)
        ) == before
        # already minimal: second rewrite is a no-op
        assert rewrite_iceberg_manifests(path) == v

    def test_v2_equality_delete_ordering_survives(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            read_iceberg_table,
            rewrite_iceberg_manifests,
            upsert_iceberg_table,
            write_iceberg_table,
        )

        path = str(tmp_path / "rw_v2")
        write_iceberg_table(_df(spark, 0, 6), path)
        # two upsert batches: each eq-delete outranks EARLIER data only
        up1 = spark.createDataFrame(
            [(2, 200, "x"), (6, 600, "x")], "k long, v long, part string"
        )
        upsert_iceberg_table(up1, path, ["k"])
        up2 = spark.createDataFrame(
            [(2, 222, "y"), (7, 700, "y")], "k long, v long, part string"
        )
        upsert_iceberg_table(up2, path, ["k"])
        before = _rows(read_iceberg_table(spark, path))
        rewrite_iceberg_manifests(path)
        after = _rows(read_iceberg_table(spark, path))
        assert after == before
        got = {r[0]: r[1] for r in after}
        assert got[2] == 222 and got[6] == 600 and got[7] == 700
        # a post-rewrite upsert still replaces rewritten-manifest rows
        up3 = spark.createDataFrame(
            [(6, 666, "z")], "k long, v long, part string"
        )
        upsert_iceberg_table(up3, path, ["k"])
        got = {r[0]: r[1] for r in _rows(read_iceberg_table(spark, path))}
        assert got[6] == 666 and got[2] == 222

    def test_one_manifest_per_spec_generation(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            evolve_iceberg_partition_spec,
            iceberg_metadata_table,
            read_iceberg_table,
            rewrite_iceberg_manifests,
            write_iceberg_table,
        )

        path = str(tmp_path / "rw_spec")
        write_iceberg_table(_df(spark, 0, 4), path, partition_by=["part"])
        write_iceberg_table(_df(spark, 4, 8), path)
        evolve_iceberg_partition_spec(path, ["bucket(4, k)"])
        write_iceberg_table(_df(spark, 8, 12), path)
        before = _rows(read_iceberg_table(spark, path))
        rewrite_iceberg_manifests(path)
        assert _rows(read_iceberg_table(spark, path)) == before
        mf = iceberg_metadata_table(spark, path, "manifests")
        specs = sorted(
            r.partition_spec_id for r in mf.filter("content = 0").collect()
        )
        assert specs == [0, 1]  # one manifest per spec generation

    def test_independent_spec_replay_reads_rewritten_table(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            read_iceberg_table,
            rewrite_iceberg_manifests,
            upsert_iceberg_table,
            write_iceberg_table,
        )
        from tests.test_spec_interop import _norm, _spark_rows, \
            iceberg_snapshot_rows

        path = str(tmp_path / "rw_interop")
        write_iceberg_table(_df(spark, 0, 5), path, partition_by=["part"])
        up = spark.createDataFrame(
            [(1, 111, "a"), (9, 900, "b")], "k long, v long, part string"
        )
        upsert_iceberg_table(up, path, ["k"])
        rewrite_iceberg_manifests(path)
        engine = _spark_rows(read_iceberg_table(spark, path))
        foreign = _norm(iceberg_snapshot_rows(path))
        assert foreign == engine


class TestDataSourceRefReads:
    """format('iceberglog').option('ref', ...) — tag/branch reads
    through the Spark-native DataSource, resolved driver-side to a
    snapshot id; exclusive with snapshotId / versionAsOf."""

    def test_ref_option_reads_branch_and_tag(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            set_iceberg_ref,
            write_iceberg_table,
        )
        from etl_processing_scd1_spark.sources.iceberglog_datasource import (
            IcebergLogDataSource,
        )

        spark.dataSource.register(IcebergLogDataSource)
        path = str(tmp_path / "refds")
        write_iceberg_table(_df(spark, 0, 4), path)
        set_iceberg_ref(path, "pin", ref_type="tag")
        write_iceberg_table(_df(spark, 4, 9), path, branch="wip")
        write_iceberg_table(_df(spark, 9, 11), path)  # main moves on

        tag = spark.read.format("iceberglog").option("ref", "pin").load(path)
        assert sorted(r.k for r in tag.collect()) == [0, 1, 2, 3]
        br = spark.read.format("iceberglog").option("ref", "wip").load(path)
        assert sorted(r.k for r in br.collect()) == list(range(9))
        main = spark.read.format("iceberglog").load(path)
        assert sorted(r.k for r in main.collect()) == [0, 1, 2, 3, 9, 10]
        with pytest.raises(Exception, match="exclusive"):
            spark.read.format("iceberglog").option("ref", "pin") \
                .option("versionAsOf", 1).load(path).collect()


class TestSortOrders:
    """spec §Sort Orders: creation records order-id 1 (identity asc,
    nulls-first), every commit carries it forward, and writes apply
    it — range-distributed + within-partition sorted, so file bounds
    are tight and range predicates prune."""

    def test_metadata_shape_and_carry_forward(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            _load_metadata,
        )

        path = str(tmp_path / "s1")
        write_iceberg_table(_df(spark, 0, 50), path, sort_by=["k"])
        meta = _load_metadata(path, None)
        assert meta["default-sort-order-id"] == 1
        order = next(
            o for o in meta["sort-orders"] if o["order-id"] == 1
        )
        k_id = next(
            f["id"] for f in meta["schema"]["fields"] if f["name"] == "k"
        )
        assert order["fields"] == [{
            "transform": "identity", "source-id": k_id,
            "direction": "asc", "null-order": "nulls-first",
        }]
        # appends carry the order forward and re-apply it
        write_iceberg_table(_df(spark, 50, 80), path, mode="append")
        meta2 = _load_metadata(path, None)
        assert meta2["default-sort-order-id"] == 1
        assert meta2["sort-orders"] == meta["sort-orders"]

    def test_sorted_writes_prune_by_bounds(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from etl_processing_scd1_spark.sources.iceberg import (
            iceberg_plan_files,
        )

        # shuffled input, many partitions: unsorted leaves every file
        # spanning the whole k domain; sorted gives disjoint ranges
        df = (
            spark.range(0, 4000)
            .select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
            .orderBy(F.hash("id"))
            .repartition(8)
        )
        unsorted, srt = str(tmp_path / "u"), str(tmp_path / "s")
        write_iceberg_table(df, unsorted)
        # test-scale data is below AQE's advisory partition size, so
        # the range shuffle would coalesce to ONE file and there'd be
        # nothing to prune; production keeps ~advisory-sized ranges
        coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
        old = spark.conf.get(coalesce_key, "true")
        spark.conf.set(coalesce_key, "false")
        try:
            write_iceberg_table(df, srt, sort_by=["k"])
        finally:
            spark.conf.set(coalesce_key, old)
        probe = {"k": (100, 120)}
        n_u = len(iceberg_plan_files(unsorted, predicates=probe))
        n_s = len(iceberg_plan_files(srt, predicates=probe))
        assert len(iceberg_plan_files(srt)) > 1
        assert n_s < n_u  # the narrow range touches fewer files
        assert n_s <= 2
        # data unchanged
        assert read_iceberg_table(spark, srt).count() == 4000

    def test_guards(self, spark, tmp_path):
        path = str(tmp_path / "s2")
        write_iceberg_table(_df(spark, 0, 10), path)
        with pytest.raises(ValueError, match="created"):
            write_iceberg_table(
                _df(spark, 10, 12), path, mode="append", sort_by=["k"]
            )
        with pytest.raises(ValueError, match="scalar"):
            write_iceberg_table(
                _df(spark, 0, 5).selectExpr("k", "array(v) AS a"),
                str(tmp_path / "s3"),
                sort_by=["a"],
            )


class TestMetadataTablesExtra:
    def test_entries_all_manifests_metadata_log(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.iceberg import (
            delete_iceberg_rows,
            iceberg_metadata_table,
        )

        path = str(tmp_path / "m2")
        write_iceberg_table(_df(spark, 0, 20), path)
        write_iceberg_table(_df(spark, 20, 30), path, mode="append")
        delete_iceberg_rows(spark, path, "k = 0")

        entries = iceberg_metadata_table(spark, path, "entries")
        # current snapshot: data entries for both appends + the
        # position-delete entry (content 1)
        assert entries.filter("content = 1").count() == 1
        assert entries.selectExpr(
            "sum(CASE WHEN content = 0 THEN record_count END)"
        ).collect()[0][0] == 30

        mans = iceberg_metadata_table(spark, path, "all_manifests")
        # every snapshot's manifests, deduped: v1 append's manifest is
        # carried by later snapshots but listed once
        cur = iceberg_metadata_table(spark, path, "manifests")
        assert mans.count() >= cur.count()
        assert mans.filter("content = 1").count() == 1

        log = iceberg_metadata_table(spark, path, "metadata_log")
        assert log.count() == 2  # v1 and v2 files (v3 is current)

"""Warehouse storage tests: atomic swap publish, append publish
(O(batch) fact writes), manifest, empty-batch robustness."""

from __future__ import annotations

import json
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

from etl_processing_scd1_spark.storage import Warehouse

from .conftest import spark_jobs


def test_swap_and_append_publish(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.stage("dim", spark.createDataFrame([(1, "a")], "id int, v string"))
    wh.stage_append("fact", spark.createDataFrame([(10,)], "x int"))
    wh.publish(run_id="r1")
    assert wh.read("dim").count() == 1
    assert wh.read("fact").count() == 1

    # second run: dim swapped wholesale, fact appended incrementally
    wh.stage("dim", spark.createDataFrame([(2, "b"), (3, "c")], "id int, v string"))
    wh.stage_append("fact", spark.createDataFrame([(20,), (30,)], "x int"))
    wh.publish(run_id="r2")
    assert sorted(r["id"] for r in wh.read("dim").collect()) == [2, 3]
    assert sorted(r["x"] for r in wh.read("fact").collect()) == [10, 20, 30]
    # append files carry the run id — the physical audit trail
    files = os.listdir(str(tmp_path / "wh" / "fact"))
    assert any(f.startswith("r1-") for f in files)
    assert any(f.startswith("r2-") for f in files)

    manifest = json.load(open(str(tmp_path / "wh" / "_manifest.json")))
    assert manifest["run_id"] == "r2"
    assert manifest["tables"] == ["dim", "fact"]


def test_concurrent_stages_all_publish(spark, tmp_path):
    """Tables staged from more threads than cores, with the interpreter
    switching threads as often as it can: every one is recorded and
    published, each with its own rows."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    names = [f"t{i}" for i in range(8)]

    def write(i: int) -> None:
        df = spark.range(i + 1)
        if i % 2:
            wh.stage_append(names[i], df)
        else:
            wh.stage(names[i], df)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(len(names)) as pool:
            futures = [pool.submit(write, i) for i in range(len(names))]
            for f in futures:
                f.result(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert wh.publish(run_id="r1")["tables"] == names
    assert [wh.read(n).count() for n in names] == list(range(1, len(names) + 1))


def test_publish_swaps_round_by_round_in_name_order(spark, tmp_path, monkeypatch):
    """publish swaps staged tables round by round, in name order within
    a round, not in the order they were staged: a crash mid-publish
    leaves the same tables live whichever of a run's concurrent writes
    finished first, and never a derived table ahead of its inputs."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for name in ("c", "a"):
        wh.stage(name, spark.range(1))
    wh.end_stage_round()
    wh.stage("b", spark.range(1))  # derived from a and c
    staging = os.path.join(wh.root, ".staging")
    swapped = []
    rename = os.rename

    def crashing_rename(src, dst):
        if os.path.dirname(src) == staging:
            swapped.append(os.path.basename(dst))
            if len(swapped) == 3:
                raise OSError("crash mid-publish")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    with pytest.raises(OSError, match="crash mid-publish"):
        wh.publish(run_id="r1")
    monkeypatch.undo()
    assert swapped == ["a", "c", "b"]
    assert [Warehouse(spark, wh.root).exists(n) for n in "abc"] == [True, False, True]


def test_discarded_stage_is_not_published(spark, tmp_path):
    """What a failed run staged and discarded neither reaches the next
    publish nor stays in the staging area."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.stage("x", spark.range(1))
    wh.stage_append("f", spark.range(1))
    wh.discard_staged()
    assert os.listdir(os.path.join(wh.root, ".staging")) == []
    assert wh.staged_view("x") is None
    wh.stage("y", spark.range(2))
    assert wh.publish(run_id="r1")["tables"] == ["y"]
    assert not wh.exists("x") and not wh.exists("f")


def test_partitioned_append_prunes(spark, tmp_path):
    import datetime as dt

    wh = Warehouse(spark, str(tmp_path / "wh3"))
    df = spark.createDataFrame(
        [(i, dt.date(2021, 3, 1 + i % 3)) for i in range(30)], "x int, p_day date"
    )
    wh.stage_append("fact", df, partition_cols=["p_day"])
    wh.publish(run_id="r1")
    # hive layout survived the publish move
    days = [d for d in os.listdir(str(tmp_path / "wh3" / "fact")) if d.startswith("p_day=")]
    assert sorted(days) == ["p_day=2021-03-01", "p_day=2021-03-02", "p_day=2021-03-03"]
    # a day filter reaches the scan as a partition filter (pruning)
    q = wh.read("fact").filter("p_day = DATE '2021-03-02'")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(p_day" in plan
    assert q.count() == 10


def test_empty_append_batch_is_safe(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh2"))
    empty = spark.createDataFrame([], "x int")
    wh.stage_append("fact", empty)
    wh.publish(run_id="r1")
    # empty-created table reads back as empty with the given schema
    assert wh.read("fact", "x int").count() == 0
    wh.stage_append("fact", spark.createDataFrame([(1,)], "x int"))
    wh.publish(run_id="r2")
    assert wh.read("fact").count() == 1


def _parquet_files(path):
    out = []
    for dirpath, _dirs, files in os.walk(path):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
    return out


def test_compact_bounds_partition_files(spark, tmp_path):
    """Five appended runs leave ≥5 files per day partition; compact
    rewrites each day to one file with identical contents and the
    hive layout (pruning) intact."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for run in range(5):
        df = spark.createDataFrame(
            [(run * 10 + i, f"2021-03-0{1 + i % 2}") for i in range(4)],
            "x int, p_day string",
        )
        wh.stage_append("fact", df, partition_cols=["p_day"])
        wh.publish(run_id=f"r{run}")
    live = str(tmp_path / "wh" / "fact")
    before = spark.read.parquet(live)
    before_rows = sorted(r["x"] for r in before.collect())
    before_d1 = before.filter(before["p_day"] == "2021-03-01").count()
    assert len(_parquet_files(os.path.join(live, "p_day=2021-03-01"))) >= 5

    stats = wh.compact("fact", max_files=1)
    assert stats["partitions_compacted"] == 2
    assert len(_parquet_files(os.path.join(live, "p_day=2021-03-01"))) == 1
    after = spark.read.parquet(live)
    assert sorted(r["x"] for r in after.collect()) == before_rows
    # partition pruning still works on the compacted layout
    pruned = after.filter(after["p_day"] == "2021-03-01")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(p_day" in plan
    assert pruned.count() == before_d1
    # idempotent: nothing left above the bound
    assert wh.compact("fact", max_files=1)["partitions_compacted"] == 0


def test_compact_crash_window_recovers_on_open(spark, tmp_path):
    """A compact interrupted between the two renames leaves only
    ``<leaf>.old``; reopening the warehouse restores the leaf."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "d1"), (2, "d2")], "x int, p_day string")
    wh.stage_append("fact", df, partition_cols=["p_day"])
    wh.publish()
    leaf = str(tmp_path / "wh" / "fact" / "p_day=d1")
    os.rename(leaf, leaf + ".old")  # simulate the crash window
    Warehouse(spark, str(tmp_path / "wh"))  # reopen triggers recovery
    assert os.path.isdir(leaf) and not os.path.isdir(leaf + ".old")
    got = spark.read.parquet(str(tmp_path / "wh" / "fact"))
    assert sorted(r["x"] for r in got.collect()) == [1, 2]


def test_read_aligns_evolved_schema(spark, tmp_path):
    """A dimension gains a column between runs: reading the old
    snapshot against the new schema yields typed NULLs for the new
    column (ordinary updates for the next merge), drops retired
    columns, and follows the schema's column order."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.stage("dim", spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string"))
    wh.publish()
    evolved = StructType(
        [
            StructField("id", IntegerType()),
            StructField("segment", StringType()),  # new column
            StructField("name", StringType()),
        ]
    )
    got = wh.read("dim", schema=evolved)
    assert got.columns == ["id", "segment", "name"]
    assert got.schema["segment"].dataType == StringType()
    rows = {r["id"]: (r["segment"], r["name"]) for r in got.collect()}
    assert rows == {1: (None, "a"), 2: (None, "b")}
    # unchanged-layout reads stay byte-identical (no extra projection)
    same = wh.read("dim", schema=StructType([StructField("id", IntegerType()), StructField("name", StringType())]))
    assert same.columns == ["id", "name"]


def test_compact_unpartitioned_append_table(spark, tmp_path):
    """compact() on an UNPARTITIONED append table: the leaf dir IS
    the live root (rel == '.'), which must not produce a trailing
    '/.' staged path — the swap would fail mid-protocol and strand
    the table (ADVICE r2, medium)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for run in range(5):
        wh.stage_append("rep", spark.createDataFrame([(run,)], "x int"))
        wh.publish(run_id=f"r{run}")
    live = str(tmp_path / "wh" / "rep")
    assert len(_parquet_files(live)) >= 5
    stats = wh.compact("rep", max_files=1)
    assert stats["partitions_compacted"] == 1
    assert len(_parquet_files(live)) == 1
    assert os.path.isfile(os.path.join(live, "_schema.json"))  # the swap kept the record
    assert sorted(r["x"] for r in wh.read("rep").collect()) == [0, 1, 2, 3, 4]
    # and the table is still append-able afterwards
    wh.stage_append("rep", spark.createDataFrame([(9,)], "x int"))
    wh.publish(run_id="r9")
    assert sorted(r["x"] for r in wh.read("rep").collect()) == [0, 1, 2, 3, 4, 9]


def test_recovery_heals_nested_old_in_one_open(spark, tmp_path):
    """An interrupted compact INSIDE an interrupted publish leaves a
    ``.old`` leaf nested under a ``.old`` table dir. One Warehouse
    open must heal both levels — the walk descends into directories
    it just restored (ADVICE r2)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "d1"), (2, "d2")], "x int, p_day string")
    wh.stage_append("fact", df, partition_cols=["p_day"])
    wh.publish()
    table = str(tmp_path / "wh" / "fact")
    leaf = os.path.join(table, "p_day=d1")
    os.rename(leaf, leaf + ".old")  # inner crash window (compact)
    os.rename(table, table + ".old")  # outer crash window (publish)
    Warehouse(spark, str(tmp_path / "wh"))  # single reopen
    assert os.path.isdir(table) and not os.path.isdir(table + ".old")
    assert os.path.isdir(leaf) and not os.path.isdir(leaf + ".old")
    got = spark.read.parquet(table)
    assert sorted(r["x"] for r in got.collect()) == [1, 2]


def test_staged_empty_full_table_not_stale(spark, tmp_path):
    """A staged FULL-table snapshot with zero rows must read back as
    an EMPTY typed frame, not fall through to the stale pre-stage
    live table (ADVICE r2): same-run consumers (fraud rules) would
    otherwise see rows a merge just deleted."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.stage("dim", spark.createDataFrame([(1, "a")], "id int, v string"))
    wh.publish(run_id="r1")
    # next run merges the dimension down to zero rows
    wh.stage("dim", spark.createDataFrame([], "id int, v string"))
    view = wh.staged_view("dim")
    assert view is not None, "staged-but-empty must not read as 'nothing staged'"
    assert view.count() == 0
    assert view.columns == ["id", "v"]
    # a zero-row APPEND increment is a no-op for consumers: either
    # None (no parts written) or an empty frame (empty part written)
    wh.stage_append("fact", spark.createDataFrame([], "x int"))
    inc = wh.staged_view("fact@append")
    assert inc is None or inc.count() == 0


def test_version_retention_and_time_travel(spark, tmp_path):
    from etl_processing_scd1_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path / "whv"), retain_versions=2)
    for run, val in (("r1", "a"), ("r2", "b"), ("r3", "c")):
        wh.stage("dim", spark.createDataFrame([(1, val)], "id int, v string"))
        wh.publish(run_id=run)
    assert wh.read("dim").collect()[0].v == "c"
    assert wh.read_as_of("dim", "r3").collect()[0].v == "c"
    assert wh.read_as_of("dim", "r2").collect()[0].v == "b"
    assert wh.read_as_of("dim", "r1").collect()[0].v == "a"
    # a fourth publish prunes the oldest retained version (keep 2)
    wh.stage("dim", spark.createDataFrame([(1, "d")], "id int, v string"))
    wh.publish(run_id="r4")
    assert wh.read_as_of("dim", "r2").collect()[0].v == "b"
    import pytest as _pytest

    with _pytest.raises(KeyError):
        wh.read_as_of("dim", "r1")
    # manifest history records the lineage
    assert wh.manifest()["previous"][-2:] == ["r2", "r3"]


def test_append_table_time_travel_via_run_stamps(spark, tmp_path):
    from etl_processing_scd1_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wha"))
    for run, n in (("r1", 2), ("r2", 3)):
        wh.stage_append(
            "facts", spark.createDataFrame([(run, i) for i in range(n)], "run string, i int")
        )
        wh.publish(run_id=run)
    assert wh.read("facts").count() == 5
    asof = wh.read_as_of("facts", "r1")
    assert asof.count() == 2
    assert {r.run for r in asof.collect()} == {"r1"}

    # a hive-partitioned append table (run_day's fact layout): the as-of
    # subset keeps the partition column, typed as recorded
    wp = Warehouse(spark, str(tmp_path / "whp"))
    for run, n in (("r1", 2), ("r2", 3)):
        wp.stage_append(
            "facts",
            spark.createDataFrame(
                [(run, i, f"2024-01-0{i % 2 + 1}") for i in range(n)],
                "run string, i int, p_day string",
            ),
            partition_cols=["p_day"],
        )
        wp.publish(run_id=run)
    assert wp.read("facts").columns == ["run", "i", "p_day"]
    asof = wp.read_as_of("facts", "r1")
    assert asof.schema == wp.read("facts").schema
    assert sorted(tuple(r) for r in asof.collect()) == [
        ("r1", 0, "2024-01-01"), ("r1", 1, "2024-01-02"),
    ]


def test_interrupted_publish_with_retention_preserves_version(spark, tmp_path):
    """Crash between swap and version-rename: recovery must finish the
    rename the publish would have done, so the displaced state stays
    reachable by its run id."""
    import os

    from etl_processing_scd1_spark.storage import Warehouse

    root = str(tmp_path / "whc")
    wh = Warehouse(spark, root, retain_versions=2)
    wh.stage("dim", spark.createDataFrame([(1, "a")], "id int, v string"))
    wh.publish(run_id="r1")
    # simulate the crash window: new data live, old state still in .old
    wh.stage("dim", spark.createDataFrame([(1, "b")], "id int, v string"))
    staged = wh._staged["dim"]
    live = os.path.join(root, "dim")
    os.rename(live, live + ".old")
    os.rename(staged, live)
    # reopen -> recovery runs (manifest still says r1)
    wh2 = Warehouse(spark, root, retain_versions=2)
    assert wh2.read("dim").collect()[0].v == "b"
    assert wh2.read_as_of("dim", "r1").collect()[0].v == "a"


def test_stage_ordered_materializes_global_order(spark, tmp_path):
    """Range-partitioned + sorted-within-file staging: each parquet
    file is internally sorted and file key ranges are pairwise
    disjoint and ordered, so concatenating files in name order yields
    the global order without any further sort."""
    import glob
    import os

    from pyspark.sql import functions as F

    from etl_processing_scd1_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path / "who"))
    df = spark.range(0, 5000).select(
        F.md5(F.col("id").cast("string")).alias("k"), F.col("id").alias("v")
    )
    wh.stage_ordered("ordered", df, ["k"], num_files=4)
    wh.publish(run_id="r1")
    files = sorted(glob.glob(os.path.join(str(tmp_path / "who"), "ordered", "part-*.parquet")))
    assert len(files) >= 2
    ranges = []
    for f in files:
        ks = [r.k for r in spark.read.parquet(f"file://{os.path.abspath(f)}").collect()]
        assert ks == sorted(ks)  # sorted within file
        if ks:
            ranges.append((ks[0], ks[-1]))
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b  # disjoint, ordered ranges across files


def test_bloom_sidecar_point_lookup_skips_files(spark, tmp_path):
    """stage_indexed: point lookups open only Bloom-admitted files —
    zero false negatives (every present key found), and a typical
    lookup admits a strict subset of the table's files."""
    import glob
    import json
    import os

    from pyspark.sql import functions as F

    from etl_processing_scd1_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path / "whb"))
    df = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v")
    ).repartition(8)
    wh.stage_indexed("idx", df, key_col="k")
    wh.publish(run_id="r1")

    live = os.path.join(str(tmp_path / "whb"), "idx")
    n_files = len(glob.glob(os.path.join(live, "*.parquet")))
    assert n_files >= 4
    meta = json.load(open(os.path.join(live, "_bloom_index.json")))
    assert set(meta["files"]) == {
        os.path.basename(f) for f in glob.glob(os.path.join(live, "*.parquet"))
    }

    # zero false negatives on a sample of present keys
    for k in (0, 1234, 3999):
        rows = wh.read_point("idx", k).collect()
        assert [(r.k, r.v) for r in rows] == [(k, k * 7)]

    # admitted-file count for a lookup is bounded well below n_files
    pos = set(Warehouse._bloom_positions("1234", meta["hashes"], meta["bits"]))
    admitted = [f for f, bits in meta["files"].items() if pos.issubset(bits)]
    assert 1 <= len(admitted) < n_files

    # plain read still works (sidecar is hidden to the parquet reader)
    assert wh.read("idx").count() == 4000


def test_crashed_unmanifested_publish_then_next_publish(spark, tmp_path):
    """The round-6 advisor's ENOTEMPTY scenario: run r2 swaps the
    table live and records itself in-flight, then dies BEFORE writing
    the manifest. Recovery on reopen retains the displaced r1 state
    as dim.v_r1 (manifest still names r1). The NEXT publish must then
    (a) not collide with that existing version dir, and (b) label the
    displaced live data with r2 — the run that actually produced it —
    not the stale manifest's r1."""
    import pytest

    from etl_processing_scd1_spark.storage import Warehouse

    root = str(tmp_path / "whcrash")
    wh = Warehouse(spark, root, retain_versions=3)
    wh.stage("dim", spark.createDataFrame([(1, "a")], "id int, v string"))
    wh.publish(run_id="r1")

    # replay publish(r2) up to the crash point: in-flight recorded,
    # live swapped, old still on disk, NO manifest write
    wh.stage("dim", spark.createDataFrame([(1, "b")], "id int, v string"))
    staged = wh._staged["dim"]
    wh._write_inflight({"run_id": "r2", "swapped": ["dim"]})
    live = os.path.join(root, "dim")
    os.rename(live, live + ".old")
    os.rename(staged, live)

    # reopen: recovery retains the orphaned .old as v_r1
    wh2 = Warehouse(spark, root, retain_versions=3)
    assert wh2.read("dim").collect()[0].v == "b"
    assert wh2.read_as_of("dim", "r1").collect()[0].v == "a"

    # next publish: must succeed AND label the displaced data as r2
    wh2.stage("dim", spark.createDataFrame([(1, "c")], "id int, v string"))
    wh2.publish(run_id="r3")
    assert wh2.read("dim").collect()[0].v == "c"
    assert wh2.read_as_of("dim", "r1").collect()[0].v == "a"
    assert wh2.read_as_of("dim", "r2").collect()[0].v == "b"
    # the warehouse stays openable (regression: recovery used to
    # re-raise ENOTEMPTY forever once the version dirs collided)
    wh3 = Warehouse(spark, root, retain_versions=3)
    assert wh3.read("dim").collect()[0].v == "c"
    with pytest.raises(KeyError):
        wh3.read_as_of("dim", "r0")


def test_legacy_crash_layout_without_inflight_record(spark, tmp_path):
    """Same crash window but from a warehouse written before the
    in-flight record existed (no _inflight.json): the colliding
    displaced data cannot be attributed to a run, so it lands in a
    __dup slot — mislabeled but publishable, and retention GC still
    reclaims it. The authoritative v_r1 contents are untouched."""
    from etl_processing_scd1_spark.storage import Warehouse

    root = str(tmp_path / "whlegacy")
    wh = Warehouse(spark, root, retain_versions=3)
    wh.stage("dim", spark.createDataFrame([(1, "a")], "id int, v string"))
    wh.publish(run_id="r1")
    wh.stage("dim", spark.createDataFrame([(1, "b")], "id int, v string"))
    staged = wh._staged["dim"]
    live = os.path.join(root, "dim")
    os.rename(live, live + ".old")
    os.rename(staged, live)  # crash: no inflight, no manifest

    wh2 = Warehouse(spark, root, retain_versions=3)  # recovery -> v_r1
    wh2.stage("dim", spark.createDataFrame([(1, "c")], "id int, v string"))
    wh2.publish(run_id="r3")  # must not ENOTEMPTY on v_r1
    assert wh2.read("dim").collect()[0].v == "c"
    assert wh2.read_as_of("dim", "r1").collect()[0].v == "a"
    dup_dirs = [d for d in os.listdir(root) if "__dup" in d]
    assert dup_dirs  # the unattributable displaced copy is parked


def test_read_point_full_scan_fallback_without_sidecar(spark, tmp_path):
    import pytest

    from etl_processing_scd1_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path / "whnp"))
    wh.stage("plain", spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string"))
    wh.publish(run_id="r1")
    # with key_col: correct unpruned fallback
    rows = wh.read_point("plain", 2, key_col="k").collect()
    assert [(r.k, r.v) for r in rows] == [(2, "y")]
    # without key_col there is nothing to filter on -> explicit error
    with pytest.raises(FileNotFoundError):
        wh.read_point("plain", 2)


def test_compact_preserves_run_stamps_for_time_travel(spark, tmp_path):
    """compact() re-stamps merged leaves with the newest source run id
    so read_as_of stays exact for runs >= that stamp, and raises
    (instead of silently under-returning) below the compaction floor."""
    import pytest

    from etl_processing_scd1_spark.storage import Warehouse

    root = str(tmp_path / "whcmp")
    wh = Warehouse(spark, root)
    for run, n in (("r1", 3), ("r2", 3)):
        df = spark.createDataFrame(
            [(run, i) for i in range(n)], "run string, i int"
        ).repartition(3)
        wh.stage_append("facts", df)
        wh.publish(run_id=run)
    assert wh.read_as_of("facts", "r1").count() == 3

    stats = wh.compact("facts", max_files=4, target_files=1)
    assert stats["partitions_compacted"] == 1
    # every surviving file still carries a run stamp
    files = [f for f in os.listdir(os.path.join(root, "facts")) if f.endswith(".parquet")]
    assert files and all(f.startswith("r2-") for f in files)

    # exact at and above the floor
    assert wh.read_as_of("facts", "r2").count() == 6
    wh.stage_append("facts", spark.createDataFrame([("r3", 0)], "run string, i int"))
    wh.publish(run_id="r3")
    assert wh.read_as_of("facts", "r2").count() == 6
    assert wh.read_as_of("facts", "r3").count() == 7
    # below the floor: loud, not silently partial
    with pytest.raises(KeyError):
        wh.read_as_of("facts", "r1")
    # plain reads unaffected by the floor sidecar
    assert wh.read("facts").count() == 7


def test_read_rejects_type_change(spark, tmp_path):
    """A stored ``id int`` requested as ``id date`` is a migration: the
    read raises instead of handing the mismatch to a Parquet scan,
    which (told the column is a date) returns day offsets from 1970."""
    import datetime as dt

    import pytest

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.stage("dim", spark.createDataFrame([(1, "a")], "id int, v string"))
    wh.publish(run_id="r1")
    live = str(tmp_path / "wh" / "dim")
    # what a schema-on-read scan does with the mismatch on its own
    assert spark.read.schema("id date, v string").parquet(live).collect()[0]["id"] == dt.date(1970, 1, 2)
    with pytest.raises(TypeError, match="id: int -> date"):
        wh.read("dim", "id date, v string")
    # appending a batch that changes a column's type fails before any write
    wh.stage_append("fact", spark.createDataFrame([(1,)], "x int"))
    wh.publish(run_id="r2")
    with pytest.raises(TypeError, match="x: int -> string"):
        wh.stage_append("fact", spark.createDataFrame([("1",)], "x string"))


def test_reads_run_no_schema_inference_job(spark, tmp_path):
    """Tables are read with the schema recorded at stage time: a live
    read (full or append table, partitioned or not) and a same-run
    staged read start no Spark job."""
    import datetime as dt

    wh = Warehouse(spark, str(tmp_path / "wh"))
    dim = spark.createDataFrame([(1, "a")], "id int, v string")
    fact = spark.createDataFrame([(1, dt.date(2021, 3, 1))], "x int, p_day date")
    wh.stage("dim", dim)
    wh.stage_append("fact", fact, partition_cols=["p_day"])
    wh.publish(run_id="r1")
    wh.stage("dim", dim)
    wh.stage_append("fact", fact, partition_cols=["p_day"])
    frames = []
    jobs = spark_jobs(
        spark,
        lambda: frames.extend(
            [
                wh.read("dim", "id int, v string"),
                wh.read("fact"),
                wh.read("fact", "x int, p_day date"),
                wh.staged_view("dim"),
                wh.staged_view("fact@append"),
            ]
        ),
    )
    assert jobs == 0
    dim_cols, fact_cols = ["id", "v"], ["x", "p_day"]
    assert [f.columns for f in frames] == [dim_cols, fact_cols, fact_cols, dim_cols, fact_cols]
    assert frames[1].schema["p_day"].dataType.simpleString() == "date"
    assert [f.count() for f in frames] == [1, 1, 1, 1, 1]
    wh.publish(run_id="r2")
    assert wh.read("fact").count() == 2

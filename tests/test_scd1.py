"""SCD1 merge property tests (SURVEY.md §5: idempotence, snapshot
equivalence, null-safe transitions, deterministic dup-key policy)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from etl_processing_scd1_spark.operators import scd1_merge

SCHEMA = (
    "terminal_id string, terminal_city string, terminal_address string, "
    "create_dt timestamp, update_dt timestamp, processed_dt timestamp"
)
STG_SCHEMA = "terminal_id string, terminal_city string, terminal_address string"
TS = dt.datetime(2021, 3, 1)
COMPARE = ["terminal_city", "terminal_address"]
def _p():
    return F.lit("2021-03-02 00:00:00").cast("timestamp")


def _dim(spark, rows):
    return spark.createDataFrame(
        [(tid, city, addr, TS, None, TS) for tid, city, addr in rows], SCHEMA
    )


def _stg(spark, rows):
    return spark.createDataFrame(rows, STG_SCHEMA)


def test_snapshot_merge_classifies_all_legs(spark):
    dim = _dim(spark, [("A1", "Moscow", "a"), ("A2", "Kazan", "b"), ("A3", "Omsk", "c")])
    stg = _stg(
        spark,
        [
            ("A1", "Moscow", "a"),       # unchanged
            ("A2", "Kazan", "CHANGED"),  # update
            ("A9", "Tver", "new"),       # insert
        ],                               # A3 absent → delete
    )
    res = scd1_merge(dim, stg, "terminal_id", COMPARE, processed_dt=_p())
    assert res.counts() == {"inserted": 1, "updated": 1, "deleted": 1, "rows": 3}
    merged = {r["terminal_id"]: r for r in res.merged.collect()}
    assert set(merged) == {"A1", "A2", "A9"}
    assert merged["A2"]["terminal_address"] == "CHANGED"  # overwrite (SCD1)
    assert merged["A1"]["create_dt"] == TS                # kept untouched
    assert merged["A9"]["update_dt"] is None              # G1: insert update_dt NULL


def test_idempotence_same_snapshot_is_noop(spark):
    dim = _dim(spark, [("A1", "Moscow", "a"), ("A2", "Kazan", "b")])
    stg = _stg(spark, [("A1", "Moscow", "a"), ("A2", "Kazan", "b")])
    first = scd1_merge(dim, stg, "terminal_id", COMPARE, processed_dt=_p())
    assert first.counts() == {"inserted": 0, "updated": 0, "deleted": 0, "rows": 2}
    second = scd1_merge(first.merged, stg, "terminal_id", COMPARE, processed_dt=_p())
    assert second.counts() == {"inserted": 0, "updated": 0, "deleted": 0, "rows": 2}
    assert sorted(map(tuple, first.merged.collect())) == sorted(
        map(tuple, second.merged.collect())
    )


def test_null_transition_detected(spark):
    """value→NULL must register as an update — the exact case the
    reference's 3-clause null expansion exists for (main.py:201-209)."""
    dim = _dim(spark, [("A1", "Moscow", "addr")])
    stg = _stg(spark, [("A1", "Moscow", None)])
    res = scd1_merge(dim, stg, "terminal_id", COMPARE, processed_dt=_p())
    assert res.counts()["updated"] == 1
    assert res.merged.collect()[0]["terminal_address"] is None


def test_duplicate_staging_keys_deterministic(spark):
    """Undefined in the reference (Postgres picks an arbitrary join
    match); the engine keeps the freshest-by-effective-ts row, stably."""
    dim = _dim(spark, [("A1", "Moscow", "old")])
    stg = spark.createDataFrame(
        [
            ("A1", "Moscow", "stale", dt.datetime(2021, 3, 1), None),
            ("A1", "Moscow", "fresh", dt.datetime(2021, 3, 5), None),
        ],
        STG_SCHEMA + ", create_dt timestamp, update_dt timestamp",
    )
    for _ in range(3):
        res = scd1_merge(dim, stg, "terminal_id", COMPARE, processed_dt=_p())
        assert [r["terminal_address"] for r in res.merged.collect()] == ["fresh"]


def test_delete_missing_false_keeps_absent_keys(spark):
    dim = _dim(spark, [("A1", "Moscow", "a"), ("A2", "Kazan", "b")])
    stg = _stg(spark, [("A1", "Moscow", "a2")])
    res = scd1_merge(
        dim, stg, "terminal_id", COMPARE, processed_dt=_p(), delete_missing=False
    )
    assert res.merged.count() == 2  # A2 survives increment-style staging


def test_identifiers_are_quoted_in_the_sql_text(spark):
    """The merge is SQL text over column names: a key with a space and
    compare columns with a space and a backtick resolve as the names
    they are, in the marker, the dedup window and every projection."""
    cols = "`term id` string, `term city` string, `a``b` string, create_dt timestamp, update_dt timestamp"
    dim = spark.createDataFrame(
        [
            ("T1", "Moscow", "x", TS, None, TS),
            ("T2", "Kazan", "y", TS, None, TS),
            ("T3", "Omsk", "o", TS, None, TS),
            ("T5", "Sochi", None, TS, None, TS),
        ],
        cols + ", processed_dt timestamp",
    )
    d2, d5 = dt.datetime(2021, 3, 2), dt.datetime(2021, 3, 5)
    stg = spark.createDataFrame(
        [
            ("T1", "Moscow", "x", d2, None),  # keep
            ("T2", "Kazan", "y2", TS, d2),    # update
            ("T4", "Tver", "z-old", TS, None),  # duplicate key: older, dropped
            ("T4", "Tver", "z", d5, None),    # insert
            ("T5", "Sochi", "w", d2, None),   # NULL → value: update
        ],                                    # T3 absent → delete
        cols,
    )
    res = scd1_merge(dim, stg, "term id", ["term city", "a`b"], processed_dt=_p())
    p = dt.datetime(2021, 3, 2)
    assert res.merged.columns == ["term id", "term city", "a`b", "create_dt", "update_dt", "processed_dt"]
    assert sorted(map(tuple, res.merged.collect())) == [
        ("T1", "Moscow", "x", TS, None, TS),
        ("T2", "Kazan", "y2", TS, d2, p),
        ("T4", "Tver", "z", d5, None, p),
        ("T5", "Sochi", "w", TS, None, p),
    ]
    assert res.counts() == {"inserted": 1, "updated": 2, "deleted": 1, "rows": 4}
    assert [tuple(r) for r in res.inserted.collect()] == [("T4", "Tver", "z", d5, None, p)]
    assert sorted(tuple(r) for r in res.updated.collect()) == [
        ("T2", "Kazan", "y2", TS, d2, p),
        ("T5", "Sochi", "w", TS, None, p),
    ]
    assert [tuple(r) for r in res.deleted.collect()] == [("T3", "Omsk", "o", TS, None, TS)]

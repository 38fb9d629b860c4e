"""Property-based SCD1 tests (SURVEY.md §5): the merge operator is
checked against a reference model (plain Python dict semantics of
SCD1 overwrite) on randomized snapshots, plus algebraic laws —
snapshot-of-self is a no-op and merge is idempotent."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from etl_processing_scd1_spark.operators import scd1_merge

KEYS = st.sampled_from(["K1", "K2", "K3", "K4", "K5", "K6"])
VALS = st.one_of(st.none(), st.sampled_from(["a", "b", "c"]))
TABLE = st.dictionaries(KEYS, st.tuples(VALS, VALS), max_size=6)

TS = dt.datetime(2020, 1, 1)
P = "2021-06-01 00:00:00"

_spark = None


def _get_spark(spark):
    global _spark
    _spark = spark
    return spark


def _dim_df(table: dict):
    rows = [(k, v1, v2, TS, None, TS) for k, (v1, v2) in sorted(table.items())]
    return _spark.createDataFrame(
        rows,
        "k string, v1 string, v2 string, create_dt timestamp, "
        "update_dt timestamp, processed_dt timestamp",
    )


def _stg_df(table: dict):
    rows = [(k, v1, v2) for k, (v1, v2) in sorted(table.items())]
    return _spark.createDataFrame(rows, "k string, v1 string, v2 string")


def _model_merge(dim: dict, stg: dict) -> dict:
    """Reference semantics: snapshot overwrite — the post-merge dim
    IS the staged snapshot (values overwritten, new keys added,
    missing keys deleted)."""
    return dict(stg)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(dim=TABLE, stg=TABLE)
def test_merge_matches_model(spark, dim, stg):
    _get_spark(spark)
    res = scd1_merge(
        _dim_df(dim), _stg_df(stg), key="k", compare_cols=["v1", "v2"],
        processed_dt=F.lit(P).cast("timestamp"),
    )
    got = {r["k"]: (r["v1"], r["v2"]) for r in res.merged.collect()}
    assert got == _model_merge(dim, stg)
    # leg classification is a partition of the key space
    n_ins = res.inserted.count()
    n_upd = res.updated.count()
    n_del = res.deleted.count()
    assert n_ins == len(set(stg) - set(dim))
    assert n_del == len(set(dim) - set(stg))
    assert n_upd == sum(
        1 for k in set(dim) & set(stg) if dim[k] != stg[k]
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(table=TABLE)
def test_merge_self_snapshot_is_identity(spark, table):
    _get_spark(spark)
    stg = _stg_df(table)
    res = scd1_merge(
        _dim_df(table), stg, key="k", compare_cols=["v1", "v2"],
        processed_dt=F.lit(P).cast("timestamp"),
    )
    assert res.counts() == {
        "inserted": 0, "updated": 0, "deleted": 0, "rows": len(table)
    }
    # audit columns untouched on kept rows
    for r in res.merged.collect():
        assert r["create_dt"] == TS and r["processed_dt"] == TS

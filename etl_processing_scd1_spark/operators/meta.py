"""Watermark metadata store (SURVEY.md §2.G G5, §2.F F1).

Reference: ``lapp_meta(schema_name, table_name, max_update_dt)``
seeded with 1900-01-01 and advanced to
``coalesce(max(update_dt), max(create_dt))`` of each staging table
per run (main.py:348-371). The reference records watermarks but
never uses them; this engine's extract path (sources.read_jdbc_table)
and fact pruning (facts.append_dedup fact_filter) consume them — the
watermark actually makes loads incremental here.

The meta table is tiny (one row per table): kept as a recompute —
one run's watermarks enter as ONE driver-side seed relation (an Arrow
``LocalRelation``, no Python worker), unioned onto the stored rows and
reduced by one groupBy max (one shuffle per run, not one per table) —
and written atomically. No scale concern by construction.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

SENTINEL = dt.datetime(1900, 1, 1)

_META_SCHEMA = "schema_name string, table_name string, max_update_dt timestamp"


def empty_meta(spark: SparkSession) -> DataFrame:
    return local_frame(spark, [], _META_SCHEMA)


def watermark_of(stg: DataFrame) -> object:
    """``coalesce(max(update_dt), max(create_dt))`` — the reference's
    single aggregate (F1, main.py:362-364), as one eager job. Returns a
    python datetime or None. ``pipeline.run_day`` observes the same two
    maxima on its merge write instead; this form is the standalone
    reference for that observation.
    """
    row = stg.agg(
        F.coalesce(F.max("update_dt"), F.max("create_dt")).alias("wm")
    ).first()
    return row["wm"]


def upsert_watermark(
    spark: SparkSession,
    meta: DataFrame,
    schema_name: str,
    watermarks: Mapping[str, dt.datetime | None],
) -> DataFrame:
    """Seed-if-absent (B7 NOT EXISTS → union distinct on key) then
    advance ``max_update_dt`` monotonically (never regress — re-runs
    with stale staging keep the high-water mark), for every
    ``table_name → watermark`` of one run at once: a NULL watermark
    seeds ``SENTINEL``. One seed relation, one groupBy."""
    if not watermarks:
        return meta
    seed = local_frame(
        spark,
        [(schema_name, table, wm or SENTINEL) for table, wm in watermarks.items()],
        _META_SCHEMA,
    )
    return (
        meta.unionByName(seed)
        .groupBy("schema_name", "table_name")
        .agg(F.max("max_update_dt").alias("max_update_dt"))
    )

"""SparkSession factory with scale-oriented defaults.

The reference delegates all execution to PostgreSQL (SURVEY.md §4);
here the equivalent "server" is a tuned SparkSession. Defaults are
chosen for the local[32] test harness but express the same knobs a
1000-executor deployment would set: AQE for runtime re-planning and
skew-join splitting, a broadcast threshold that captures dimension
tables, and shuffle partition counts sized to the data rather than
the 200-partition default.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Defaults that matter at every scale. At 100 TB one would raise
# shuffle.partitions (or let AQE coalesce from a high initial count)
# and keep everything else: these are ratios/policies, not sizes.
ENGINE_CONF: dict[str, str] = {
    # Adaptive execution: runtime shuffle-partition coalescing and
    # skew-join splitting replace hand-tuned partition counts.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # r12: the r11 global 64k coalescing floor is REVERTED to the
    # 1 MB default. Measured blast radius (r12 A/B, same code, floor
    # 64k vs 1m): delta_merge_scd1 4.79 -> 2.12 s, delta_update_scan
    # 4.73 -> 1.97 s, kcore 6.11 -> 3.17 s, bfs 5.88 -> 4.04 s,
    # item_item_topk 3.36 -> 2.23 s — the lower floor multiplied
    # tiny-task count on every shuffle-per-iteration and shuffle-
    # before-write path (and partition count becomes FILE count on
    # write paths, guide §6). The one shuffle that genuinely needs
    # rows-per-byte parallelism (the winnow pair aggregation, whose
    # all-long shuffle compresses below the floor) now pins its own
    # parallelism with an explicit keyed repartition at the operator
    # (operators/text.py::winnow_pairs_from_rows) — guide §1.2 order:
    # fix the operator, not the global config.
    # Dimension tables (region/nation/customer/... and the reference's
    # 150-row terminals, ~200-row cards) must broadcast in star joins.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for any pandas interchange (extension operators).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics for oracle comparison.
    "spark.sql.session.timeZone": "UTC",
    # Parquet scans: vectorized reader + pushdown are on by default;
    # keep file-open cost amortized for many-small-file staging dirs.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # ANSI off: the engine matches the reference's permissive casts
    # (e.g. malformed comma-decimal rows become NULL, not errors).
    "spark.sql.ansi.enabled": "false",
    # Python DataSource filter pushdown (deltalog/iceberglog sources
    # skip files from log stats / manifest bounds at planning time).
    "spark.sql.python.filterPushdown.enabled": "true",
}


def get_spark(
    app_name: str = "etl_processing_scd1_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. ``shuffle_partitions`` defaults to the local core
    count — on a real cluster, pass ~2-3× total executor cores or
    rely on AQE coalescing from a larger initial value.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions)
    )
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence[object]], schema: StructType | str
) -> DataFrame:
    """Driver-side rows as a ``LocalRelation``: one Arrow table, no
    Python worker. ``createDataFrame(list)`` plans a ``LogicalRDD``
    over ``sc.parallelize``, so every action on it waits on a Python
    worker per partition; an Arrow table under
    ``spark.sql.execution.arrow.localRelationThreshold`` is inlined
    into the plan instead.

    Values go through the type's own ``toInternal`` first, exactly as
    on the list path: a naive ``datetime`` is local time, a date is
    an epoch day. A row whose length differs from the schema raises.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    width = len(schema.fields)
    for r in rows:
        if len(r) != width:
            raise ValueError(f"row of {len(r)} values for a {width}-column schema: {r!r}")
    columns = list(zip(*rows)) if rows else [()] * width
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [
            pa.array(
                [None if v is None else f.dataType.toInternal(v) for v in values]
                if f.dataType.needConversion()
                else list(values),
                type=t,
            )
            for f, t, values in zip(schema.fields, arrow.types, columns)
        ],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)

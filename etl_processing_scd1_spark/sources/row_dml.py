"""Row-level DELETE, UPDATE and MERGE over a log-structured table,
written once for Delta (``delta.py``) and Iceberg (``iceberg.py``).

A statement scans the table's visible rows with their ``__fp``/
``__pos`` scan keys (:func:`table_files.with_scan_keys`), collects the
positions it kills per data file on the driver (one position per
changed row — the bitmap-scale contract of both formats' deletion
vectors), builds the rows it writes, and hands both to the format's
``commit``. No data file is rewritten: cost is O(changed rows) plus
one scan (DELETE, UPDATE) or one join (MERGE), never O(table).

What each format encodes itself stays in its adapter, a
:class:`TableLog`: Delta writes deletion vectors and stages add
actions; Iceberg writes a v3 puffin deletion vector or a v2
position-delete file plus its data manifest.

A rewritten row keeps its row identity (Delta row tracking, Iceberg
v3 row lineage): when the log keeps row ids, the rows handed to
``commit`` carry ``_row_id`` — the old id for a rewritten row, NULL
for a new one — and the format stores it as its materialized row-id
column. The scan derives ids from per-file constants
(:func:`table_files.per_file`), so the kill collection, which reads
only ``__fp``/``__pos``, prunes them and pays nothing for them.
"""

from __future__ import annotations

import json
from typing import Callable, Protocol

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StructType


class TableLog(Protocol):
    """One snapshot of a table, as a statement reads and commits it."""

    #: the table's logical schema
    schema: StructType
    #: the version read; returned unchanged when nothing is committed
    version: int
    #: whether rows carry a stable ``_row_id``
    row_ids: bool

    def scan(self, row_ids: bool) -> DataFrame | None:
        """The visible rows, typed per ``schema``, with their
        ``__fp``/``__pos`` scan keys (None when the table has no data
        file); ``row_ids`` adds ``_row_id``."""

    def commit(self, kills: dict[str, list[int]], inserts: DataFrame | None,
               operation: str, params: dict) -> int:
        """One commit killing ``kills`` ({data file path: positions})
        and adding ``inserts``' rows → the new version (``version``
        when there is nothing to commit)."""


def _kill_positions(rows: DataFrame) -> dict[str, list[int]]:
    return {
        r["__fp"]: [int(p) for p in r["positions"]]
        for r in rows.groupBy("__fp")
        .agg(F.collect_list("__pos").alias("positions"))
        .collect()
    }


def _row(log: TableLog, values: dict[str, Column],
         row_id: Column | None) -> list[Column]:
    """The columns of a written row (``values``: the table's columns,
    typed per its schema), plus the carried ``_row_id`` when the log
    keeps row ids."""
    out = [values[c].alias(c) for c in log.schema.fieldNames()]
    if log.row_ids:
        out.append(row_id.alias("_row_id"))
    return out


def delete(log: TableLog, condition: str) -> int:
    """DELETE WHERE ``condition`` → the new version."""
    scan = log.scan(row_ids=False)
    kills = _kill_positions(scan.filter(condition)) if scan is not None else {}
    if not kills:
        return log.version
    return log.commit(kills, None, "DELETE", {"predicate": condition})


def update(log: TableLog, condition: str, set_exprs: dict[str, str],
           derive: Callable[[DataFrame], DataFrame] | None = None) -> int:
    """UPDATE SET ``set_exprs`` (column → SQL expression over the old
    row) WHERE ``condition`` → the new version. ``derive`` finishes the
    rewritten rows (Delta's generated columns)."""
    cols = log.schema.fieldNames()
    unknown = [c for c in set_exprs if c not in cols]
    if unknown:
        raise ValueError(f"SET columns {unknown} not in table schema {cols}")
    scan = log.scan(row_ids=log.row_ids)
    if scan is None:
        return log.version
    hits = scan.filter(condition)
    kills = _kill_positions(hits)
    if not kills:
        return log.version
    rewritten = hits.select(*_row(
        log,
        {f.name: F.expr(set_exprs[f.name]).cast(f.dataType)
         if f.name in set_exprs else F.col(f.name)
         for f in log.schema.fields},
        F.col("_row_id") if log.row_ids else None,
    ))
    if derive is not None:
        rewritten = derive(rewritten)
    return log.commit(
        kills, rewritten, "UPDATE",
        {"predicate": condition, "set": json.dumps(set_exprs, sort_keys=True)},
    )


def require_unique_keys(source: DataFrame, keys: list[str]) -> None:
    """SQL MERGE INTO raises when one target row matches several source
    rows; without this probe two same-key source rows would kill the
    target row once and insert BOTH, silently duplicating the key.
    groupBy treats NULL keys as equal — the same equivalence as the
    null-safe match of :func:`merge`. Cost: one agg on the (small,
    changed-rows-sized) source, short-circuited by limit(1)."""
    dup = (
        source.groupBy(*keys).agg(F.count(F.lit(1)).alias("__dup_n"))
        .filter(F.col("__dup_n") > 1)
        .limit(1).collect()
    )
    if dup:
        dup_key = {k: dup[0][k] for k in keys}
        raise ValueError(
            f"merge source has duplicate rows for key {dup_key} — "
            "MERGE requires key-unique sources (dedupe upstream, e.g. "
            "keep the latest row per key)"
        )


def merge(log: TableLog, source: DataFrame, keys: list[str],
          delete_missing: bool = False) -> int:
    """MERGE ``source`` (typed per ``log.schema``) into a table holding
    data files, matched on a null-safe equality of ``keys``:

    - matched + any payload column differs (null-safe) → the old row
      is killed and the source row inserted;
    - matched + identical → no-op (re-running the same merge commits
      nothing);
    - source key absent from the table → insert;
    - ``delete_missing=True`` → table rows whose key is absent from
      the source are killed (the SCD1 delete leg).
    """
    require_unique_keys(source, keys)
    cols = log.schema.fieldNames()
    types = {f.name: f.dataType for f in log.schema.fields}
    payload = [c for c in cols if c not in keys]
    t = log.scan(row_ids=log.row_ids).alias("t")
    s = source.alias("s")
    key_cond = None
    for k in keys:
        c = F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
        key_cond = c if key_cond is None else (key_cond & c)
    j = t.join(s, key_cond, "inner")

    def cmp_form(side: str, c: str):
        # maps have no equality in Spark: compare the canonical
        # sorted entry list instead (entry structs sort by key — map
        # keys are always orderable scalars)
        if isinstance(types[c], MapType):
            return F.array_sort(F.map_entries(F.col(f"{side}.{c}")))
        return F.col(f"{side}.{c}")

    diff = F.lit(False)
    for c in payload:
        diff = diff | ~cmp_form("t", c).eqNullSafe(cmp_form("s", c))
    changed = j.filter(diff)
    kills = changed.select(F.col("t.__fp").alias("__fp"),
                           F.col("t.__pos").alias("__pos"))
    if delete_missing:
        gone = t.join(s, key_cond, "left_anti").select("__fp", "__pos")
        kills = kills.unionByName(gone)
    upserts = changed.select(*_row(
        log, {c: F.col(f"s.{c}") for c in cols},
        F.col("t._row_id") if log.row_ids else None,
    ))
    inserts = s.join(t, key_cond, "left_anti").select(*_row(
        log, {c: F.col(c) for c in cols}, F.lit(None).cast("long"),
    ))
    return log.commit(
        _kill_positions(kills), upserts.unionByName(inserts), "MERGE",
        {"keys": ",".join(keys), "deleteMissing": delete_missing},
    )

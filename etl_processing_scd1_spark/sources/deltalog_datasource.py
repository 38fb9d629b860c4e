"""Delta tables as a first-class Spark data source — the Spark-4
Python DataSource API (``pyspark.sql.datasource``, public) wrapping
``sources/delta.py``'s transaction-log reader:

- batch: ``spark.read.format("deltalog").load(path)`` — snapshot
  read planned from the log (option ``versionAsOf`` time-travels);
- streaming: ``spark.readStream.format("deltalog").load(path)`` —
  the INCREMENTAL source: offsets are log versions, each micro-batch
  is exactly the files ADDED by commits in ``(start, end]``, so a
  downstream query processes appends exactly once through Structured
  Streaming's checkpointed offset log (the same contract as Delta's
  own streaming source; ``ignoreDeletes=true`` is implied — remove
  actions are compaction/overwrite bookkeeping the appends-stream
  consumer skips, and anything else needs CDF via ``delta_changes``).

The readers, writers and executor read are the shared
``log_datasource`` family; this module supplies the Delta side:
log-replay planning, deletion vectors, column-mapping resolution,
hive partition layout, per-file stats and the log commit. Partition
values (hive-dir encoded, absent from the files) are reattached per
partition from the add-action's ``partitionValues`` — constants,
cast per the table's schemaString.

Register per session:
``spark.dataSource.register(DeltaLogDataSource)``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.types import StructType

from .delta import _replay, delta_table_version
from .log_datasource import LogDataSource, LogFile, hive_dirs


def _hive_eq(value, raw: str):
    """Typed compare of a pushed equality value against a hive
    ``partitionValues`` string. Returns True/False when the compare
    is reliable, None when it isn't (then DON'T prune — skipping is
    a superset guarantee, Spark still evaluates the filter on rows).
    Spark hive-encodes booleans as 'true'/'false' and large floats in
    Java notation ('1.0E20'), so a naive ``str(value)`` comparison
    ('True', '1e+20') would prune every matching file and silently
    return empty results."""
    if isinstance(value, bool):  # before int: bool subclasses int
        return raw.lower() == ("true" if value else "false")
    if isinstance(value, int):
        try:
            return int(raw) == value
        except ValueError:
            return None
    if isinstance(value, str):
        return raw == value
    return None  # float et al: Java vs Python repr differ


class DeltaLogDataSource(LogDataSource):
    """``format("deltalog")`` — see module docstring. Options:
    ``path`` (required), ``versionAsOf`` (batch time travel),
    ``startingVersion`` (stream start; default −1 = from the
    beginning, i.e. the first batch carries the current snapshot's
    whole history of adds; change-feed batch default 0),
    ``maxVersionsPerBatch`` (stream rate limit), ``partitionBy``
    (write) and ``txnAppId`` (stream writer identity; default
    'deltalog-stream')."""

    stream_start = -1
    cdf_start = 0
    app_id_option = "txnappid"

    @classmethod
    def name(cls) -> str:
        return "deltalog"

    def table_schema(self) -> StructType:
        snap = _replay(None, self._path(), self._version())
        return StructType.fromJson(json.loads(snap.metadata["schemaString"]))

    def latest_version(self) -> int:
        return delta_table_version(self._path())

    def _files(self, snap):
        """``(rel, add, **kw) -> LogFile`` for data files of ``snap``'s
        table. On a column-mapped table, files, ``partitionValues``
        keys and stats use PHYSICAL names, so the read resolves them
        to logical ones — by parquet footer field id first in id mode
        (the spec's id-mode rule; name mode matches physical names
        even when ids are present in the footers), else by
        physicalName."""
        cm = snap.column_mapping or {}
        mode = (snap.metadata.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        ids = (snap.column_mapping_ids or {}) if mode == "id" else {}
        logical = {p: c for c, p in cm.items()}
        resolve = {c: (ids.get(c), [p]) for c, p in cm.items()} or None
        root = self._path()
        return lambda rel, add, **kw: LogFile(
            os.path.join(root, rel),
            {logical.get(k, k): v
             for k, v in (add.get("partitionValues") or {}).items()},
            resolve, **kw,
        )

    def snapshot_files(self, predicates: dict) -> list:
        from .delta import _stats_prune, read_deletion_vector

        path = self._path()
        # _replay is log-file-only (its spark param is unused — the
        # snapshot is driver-side metadata); None keeps this planner
        # independent of an active session
        snap = _replay(None, path, self._version())
        # stats and partitionValues are keyed by PHYSICAL names on a
        # column-mapped table; pushed filters use logical ones
        preds = snap.to_physical(predicates)

        def part_prune(add) -> bool:
            pv = add.get("partitionValues") or {}
            return any(
                col in pv and pv[col] is not None and lo is not None
                and lo == hi and _hive_eq(lo, pv[col]) is False
                for col, (lo, hi) in preds.items()
            )

        file = self._files(snap)
        return [
            file(
                p, add,
                exclude=read_deletion_vector(path, add["deletionVector"])
                if add.get("deletionVector") else None,
            )
            for p, add in sorted(snap.files.items())
            if not _stats_prune(add, preds) and not part_prune(add)
        ]

    def appended_files(self, lo: int, hi: int) -> list:
        from .delta import _commit_file, _read_actions

        file = self._files(_replay(None, self._path(), hi))
        parts = []
        for v in range(lo + 1, hi + 1):
            f = _commit_file(self._path(), v)
            if not os.path.exists(f):
                continue
            with open(f) as fh:
                # a DV re-add is row-removal bookkeeping, not an
                # append; the appends-stream consumer skips it
                # (ignoreDeletes contract)
                parts += [
                    file(a["add"]["path"], a["add"])
                    for a in _read_actions(fh)
                    if "add" in a and not a["add"].get("deletionVector")
                ]
        return parts

    def changed_files(self, lo: int, hi: int) -> list:
        """Change-feed planning for one ``(lo, hi]`` window (same
        semantics as ``delta_changes``): file adds as inserts and
        removes as deletes, each minus the relevant ENDPOINT's
        deletion vector; deletion-vector deltas as exact row
        deletes."""
        from .delta import _dv_positions, _plan_changes

        path = self._path()
        snap, start_snap, added, removed, row_dels = _plan_changes(
            path, lo, hi
        )
        file = self._files(snap)
        parts = []
        for files, change, src in (
            (added, "insert", snap), (removed, "delete", start_snap),
        ):
            for p, v in sorted(files.items()):
                add = (src.files if src is not None else {}).get(p) or {}
                excl = _dv_positions(path, src, p)
                parts.append(file(
                    p, add, change=(change, int(v)),
                    exclude=sorted(excl) if excl else None,
                ))
        for v, per_path in sorted(row_dels.items()):
            for p, poss in sorted(per_path.items()):
                parts.append(file(
                    p, snap.files.get(p) or {},
                    change=("delete", int(v)), include=sorted(poss),
                ))
        return parts

    def write_plan(self, schema: StructType) -> tuple[list[str], None]:
        """Validate a write against the log BEFORE executors write a
        single file — append without partitionBy must inherit the
        table's spec, or foreign Delta readers reconstructing
        partition columns from partitionValues would see an
        unpartitioned corruption."""
        from .delta import _generated_exprs, _identity_specs, _list_versions

        part = self.options.get("partitionby")
        partition_by = [c.strip() for c in part.split(",")] if part else []
        if not _list_versions(self._path()):
            return partition_by, None
        snap = _replay(None, self._path(), None)
        if snap.column_mapping:
            # executors write files named by the DataFrame's logical
            # columns — physically wrong for a mapped table;
            # write_delta_table handles the renames
            raise ValueError(
                "deltalog write: column-mapped tables are not "
                "writable through the DataSource — use "
                "write_delta_table (it renames columns to their "
                "physicalNames)"
            )
        # executor-side Arrow tasks can't evaluate the table's SQL
        # enforcement expressions; committing unvalidated rows would
        # silently break the CHECK / generation contract — refuse
        # loudly and point at the enforcing writer
        cfg = snap.metadata.get("configuration") or {}
        ck = sorted(
            k.split("delta.constraints.", 1)[1]
            for k in cfg if k.startswith("delta.constraints.")
        )
        if ck:
            raise ValueError(
                f"deltalog write: table carries CHECK constraint(s) "
                f"{ck}, which this writer cannot enforce — use "
                "write_delta_table"
            )
        gen = _generated_exprs(snap.metadata)
        if gen:
            raise ValueError(
                f"deltalog write: table has generated column(s) "
                f"{sorted(gen)}, which this writer cannot compute or "
                "validate — use write_delta_table"
            )
        ident = _identity_specs(snap.metadata)
        if ident:
            raise ValueError(
                f"deltalog write: table has identity column(s) "
                f"{sorted(ident)} (GENERATED ALWAYS) — executor-side "
                "tasks cannot allocate high-water-mark-correct "
                "values; use write_delta_table"
            )
        names = [f.name for f in schema.fields]
        table_names = [
            f["name"] for f in json.loads(snap.metadata["schemaString"])["fields"]
        ]
        if names != table_names:
            raise ValueError(
                f"deltalog write: DataFrame columns {names} do not match "
                f"the table schema {table_names}"
            )
        if not partition_by:
            partition_by = list(snap.partition_columns)
        elif partition_by != list(snap.partition_columns):
            raise ValueError(
                f"deltalog write: partitionBy {partition_by} conflicts "
                f"with the table's spec {list(snap.partition_columns)}"
            )
        return partition_by, None

    @staticmethod
    def data_file(writer, kv: dict, piece) -> tuple:
        """Executor-side: hive-dir layout, partition columns dropped
        from the file → ``(rel_path, size, partitionValues,
        stats_json)``."""
        from .delta import _stats_json
        from .table_files import footer_stats

        rel, dest = writer.put(
            "/".join(hive_dirs(kv)), piece.drop_columns(writer.partition_by)
        )
        part = {c: (None if v is None else str(v)) for c, v in kv.items()}
        return rel, os.path.getsize(dest), part, _stats_json(footer_stats(dest))

    def commit_files(self, writer, files: list, stream) -> None:
        """One put-if-absent log commit of ``files`` (protocol +
        metaData on a first commit, removes of every live file on
        overwrite); a stream commit carries the spec's ``txn``
        watermark ``(appId, version=batchId)``."""
        import time
        import uuid

        from .delta import _atomic_commit, _list_versions, _remove_action

        path = self._path()
        now_ms = int(time.time() * 1000)
        versions = _list_versions(path)
        actions: list[dict] = []
        if not versions:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
            actions.append({"metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": writer.schema_.json(),
                "partitionColumns": writer.partition_by,
                "configuration": {},
                "createdTime": now_ms,
            }})
        elif writer.overwrite:
            snap = _replay(None, path, versions[-1])
            actions += [
                {"remove": _remove_action(p, snap.files[p], now_ms)}
                for p in sorted(snap.files)
            ]
        actions += [
            {"add": {
                "path": rel,
                "partitionValues": part,
                "size": size,
                "modificationTime": now_ms,
                "dataChange": True,
                "stats": stats,
            }}
            for rel, size, part, stats in files
        ]
        if stream is not None:
            actions.append({"txn": {"appId": stream[0], "version": stream[1]}})
        actions.append({"commitInfo": {
            "timestamp": now_ms,
            "operation": "STREAMING UPDATE" if stream else "WRITE",
            "operationParameters": {
                "mode": "overwrite" if writer.overwrite else "append"
            },
            "engineInfo": "etl-processing-scd1-spark deltalog datasource",
        }})
        _atomic_commit(path, (versions[-1] + 1) if versions else 0, actions)

    def last_batch_id(self, app_id: str) -> int:
        from .delta import delta_last_txn_version

        return delta_last_txn_version(None, self._path(), app_id)

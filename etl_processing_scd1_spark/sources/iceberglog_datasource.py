"""Iceberg tables as a first-class Spark data source — the Spark-4
Python DataSource API twin of ``deltalog_datasource``:

- batch: ``spark.read.format("iceberglog").load(path)`` — snapshot
  read planned from the manifest tree (options ``versionAsOf`` /
  ``snapshotId`` / ``ref`` time-travel);
- streaming: ``spark.readStream.format("iceberglog").load(path)``
  — incremental appends: offsets are METADATA VERSIONS; a micro
  batch carries exactly the data files whose manifest entries were
  ADDED by snapshots committed in ``(start, end]`` (the
  appends-stream contract — overwrite/replace snapshots surface
  their added files too; row-level deletes are skipped).

The readers, writers and executor read are the shared
``log_datasource`` family; this module supplies the Iceberg side:
manifest planning, position/equality delete files and deletion
vectors, field-id + name-mapping resolution, the ``data/`` layout
with footer bounds, and the snapshot commit. Identity-partition
constants are reattached from the manifest's typed partition tuple
when a file omits the column (hive-migrated layouts).

Register per session:
``spark.dataSource.register(IcebergLogDataSource)``.
"""

from __future__ import annotations

from pyspark.sql.types import StructType

from .avro import load_avro
from .iceberg import (
    _field_defaults,
    _field_names_by_id,
    _load_metadata,
    _name_candidates,
    _norm_path,
    _snapshot_files,
    _spark_schema,
    iceberg_table_version,
)
from .log_datasource import LogDataSource, LogFile, hive_dirs


def _exact_pd(tbl):
    """Arrow → pandas with integer columns as NULLABLE extension
    dtypes: the default null-promotion to float64 silently
    mis-compares join keys beyond 2^53 (two distinct snowflake-scale
    ids collide after rounding). pandas merge matches NA==NA on
    extension-dtype keys — Iceberg's null-equals-null delete rule —
    verified alongside the 2^53+1 vs 2^53 distinction."""
    import pandas as pd
    import pyarrow as pa

    mapper = {
        pa.int8(): pd.Int8Dtype(),
        pa.int16(): pd.Int16Dtype(),
        pa.int32(): pd.Int32Dtype(),
        pa.int64(): pd.Int64Dtype(),
    }.get
    return tbl.to_pandas(types_mapper=mapper)


def _eq_match_idx(tbl, dpath: str, sel: dict):
    """Row indexes of ``tbl`` whose key columns appear in the
    equality-delete parquet at ``dpath`` (``sel``: current logical
    name → the file's physical column, planner-resolved through
    footer field ids / name-mapping, like data files). pandas merge
    matches NaN==NaN on join keys — Iceberg's null-equals-null delete
    rule."""
    import numpy as np
    import pyarrow.parquet as pq

    cols = list(sel)
    keys_pd = _exact_pd(
        pq.read_table(dpath, columns=list(sel.values()))
    ).rename(columns={p: c for c, p in sel.items()})
    keys_pd = keys_pd.drop_duplicates()
    present = [c for c in cols if c in tbl.column_names]
    data_pd = _exact_pd(tbl.select(present))
    for c in cols:
        if c not in present:
            # a pre-evolution data file may LACK a key column added
            # later: its rows carry NULL there (spec read semantics),
            # and NULL matches a NULL delete key
            data_pd[c] = keys_pd[c].iloc[0:0].reindex(range(len(data_pd)))
    data_pd["__idx"] = np.arange(len(data_pd), dtype=np.int64)
    merged = data_pd.merge(keys_pd, on=list(cols), how="left",
                           indicator=True)
    return merged.loc[merged["_merge"] == "both", "__idx"].to_numpy()


def _eq_filter(tbl, descriptors: list, keep_matches: bool):
    """Filter by the UNION of the delete files' key matches:
    ``keep_matches=False`` drops every matched row (anti — the
    snapshot-scan semantics), ``True`` keeps only matched rows (semi
    — the changelog's erased-row images)."""
    import numpy as np
    import pyarrow as pa

    matched = np.unique(np.concatenate(
        [_eq_match_idx(tbl, dpath, cols) for dpath, cols in descriptors]
    )) if descriptors else np.empty(0, dtype=np.int64)
    if keep_matches:
        keep = matched.astype(np.int64)
    else:
        keep = np.setdiff1d(
            np.arange(tbl.num_rows, dtype=np.int64),
            matched.astype(np.int64),
            assume_unique=True,
        )
    if len(keep) == tbl.num_rows:
        return tbl
    return tbl.take(pa.array(np.sort(keep)))


def _resolve_map(meta: dict) -> dict:
    """logical name → (field_id, [historical names]) for rename-safe
    executor-side column resolution: the spec's match-by-field-id
    rule with the ``schema.name-mapping.default`` fallback for files
    written without parquet field ids."""
    cands = _name_candidates(meta)
    return {
        name: (fid, cands.get(name, [name]))
        for fid, name in _field_names_by_id(meta).items()
    }


def _file_constants(meta: dict):
    """partition tuple → the per-file constants of a data file, the
    same for all three planners: its non-null partition values over
    the v3 §Default Values initial-defaults (the executor fills a
    constant ONLY when the file's footer lacks the column — files
    predating the column read the default, newer files' explicit NULLs
    stay NULL)."""
    defaults = {c: v for c, (v, _t) in _field_defaults(meta).items()}
    return lambda part: {
        **defaults,
        **{c: v for c, v in (part or {}).items() if v is not None},
    }


class IcebergLogDataSource(LogDataSource):
    """``format("iceberglog")`` — see module docstring. Options:
    ``path`` (required); batch: ``versionAsOf`` (metadata version),
    ``snapshotId``, ``ref`` (tag/branch); streaming:
    ``startingVersion`` (default 0 = from the beginning — the first
    batch carries every snapshot's adds; change-feed batch default 1)
    and ``maxVersionsPerBatch``; write: ``partitionBy`` and ``appId``
    (stream writer identity; default 'iceberglog-stream')."""

    stream_start = 0
    cdf_start = 1
    app_id_option = "appid"

    @classmethod
    def name(cls) -> str:
        return "iceberglog"

    def table_schema(self) -> StructType:
        return _spark_schema(_load_metadata(self._path(), self._version()))

    def latest_version(self) -> int:
        return iceberg_table_version(self._path())

    def snapshot_files(self, predicates: dict) -> list:
        from .iceberg import _resolve_delete_file_columns, iceberg_ref_snapshot

        path = self._path()
        sid = self.options.get("snapshotid")
        ref = self.options.get("ref")
        if ref is not None:
            # .option("ref", "audit"): tag/branch reads (spec §Snapshot
            # References) — resolved driver-side to a snapshot id once
            if sid is not None or self._version() is not None:
                raise ValueError(
                    "iceberglog: 'ref' is exclusive with 'snapshotId' "
                    "and 'versionAsOf'"
                )
            sid = iceberg_ref_snapshot(path, ref)
        meta = _load_metadata(path, self._version())
        _, files, deletes = _snapshot_files(
            path, meta, int(sid) if sid is not None else None, predicates
        )
        by_file: dict[str, list[int]] = {}
        dvs = [d for d in deletes if d.get("dv")]
        if dvs:
            # format v3 deletion vectors: newest sequence per data
            # file wins; blobs are bitmap-scale driver reads
            from .puffin import decode_dv_blob, read_blob

            best: dict[str, dict] = {}
            for d in sorted(dvs, key=lambda d: (d["seq"], d["path"])):
                best[_norm_path(str(d["dv"]["referenced"]), path)] = d
            for ref_path, d in best.items():
                by_file.setdefault(ref_path, []).extend(
                    decode_dv_blob(read_blob(
                        d["path"], d["dv"]["offset"], d["dv"]["size"]
                    ))
                )
        pos_paths = sorted(
            d["path"] for d in deletes
            if d["content"] == 1 and not d.get("dv")
        )
        if pos_paths:
            # Delete files are metadata-scale (one (path, pos) row per
            # deleted row, heavily compressed); the driver reads them
            # once at planning time and ships each data file ONLY its
            # own vector — same planning contract as native clients.
            import pyarrow.parquet as pq

            for dp in pos_paths:
                t = pq.read_table(dp, columns=["file_path", "pos"])
                for fp, pos in zip(
                    t.column("file_path").to_pylist(),
                    t.column("pos").to_pylist(),
                ):
                    by_file.setdefault(_norm_path(str(fp), path), []) \
                        .append(int(pos))
        eq_dels = sorted(
            (d for d in deletes if d["content"] == 2),
            key=lambda d: (d["seq"], d["path"]),
        )
        by_id = _field_names_by_id(meta) if eq_dels else {}
        # column resolution (field ids / name-mapping → the file's
        # physical names) happens HERE on the driver, once per delete
        # file, so renames never orphan a live delete
        eq_sel = {
            d["path"]: _resolve_delete_file_columns(
                d["path"], d["equality_ids"], by_id, meta
            )
            for d in eq_dels
        }

        def eq_for(file_seq: int):
            # strict bound: an equality delete erases only rows of
            # data files with a SMALLER sequence number
            out = [(d["path"], eq_sel[d["path"]])
                   for d in eq_dels if d["seq"] > file_seq]
            return (out, None) if out else None

        resolve, constants = _resolve_map(meta), _file_constants(meta)
        return [
            LogFile(
                p, constants(part), resolve,
                exclude=by_file.get(p), row_filter=eq_for(seq),
            )
            for p, part, seq in sorted(files)
        ]

    def appended_files(self, lo: int, hi: int) -> list:
        path = self._path()
        end_meta = _load_metadata(path, hi)
        try:
            start_meta = _load_metadata(path, lo) if lo >= 1 else None
        except ValueError:
            start_meta = None  # expired metadata: treat as from-scratch
        seen = {
            s["snapshot-id"] for s in (start_meta or {}).get("snapshots", [])
        }
        resolve, constants = _resolve_map(end_meta), _file_constants(end_meta)
        parts = []
        for s in end_meta.get("snapshots", []):
            sid = s["snapshot-id"]
            if sid in seen:
                continue
            _, manifests = load_avro(_norm_path(s["manifest-list"], path))
            for mf in manifests:
                if mf.get("added_snapshot_id") != sid:
                    continue  # carried manifest from an earlier snapshot
                if mf.get("content", 0) == 1:
                    # v2 delete manifest: the appends-stream consumer
                    # skips row-level deletes (same contract as
                    # deltalog's implied ignoreDeletes)
                    continue
                _, entries = load_avro(_norm_path(mf["manifest_path"], path))
                parts += [
                    LogFile(_norm_path(e["data_file"]["file_path"], path),
                            constants(e["data_file"].get("partition")),
                            resolve)
                    for e in entries
                    if e["status"] == 0 and e.get("snapshot_id") == sid
                    and e["data_file"].get("content", 0) == 0
                ]
        return parts

    def changed_files(self, lo: int, hi: int) -> list:
        """Per-snapshot changes of ``(lo, hi]`` (``_plan_ice_changes``).
        Equality-delete interplay is deferred from the planner
        (metadata-only) to the executor task: ``eq_prior`` (delete
        path, key columns) pairs re-establish which rows were still
        ALIVE at the window start (anti-join), and ``eq_new`` — set
        only for 'eq_row_delete' events — selects the rows the
        commit's fresh equality delete erased (semi-join)."""
        from .iceberg import _plan_ice_changes

        if hi < 1:
            return []
        meta = _load_metadata(self._path(), hi)
        resolve, constants = _resolve_map(meta), _file_constants(meta)
        return [
            LogFile(
                e["path"], constants(e["partition"]), resolve,
                include=e.get("include"), exclude=e.get("exclude"),
                change=("insert" if e["type"] == "insert" else "delete",
                        int(e["version"])),
                row_filter=(e.get("eq_prior"), e.get("eq_new")),
            )
            for e in _plan_ice_changes(self._path(), lo, hi)
        ]

    def filter_rows(self, tbl, row_filter):
        """Equality deletes: ``(anti, semi)`` lists of (delete file,
        key columns) — rows erased before the window dropped, then
        (changelog 'eq_row_delete') only the freshly erased rows
        kept."""
        anti, semi = row_filter or (None, None)
        if anti:
            tbl = _eq_filter(tbl, anti, keep_matches=False)
        if semi:
            tbl = _eq_filter(tbl, semi, keep_matches=True)
        return tbl

    def write_plan(self, schema: StructType) -> tuple[list[str], dict]:
        """``partitionBy`` validated DRIVER-SIDE (an executor-side
        KeyError on a nested/unknown partition column would surface as
        an opaque task failure after data was already staged), and
        field ids resolved from the table metadata so executor-computed
        footer bounds key correctly on evolved tables (positional only
        for a first commit)."""
        from .iceberg import (
            _list_meta_versions,
            _resolved_field_ids,
            _scalar_ice_types,
        )

        part = self.options.get("partitionby")
        partition_by = [c.strip() for c in part.split(",")] if part else []
        scalars = _scalar_ice_types(schema)
        for c in partition_by:
            if c not in scalars:
                raise ValueError(
                    f"partitionBy column {c!r} is not a scalar column "
                    f"of the write schema {schema.fieldNames()} — "
                    "identity partitioning applies to scalar columns "
                    "only"
                )
        ids = None
        if _list_meta_versions(self._path()):
            ids = _resolved_field_ids(_load_metadata(self._path(), None), schema)
        return partition_by, ids or {
            f.name: i + 1 for i, f in enumerate(schema.fields)
        }

    @staticmethod
    def data_file(writer, kv: dict, piece) -> tuple:
        """Executor-side: files under ``data/`` KEEP all columns
        (identity sources are data columns per the spec; dirs use
        shadow names), footer bounds keyed by the driver-resolved
        field ids → ``(abs_path, partition_values, record_count, size,
        lo, hi)``."""
        import os

        from .iceberg import _footer_bounds, _scalar_ice_types, _typed_part_value
        from .table_files import footer_stats

        # scalar columns only: nested columns get no footer bounds and
        # cannot be identity-partition sources (same contract as the
        # batch writer's _stage_data_files)
        ice_types = _scalar_ice_types(writer.schema_)
        _, dest = writer.put("/".join(["data"] + hive_dirs(kv, "_p_")), piece)
        fs = footer_stats(dest)
        part_values = {
            c: (None if v is None else _typed_part_value(str(v), ice_types[c]))
            for c, v in kv.items()
        }
        return (dest, part_values, fs.num_rows, os.path.getsize(dest),
                *_footer_bounds(fs, writer.ctx, ice_types))

    def commit_files(self, writer, files: list, stream) -> None:
        """One manifest + manifest list + snapshot + put-if-absent
        metadata commit (``_commit_snapshot`` — shared with the batch
        writer). Appends require the DataFrame schema to equal the
        table schema (the evolution path lives in
        ``write_iceberg_table``). A stream commit always appends and
        records ``streaming-app-id`` / ``streaming-batch-id`` in the
        snapshot summary (the watermark Flink's Iceberg sink uses)."""
        from .iceberg import (
            IcebergProtocolError,
            _commit_snapshot,
            _latest_version,
        )

        base = _latest_version(self._path(), missing_ok=True)
        if base:
            prev = _load_metadata(self._path(), base)
            if [f.name for f in _spark_schema(prev).fields] != \
                    [f.name for f in writer.schema_.fields]:
                raise IcebergProtocolError(
                    "iceberglog writer appends require the DataFrame schema "
                    "to match the table schema (use write_iceberg_table for "
                    "add-column evolution)"
                )
            spec_fields = prev["partition-specs"][0]["fields"]
            if any(
                f.get("transform", "identity") != "identity"
                for f in spec_fields
            ):
                # the executor write-half groups Arrow batches by the
                # partition COLUMNS; transformed tuples (bucket/
                # truncate/temporal) need the transform expressions —
                # write_iceberg_table computes them
                raise ValueError(
                    "iceberglog write: transform-partitioned tables are "
                    "not writable through the DataSource — use "
                    "write_iceberg_table"
                )
            partition_by = [f["name"] for f in spec_fields]
        else:
            prev, partition_by = None, writer.partition_by
        _commit_snapshot(
            self._path(),
            writer.schema_,
            partition_by,
            "overwrite" if writer.overwrite and stream is None else "append",
            files,
            {"streaming-app-id": stream[0], "streaming-batch-id": stream[1]}
            if stream else None,
            base,
            prev,
        )

    def last_batch_id(self, app_id: str) -> int:
        from .iceberg import iceberg_last_batch_id

        return iceberg_last_batch_id(self._path(), app_id)

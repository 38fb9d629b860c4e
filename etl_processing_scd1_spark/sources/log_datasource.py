"""One Spark-4 Python DataSource family for log-structured tables —
the format-independent half of ``format("deltalog")``
(``deltalog_datasource``) and ``format("iceberglog")``
(``iceberglog_datasource``):

- batch snapshot reads (with ``pushFilters`` file skipping on
  sessions that enable Python DataSource pushdown);
- INCREMENTAL streaming sources whose offsets are table versions,
  for appends and for the change feed (``readChangeFeed``), rate
  limited by ``maxVersionsPerBatch``;
- batch change-feed windows (``startingVersion``/``endingVersion``);
- the WRITE half: executors stream Arrow batches into uniquely-named
  parquet files and report them in commit messages, the driver folds
  the messages into one put-if-absent log commit (``abort`` deletes
  the orphans); the stream writer drops replayed micro-batches.

A format subclasses ``LogDataSource`` and supplies only what the
format decides: ``table_schema``/``latest_version``, the three
planners (``snapshot_files``, ``appended_files``, ``changed_files``
→ ``LogFile`` partitions), the executor row filter for its delete
files (``filter_rows``), write validation (``write_plan``), file
layout + stats (``data_file``), the log commit (``commit_files``),
the replay watermark (``last_batch_id``) and its option defaults.

Scale shape: the driver touches only metadata (file lists); one
``InputPartition`` per data file, read executor-side with pyarrow
into Arrow RecordBatches (zero row-by-row Python).
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

CDF_COLUMNS = ("_change_type", "_commit_version")


def filters_to_ranges(filters) -> tuple[dict, list]:
    """Comparison filters on top-level columns → ``{col: (lo, hi)}``
    inclusive ranges for metadata file-skipping. Returns the ranges
    and the pushed filters (a file-skipping push is a SUPERSET
    guarantee, so every filter is also returned to Spark for exact
    row evaluation — the API's partial-pushdown contract)."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        LessThan,
        LessThanOrEqual,
    )

    ranges: dict = {}
    pushed = []

    def merge(col, lo, hi):
        cur_lo, cur_hi = ranges.get(col, (None, None))
        if lo is not None and (cur_lo is None or lo > cur_lo):
            cur_lo = lo
        if hi is not None and (cur_hi is None or hi < cur_hi):
            cur_hi = hi
        ranges[col] = (cur_lo, cur_hi)

    for f in filters:
        if len(getattr(f, "attribute", ())) != 1:
            continue
        col = f.attribute[0]
        v = getattr(f, "value", None)
        if not isinstance(v, (int, float, str, bool)):
            continue
        if isinstance(f, EqualTo):
            merge(col, v, v)
        elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            merge(col, v, None)  # strict vs inclusive: superset either way
        elif isinstance(f, (LessThan, LessThanOrEqual)):
            merge(col, None, v)
        else:
            continue
        pushed.append(f)
    return ranges, pushed


def pushdown_enabled() -> bool:
    """True iff the ACTIVE session allows Python DataSource filter
    pushdown. pyspark hard-fails planning with
    ``[DATA_SOURCE_PUSHDOWN_DISABLED]`` whenever a reader merely
    OVERRIDES ``DataSourceReader.pushFilters`` while
    ``spark.sql.python.filterPushdown.enabled`` is false — and false
    is the default, so a plain SparkSession (the driver's) would
    error on the read. Pushdown is an optimization; correctness must
    never depend on a session conf, so ``reader()`` consults this and
    hands back a reader class that does NOT override ``pushFilters``
    when the conf is off (file-skipping is skipped, every file is
    read, Spark still filters rows — same answer, more IO)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return False
    try:
        val = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    except Exception:
        return False
    return str(val).lower() == "true"


def hive_dirs(kv: dict, prefix: str = "") -> list[str]:
    """Hive-style ``<prefix><col>=<value>`` directory segments of one
    partition tuple (NULL → ``__HIVE_DEFAULT_PARTITION__``)."""
    return [
        f"{prefix}{c}={v if v is not None else '__HIVE_DEFAULT_PARTITION__'}"
        for c, v in sorted(kv.items())
    ]


class LogFile(InputPartition):
    """One data file's share of a scan, planned driver-side. An empty
    ``path`` is the sentinel for an empty micro-batch (Structured
    Streaming requires >= 1 partition per batch)."""

    def __init__(self, path: str, values: dict | None = None,
                 resolve: dict | None = None,
                 include: list | None = None,
                 exclude: list | None = None,
                 change: tuple | None = None,
                 row_filter=None):
        self.path = path
        # logical column -> constant for columns the file lacks
        # (partition values, column defaults)
        self.values = values or {}
        # logical name -> (field id | None, [candidate physical names]):
        # footer field id first, then the first candidate present
        self.resolve = resolve
        # include set → emit ONLY those row indexes; else the file
        # minus exclude (deletion vectors, position deletes)
        self.include = include
        self.exclude = exclude
        # change feed: (_change_type, _commit_version) constants
        self.change = change
        # format payload for LogDataSource.filter_rows (e.g. equality
        # delete files), applied after the position filter
        self.row_filter = row_filter


def _resolve_columns(tbl, res: dict | None):
    """Rename a data file's physical columns to the CURRENT logical
    names: match by parquet ``field_id`` metadata first, then by the
    first candidate name the file carries. Files already carrying the
    current names pass through untouched."""
    if not res:
        return tbl
    fid_to_col = {}
    for f in tbl.schema:
        v = (f.metadata or {}).get(b"PARQUET:field_id")
        if v is not None:
            try:
                fid_to_col[int(v)] = f.name
            except ValueError:
                pass
    renames = {}
    for logical, (fid, cands) in res.items():
        src = fid_to_col.get(fid) if fid is not None else None
        if src is None:
            src = next((c for c in cands if c in tbl.column_names), None)
        if src is not None and src != logical:
            renames[src] = logical
    if renames:
        tbl = tbl.rename_columns(
            [renames.get(c, c) for c in tbl.column_names]
        )
    return tbl


def read_log_file(source: "LogDataSource", schema: StructType,
                  part: LogFile):
    """Executor-side: one data file → Arrow RecordBatches carrying ALL
    schema columns. Columns resolve to logical names, the position
    filter and the format's row filter drop dead rows, then columns
    the file lacks are filled from ``part.values`` (cast per the
    table schema) or NULL, and change-feed rows get their two
    constant CDF columns."""
    if not part.path:
        return
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    tbl = _resolve_columns(pq.read_table(part.path), part.resolve)
    if part.include is not None:
        tbl = tbl.take(pa.array(
            np.asarray(sorted(part.include), dtype=np.int64)
        ))
    elif part.exclude:
        dead = np.asarray(sorted(part.exclude), dtype=np.int64)
        keep = np.setdiff1d(
            np.arange(tbl.num_rows, dtype=np.int64), dead, assume_unique=True
        )
        tbl = tbl.take(pa.array(keep))
    tbl = source.filter_rows(tbl, part.row_filter)
    want = to_arrow_schema(schema)
    consts = dict(zip(CDF_COLUMNS, part.change or ()))
    n = tbl.num_rows
    arrays = []
    for field in want:
        if field.name in consts:
            arrays.append(pa.repeat(
                pa.scalar(consts[field.name], type=field.type), n
            ))
        elif field.name in tbl.column_names:
            col = tbl.column(field.name)
            arrays.append(col if col.type == field.type
                          else col.cast(field.type))
        else:
            raw = part.values.get(field.name)
            arrays.append(
                pa.nulls(n, field.type) if raw is None
                else pa.repeat(pa.scalar(raw).cast(field.type), n)
            )
    yield from pa.table(arrays, schema=want).to_batches(max_chunksize=1 << 16)


class _LogReader:
    def __init__(self, source: "LogDataSource", schema: StructType):
        self.source = source
        self.schema_ = schema

    def read(self, partition):
        return read_log_file(self.source, self.schema_, partition)


class _SnapshotReader(_LogReader, DataSourceReader):
    """Plain snapshot reader — deliberately does NOT override
    ``pushFilters``, so it plans on any session regardless of
    ``spark.sql.python.filterPushdown.enabled`` (see
    ``pushdown_enabled``)."""

    predicates: dict = {}

    def partitions(self):
        return self.source.snapshot_files(self.predicates)


class _PushdownSnapshotReader(_SnapshotReader):
    """Snapshot reader + planning-time file skipping — only handed out
    when the active session enables Python DataSource pushdown."""

    def pushFilters(self, filters):
        """Comparison filters become ``{col: (lo, hi)}`` ranges the
        format's planner prunes files with. All filters are returned —
        skipping is a superset guarantee, Spark still filters rows."""
        self.predicates, _ = filters_to_ranges(filters)
        return filters


class _ChangeFeedReader(_LogReader, DataSourceReader):
    """Batch change feed: the ``startingVersion`` (INCLUSIVE) /
    ``endingVersion`` option pair over the format's change planner."""

    def partitions(self):
        opts, src = self.source.options, self.source
        start = int(opts.get("startingversion", src.cdf_start))
        end = int(opts["endingversion"]) if "endingversion" in opts \
            else src.latest_version()
        return src.changed_files(start - 1, end) or [LogFile("")]


class _VersionStreamReader(_LogReader, DataSourceStreamReader):
    """Offsets are table versions: batch ``(start, end]`` carries the
    files ADDED by those commits (appends) or their row-level changes
    (change feed). Structured Streaming persists the offsets in its
    checkpoint, which is what makes restart/replay exactly-once.

    ``maxVersionsPerBatch`` rate limiting (the ``maxFilesPerTrigger``
    analog): ``latestOffset`` advances at most N versions past the
    newest offset Spark has shown us, so a drain splits into
    incremental micro-batches instead of one giant batch.

    This is also the supported stand-in for ``Trigger.AvailableNow``:
    Spark 4.1.2's JVM wrapper for EVERY Python DataSource
    (``PythonMicroBatchStream``) implements only ``MicroBatchStream``
    + ``AcceptsLatestSeenOffset`` — not
    ``SupportsTriggerAvailableNow`` — so availableNow ALWAYS falls
    back to a single batch up to the start-time latest offset (still
    exactly-once, just coarse); no Python-side code can change that.
    Incremental drains here use a short processingTime trigger with
    this cap and stop when caught up.

    Restart safety: capping from a base BELOW the checkpointed
    offset would re-plan already-committed versions and replay data,
    and the runner protocol never calls ``initialOffset`` on restart.
    But ``PythonMicroBatchStream`` implements
    ``AcceptsLatestSeenOffset`` by forwarding the restored offset as
    a degenerate ``partitions(restored, restored)`` call before the
    first ``latestOffset`` — so ``partitions`` ratchets the base to
    the restored offset (the base only ever moves FORWARD), and the
    construction-time seed of ``startingVersion`` is safe on both
    fresh starts and restarts."""

    def __init__(self, source: "LogDataSource", schema: StructType,
                 changes: bool):
        super().__init__(source, schema)
        self.changes = changes
        self.starting = int(
            source.options.get("startingversion", source.stream_start)
        )
        cap = source.options.get("maxversionsperbatch")
        if cap is not None and int(cap) < 1:
            raise ValueError("maxVersionsPerBatch must be >= 1")
        self._cap = int(cap) if cap is not None else None
        self._base = self.starting

    def _advance(self, version: int) -> None:
        self._base = max(self._base, int(version))

    def initialOffset(self):
        return {"version": self.starting}

    def latestOffset(self):
        v = self.source.latest_version()
        if self._cap is not None:
            v = min(v, self._base + self._cap)
        self._advance(v)
        return {"version": v}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["version"], end["version"]
        self._advance(hi)
        plan = self.source.changed_files if self.changes \
            else self.source.appended_files
        return (hi > lo and plan(lo, hi)) or [LogFile("")]


class _CommitMessage(WriterCommitMessage):
    def __init__(self, files: list):
        # one format-shaped entry per written file; entry[0] is its
        # path (absolute, or relative to the table root)
        self.files = files


class _FileWriter(DataSourceArrowWriter):
    """The cluster-correct commit protocol, which the API maps onto
    exactly: every EXECUTOR task streams its Arrow batches into
    uniquely-named parquet files under the table root (grouped by
    partition values) and reports them in its commit message; the
    DRIVER then turns the collected messages into one put-if-absent
    log commit (``commit``) or deletes the orphans (``abort``) — no
    staging directory, no renames, and a lost race leaves only
    unreferenced files. The write is validated against the log on the
    driver (``write_plan``) before executors write a single file."""

    def __init__(self, source: "LogDataSource", schema: StructType,
                 overwrite: bool):
        self.source = source
        self.path = source._path()
        self.schema_ = schema
        self.overwrite = overwrite
        # ctx: whatever the format resolved driver-side for its
        # executor-side file stats
        self.partition_by, self.ctx = source.write_plan(schema)

    def put(self, rel_dir: str, piece) -> tuple[str, str]:
        """Write ``piece`` as a fresh parquet file under ``rel_dir`` →
        ``(path relative to the table root, absolute path)``."""
        import uuid

        import pyarrow.parquet as pq

        rel = os.path.join(rel_dir, f"part-{uuid.uuid4().hex}.parquet")
        dest = os.path.join(self.path, rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        pq.write_table(piece, dest)
        return rel, dest

    def write(self, iterator):
        import pyarrow as pa
        import pyarrow.compute as pc

        batches = list(iterator)
        files: list = []
        if batches:
            tbl = pa.Table.from_batches(batches)
            groups = [({}, tbl)]
            if self.partition_by:
                groups = []
                for kv in tbl.group_by(self.partition_by).aggregate([]) \
                        .to_pylist():
                    mask = None
                    for c, v in kv.items():
                        col = tbl.column(c)
                        m = pc.is_null(col) if v is None \
                            else pc.equal(col, pa.scalar(v))
                        mask = m if mask is None else pc.and_(mask, m)
                    groups.append((kv, tbl.filter(mask)))
            files = [self.source.data_file(self, kv, piece)
                     for kv, piece in groups if piece.num_rows]
        return _CommitMessage(files)

    def _files(self, messages) -> list:
        return [f for m in messages if m for f in m.files]

    def commit(self, messages) -> None:
        self.source.commit_files(self, self._files(messages), None)

    def abort(self, messages) -> None:
        for f in self._files(messages):
            dest = os.path.join(self.path, f[0])
            if os.path.exists(dest):
                os.unlink(dest)


class _StreamFileWriter(_FileWriter, DataSourceStreamArrowWriter):
    """The EXACTLY-ONCE streaming sink: executors reuse the batch
    writer's Arrow file path verbatim; the driver commit records the
    format's ``(app id, batchId)`` watermark in the same atomic
    commit, and a REPLAYED micro-batch (restart between sink commit
    and checkpoint write) is detected through ``last_batch_id`` and
    dropped — its duplicate files are deleted, nothing double-counts.
    The app id names the writer identity (stable across restarts of
    one query)."""

    def __init__(self, source: "LogDataSource", schema: StructType,
                 overwrite: bool):
        super().__init__(source, schema, overwrite)
        self.app_id = source.options.get(
            source.app_id_option, f"{source.name()}-stream"
        )

    def commit(self, messages, batchId: int) -> None:
        if self.source.last_batch_id(self.app_id) >= batchId:
            _FileWriter.abort(self, messages)  # replayed batch: drop dupes
            return
        self.source.commit_files(
            self, self._files(messages), (self.app_id, batchId)
        )

    def abort(self, messages, batchId: int) -> None:
        _FileWriter.abort(self, messages)


class LogDataSource(DataSource):
    """Base of the log-table DataSources. Options: ``path``
    (required), ``readChangeFeed``, ``startingVersion`` /
    ``endingVersion`` (change-feed window; stream start),
    ``maxVersionsPerBatch`` (stream rate limit — see
    ``_VersionStreamReader``), plus the format's own (time travel,
    ``partitionBy``, the stream writer's app id)."""

    stream_start: int     # default stream ``startingVersion``
    cdf_start: int        # default change-feed batch ``startingVersion``
    app_id_option: str    # option naming the stream writer identity

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError(f"{self.name()} requires .load(<table path>)")
        return path

    def _version(self) -> int | None:
        v = self.options.get("versionasof")
        return int(v) if v is not None else None

    def _cdf(self) -> bool:
        return str(self.options.get("readchangefeed", "false")).lower() \
            == "true"

    def schema(self):
        base = self.table_schema()
        if self._cdf():
            return StructType(
                list(base.fields)
                + [StructField("_change_type", StringType()),
                   StructField("_commit_version", LongType())]
            )
        return base

    def reader(self, schema: StructType) -> DataSourceReader:
        if self._cdf():
            return _ChangeFeedReader(self, schema)
        cls = _PushdownSnapshotReader if pushdown_enabled() \
            else _SnapshotReader
        return cls(self, schema)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _VersionStreamReader(self, schema, self._cdf())

    def writer(self, schema: StructType, overwrite: bool):
        return _FileWriter(self, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return _StreamFileWriter(self, schema, overwrite)

    def filter_rows(self, tbl, row_filter):
        """Executor-side: drop rows the format's delete files erase
        (``LogFile.row_filter``); no-op by default."""
        return tbl

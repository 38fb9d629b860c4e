"""The Parquet file layer shared by the Delta (``delta.py``) and Iceberg
(``iceberg.py``) table formats and their DataSources: the file work
that does not depend on the format.

- ``stage_files``: write a DataFrame with Spark's distributed writer
  under a unique ``_staged-*`` prefix, then MOVE each Parquet file
  into the table layout under a unique name (rename-only; a lost
  commit race leaves only unreferenced files). Each file comes back
  with its decoded partition values, footer stats and size.
- ``footer_stats``: one min/max/null fold over a footer's row groups
  (top-level scalar columns); the Delta ``stats`` and Iceberg bounds
  encoders serialize it. ``walk_hive_parquet`` and
  ``scan_footers_distributed`` do the same for a foreign Parquet
  directory being registered in place.
- ``file_key``/``with_scan_keys``: the ``__fp``/``__pos`` keys of a
  Parquet scan row (plain absolute file path, row position) that
  deletion vectors, delete files and per-file maps join on;
  ``per_file`` looks a per-file constant up by ``__fp``;
  ``typed_columns`` projects a scan onto the table schema.
- ``sweep_orphans``: delete files no commit references.
- ``put_if_absent``: the atomic commit primitive.
- ``cluster_files``: z-order (or coalesce) a rewrite into
  ``target_files`` files.

Paths read from logs, manifests and delete files are plain paths and
are never URL-decoded here; only Hive directory names and the
``_metadata.file_path`` URI are.
"""

from __future__ import annotations

import os
import pickle
import shutil
import time
import uuid
from typing import NamedTuple
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    NumericType,
    StructField,
    StructType,
)

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def as_nullable(dt):
    """Recursively relax nullability (struct fields, array elements,
    map values). A table schema may declare nested fields NOT NULL
    (e.g. built from ``F.lit``), but Spark's parquet scan always
    returns nullable nested types, and a nullable→non-nullable cast
    is an analysis error — so every READ materializes the relaxed
    form. Field metadata (generation expressions, mapping ids) is
    kept."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, as_nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(as_nullable(dt.keyType), as_nullable(dt.valueType), True)
    return dt


def put_if_absent(target: str, payload: str, conflict: Exception) -> None:
    """Create ``target`` holding ``payload`` only if it does not exist
    yet (``O_CREAT|O_EXCL``), flushed and fsynced before returning; a
    concurrent writer that got there first makes this raise
    ``conflict``."""
    try:
        fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise conflict from None
    with os.fdopen(fd, "w") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())


def hive_partition(segs: list[str]) -> dict[str, str | None]:
    """``{column: value}`` of Hive directory segments ``col=value``,
    unescaped the way Spark writes them; ``__HIVE_DEFAULT_PARTITION__``
    is NULL."""
    out: dict[str, str | None] = {}
    for s in segs:
        k, _, v = s.partition("=")
        v = unquote(v)
        out[unquote(k)] = None if v == HIVE_NULL else v
    return out


class FooterStats(NamedTuple):
    """A Parquet footer folded across row groups: ``{column: value}``
    min/max over top-level columns with scalar statistics, and summed
    null counts."""
    num_rows: int
    mins: dict
    maxs: dict
    nulls: dict


def footer_stats(path: str) -> FooterStats:
    """Fold the footer of the Parquet file at ``path`` (no data read).
    Nested leaves (struct members, list elements, map entries) are
    skipped; byte strings are decoded as UTF-8 (a column that is not
    UTF-8 gets no min/max). Executor-safe."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for c in range(g.num_columns):
            col = g.column(c)
            name = col.path_in_schema
            st = col.statistics
            if "." in name or st is None:
                continue
            if st.has_null_count:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if not st.has_min_max:
                continue
            try:
                mn, mx = st.min, st.max
            except Exception:
                # pyarrow cannot convert statistics for every physical
                # type (e.g. some decimal encodings): stats are an
                # optimization, not a contract
                continue
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                except UnicodeDecodeError:
                    continue
            if name not in mins or mn < mins[name]:
                mins[name] = mn
            if name not in maxs or mx > maxs[name]:
                maxs[name] = mx
    return FooterStats(md.num_rows, mins, maxs, nulls)


class StagedFile(NamedTuple):
    path: str                          # absolute path in the table layout
    rel: str                           # relative to the table root, "/"-separated
    partition: dict[str, str | None]   # decoded directory values
    stats: FooterStats
    size: int


def stage_files(df: DataFrame, path: str, partition_by: list[str] = (),
                dest_dir: str = "", prefix: str = "part") -> list[StagedFile]:
    """Write ``df`` (Hive-partitioned by ``partition_by``) with Spark's
    distributed writer into ``<path>/_staged-<uuid>``, then move every
    Parquet file to ``<path>/<dest_dir>/<partition dirs>/<prefix>-
    <uuid>.parquet``. Directory names keep Spark's escaping on disk;
    the returned partition values are decoded."""
    stage = os.path.join(path, f"_staged-{uuid.uuid4().hex}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(stage)
    os.makedirs(os.path.join(path, dest_dir), exist_ok=True)
    out = []
    for root, _dirs, fns in os.walk(stage):
        part_rel = os.path.relpath(root, stage)
        segs = [] if part_rel == "." else part_rel.split(os.sep)
        for fn in sorted(fns):
            if not fn.endswith(".parquet"):
                continue
            rel = os.path.join(dest_dir, *segs, f"{prefix}-{uuid.uuid4().hex}.parquet")
            dest = os.path.join(path, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.replace(os.path.join(root, fn), dest)
            out.append(StagedFile(
                dest, rel.replace(os.sep, "/"), hive_partition(segs),
                footer_stats(dest), os.path.getsize(dest),
            ))
    shutil.rmtree(stage, ignore_errors=True)
    return out


def walk_hive_parquet(path: str) -> list[tuple[str, dict[str, str | None]]]:
    """Discover a hive-layout parquet directory: (relative file path,
    {partition column: decoded value or None}) per data file, skipping
    log/metadata/staging directories and hidden files. Raises when
    files disagree on the partition column set — a mixed layout
    cannot be registered as one table."""
    out: list[tuple[str, dict[str, str | None]]] = []
    part_keys: list[str] | None = None
    for root, _dirs, fns in os.walk(path):
        segs = (
            [] if os.path.abspath(root) == os.path.abspath(path)
            else os.path.relpath(root, path).split(os.sep)
        )
        if any(s.startswith(("_", ".")) for s in segs):
            continue
        bad = [s for s in segs if "=" not in s]
        if bad:
            raise ValueError(
                f"non-hive directory {bad[0]!r} under {path} — expected "
                "a flat or hive-partitioned parquet layout"
            )
        pv = hive_partition(segs)
        for fn in sorted(fns):
            if not fn.endswith(".parquet") or fn.startswith(("_", ".")):
                continue
            if part_keys is None:
                part_keys = list(pv)
            elif list(pv) != part_keys:
                raise ValueError(
                    f"inconsistent partition layout: {list(pv)} vs "
                    f"{part_keys} under {path}"
                )
            out.append((os.path.join(*segs, fn) if segs else fn, dict(pv)))
    return sorted(out)


def scan_footers_distributed(
    spark: SparkSession, paths: list[str]
) -> dict[str, tuple[FooterStats, int]]:
    """abs path → (footer stats, size in bytes) with the footer reads
    running ON EXECUTORS via Arrow ``mapInPandas`` — registering a
    100 TB layout means 1e5–1e6 files, and the driver must only
    collect one metadata-scale row per file, never open a million
    footers serially."""
    import pandas as pd

    def scan(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [
                    (p, os.path.getsize(p), pickle.dumps(tuple(footer_stats(p))))
                    for p in pdf["path"]
                ],
                columns=["path", "size", "stats"],
            )

    src = spark.createDataFrame(
        pd.DataFrame({"path": paths})
    ).repartition(max(1, min(len(paths), 64)))
    got = src.mapInPandas(scan, "path string, size long, stats binary").collect()
    return {
        r["path"]: (FooterStats(*pickle.loads(r["stats"])), int(r["size"]))
        for r in got
    }


def file_key():
    """The scanned row's file as a plain absolute path, from
    ``_metadata.file_path``: that column is a URI, so Spark's escaped
    partition directories arrive escaped twice (``s=a%253Ab``) and are
    URL-decoded here — with ``+`` protected, which a URI keeps
    literal but URL decoding would turn into a space."""
    fp = F.regexp_replace(
        F.regexp_replace(F.col("_metadata.file_path"), "^file:", ""), "^/+", "/"
    )
    return F.url_decode(F.regexp_replace(fp, "\\+", "%2B"))


def with_scan_keys(df: DataFrame) -> DataFrame:
    """``df`` (a Parquet scan still carrying ``_metadata``) plus the
    ``__fp`` (:func:`file_key`) and ``__pos`` (row index) keys."""
    return df.withColumn("__fp", file_key()).withColumn(
        "__pos", F.col("_metadata.row_index")
    )


def per_file(values: dict[str, object], dtype: DataType | str = "bigint") -> Column:
    """The ``dtype`` constant of the scanned row's file: ``values`` (one
    entry per file keyed by :func:`file_key`'s form; NULL for a file
    it maps to None or omits) looked up by ``__fp``. Each value is
    written as a string Spark casts to ``dtype`` (``str(v)``: a date
    goes in as its ISO form). The optimizer folds the map into one
    literal, so the lookup costs no join and no Spark job, and a plan
    that never reads the column prunes it. The keys and the values
    are each one string joined on NUL (which never occurs in a path)
    so that planning costs a few py4j calls whatever the file count."""
    known = {fp: v for fp, v in values.items() if v is not None}
    if not known:
        return F.lit(None).cast(dtype)
    if isinstance(dtype, DataType):
        dtype = dtype.simpleString()
    return F.map_from_arrays(
        F.split(F.lit("\0".join(known)), "\0"),
        F.split(F.lit("\0".join(map(str, known.values()))), "\0")
        .cast(f"array<{dtype}>"),
    )[F.col("__fp")]


def typed_columns(df: DataFrame, schema: StructType,
                  source: dict[str, str] | None = None) -> list:
    """``df`` projected onto ``schema``'s fields in order: each field
    from its column in ``df`` (``source`` maps a field to another
    column name, e.g. a column-mapped physical one), cast only where
    the scanned type differs — every cast costs py4j round trips when
    the plan is built."""
    have = {f.name: f.dataType for f in df.schema.fields}
    out = []
    for f in schema.fields:
        name = (source or {}).get(f.name, f.name)
        c = F.col(name)
        out.append(
            (c if have.get(name) == f.dataType else c.cast(f.dataType))
            .alias(f.name)
        )
    return out


def sweep_orphans(path: str, log_dir: str, keep: set[str],
                  retention_hours: float,
                  suffixes: tuple[str, ...] = (".parquet",)) -> list[str]:
    """Delete the files under ``path`` ending in ``suffixes`` that are
    not in ``keep`` (paths, compared absolute) and whose mtime is
    older than ``retention_hours`` → sorted relative paths deleted.
    The ``log_dir`` and any ``_staged-*`` directory (an in-flight
    writer's staging area looks unreferenced by definition) are never
    entered; the retention spares a file already moved into the
    layout whose commit has not landed yet."""
    keep = {os.path.abspath(p) for p in keep}
    cutoff = time.time() - retention_hours * 3600.0
    deleted = []
    for root, _dirs, fns in os.walk(path):
        segs = os.path.relpath(root, path).split(os.sep)
        if log_dir in segs or any(s.startswith("_staged-") for s in segs):
            continue
        for fn in fns:
            abs_f = os.path.abspath(os.path.join(root, fn))
            if (fn.endswith(suffixes) and abs_f not in keep
                    and os.path.getmtime(abs_f) <= cutoff):
                os.unlink(abs_f)
                deleted.append(os.path.relpath(abs_f, os.path.abspath(path)))
    return sorted(deleted)


def with_zorder(df: DataFrame, cols: list[str], out: str = "__z"):
    """Adds an ``out`` Z-ORDER key column: equi-depth bucket each
    column into 256 ranks (boundaries from one approxQuantile — a
    bounded 255-value driver collect per column), then bit-interleave
    the 8-bit ranks so rows close in EVERY dimension land close in
    the sort. All row-level work is vectorized JVM expressions, never
    Python.

    The bucket rank is MATERIALIZED as one projected column per
    dimension before the interleave: a Column-expression version that
    inlined the 255-step fold at every one of the 8 bit references
    produced an ~8k-node expression tree whose optimizer/codegen pass
    alone cost ~20 s regardless of data size."""
    bad = [c for c in cols if not isinstance(df.schema[c].dataType, NumericType)]
    if bad:
        raise ValueError(
            f"zorder_by supports numeric columns only, got {bad} "
            "(equi-depth ranks come from approxQuantile)"
        )
    n_bits = 8
    # ONE quantile pass for every column: a single percentile_approx
    # Catalyst aggregate (one whole-stage scan, one 255-value row per
    # column on the driver). df.stat.approxQuantile computes the same
    # thing through the legacy RDD StatFunctions path — measured ~15 s
    # at sf0.1 where this aggregate is sub-second.
    probs = [i / 256 for i in range(1, 256)]
    qrow = df.agg(
        *[
            # accuracy 2000 → rank error 1/2000, 8× finer than the
            # 1/256 bucket width; equi-depth bucketing needs no more
            F.percentile_approx(
                F.col(c).cast("double"), F.lit(probs), F.lit(2000)
            ).alias(f"__q{j}")
            for j, c in enumerate(cols)
        ]
    ).collect()[0]
    all_bounds = [list(qrow[f"__q{j}"] or []) for j in range(len(cols))]
    # Branchless BINARY SEARCH over the sorted boundary array, 8
    # chained projected steps per column: rank r grows by `step` when
    # bounds[r+step] <= value. Each step is a tiny codegen'd CaseWhen
    # + element_at over the array LITERAL — 8 compares per row per
    # column, all inside one WholeStageCodegen span. (An F.aggregate
    # fold was evaluated INTERPRETED per array element — 255 steps ×
    # rows × columns × 2 passes made sf0.1 z-orders cost ~45 s of pure
    # expression evaluation.) The per-step columns stay materialized:
    # each is referenced twice by the next step and the pointed-to
    # expression is non-cheap, so CollapseProject keeps the
    # boundaries.
    tmp = []
    for j, (c, bounds) in enumerate(zip(cols, all_bounds)):
        name = f"__zb_{j}"
        if not bounds:  # empty input: approxQuantile returns []
            df = df.withColumn(name, F.lit(0))
            tmp.append(name)
            continue
        arr = F.lit([float(b) for b in bounds])
        n = len(bounds)
        cur = F.lit(0)
        step = 256
        s = 0
        while step > 1:
            step //= 2
            nxt = f"__zb_{j}_{s}"
            idx = cur + F.lit(step)
            df = df.withColumn(
                nxt,
                F.when(
                    (idx <= F.lit(n))
                    & (F.col(c).cast("double") >= F.element_at(arr, idx)),
                    idx,
                ).otherwise(cur),
            )
            cur = F.col(nxt)
            s += 1
        df = df.withColumn(name, cur).drop(
            *[f"__zb_{j}_{k}" for k in range(s)]
        )
        tmp.append(name)
    z = F.lit(0).cast("long")
    for bit in range(n_bits):
        for j, t in enumerate(tmp):
            z = z + F.shiftleft(
                (F.shiftright(F.col(t), bit).cast("long") % 2),
                bit * len(cols) + j,
            )
    return df.withColumn(out, z).drop(*tmp)


def cluster_files(df: DataFrame, target_files: int,
                  zorder_by: list[str] | None = None) -> DataFrame:
    """Lay a rewrite's rows out for ``target_files`` output files:
    ``coalesce`` (shuffle-free) or, with ``zorder_by``, one range
    shuffle on the :func:`with_zorder` key, sorted within each file —
    every file then carries tight min/max stats on ALL the named
    dimensions at once."""
    if not zorder_by:
        return df.coalesce(target_files)
    missing = [c for c in zorder_by if c not in df.columns]
    if missing:
        raise ValueError(f"zorder_by columns {missing} not in table")
    return (
        with_zorder(df, zorder_by)
        .repartitionByRange(target_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )

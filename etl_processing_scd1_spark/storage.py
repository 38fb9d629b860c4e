"""Warehouse storage: Parquet tables with run-level atomic publish.

The reference gets multi-table atomicity for free from PostgreSQL's
single transaction per nightly run (G6, main.py:18,472). On
immutable files the engine reproduces it as stage-then-swap: every
output of a run is written to a staging area, and only after all
writes succeed are the live directories swapped and a manifest
recorded — readers either see the whole run or none of it
(SURVEY.md §4.2).

Scale note: the swap is O(#tables) directory renames regardless of
data size; on an object store the same protocol is implemented by
pointer files (the manifest IS the pointer), which is exactly the
Delta/Iceberg commit model — the engine uses plain Parquet + manifest
to stay dependency-free, and documents the weaker guarantee: a
reader that caches old paths across a publish can see a stale (but
consistent) snapshot.
"""

from __future__ import annotations

import re
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .session import local_frame


class Warehouse:
    """A directory of versioned Parquet tables with atomic multi-table
    publish. Layout: ``root/<table>/`` live data, ``root/.staging/``
    in-flight run, ``root/_manifest.json`` last-commit record."""

    def __init__(self, spark: SparkSession, root: str, retain_versions: int = 0):
        self.spark = spark
        self.root = root
        #: number of superseded full-table versions kept per table for
        #: time-travel reads (0 = classic swap-and-delete). Versions
        #: live beside the table as ``<table>.v_<run_id>`` — the
        #: run_id that PUBLISHED that data — and are pruned oldest-
        #: first past the retention count at every publish.
        self.retain_versions = retain_versions
        os.makedirs(root, exist_ok=True)
        #: staged name (``<table>`` or ``<table>@append``) -> staging
        #: dir. A run may stage from several threads at once, but each
        #: name is staged by exactly one thread; publish() swaps round
        #: by round (end_stage_round), in name order within a round,
        #: never in the order the writes finished.
        self._staged: dict[str, str] = {}
        self._staged_schema: dict[str, StructType] = {}
        self._staged_round: dict[str, int] = {}
        self._round = 0
        self._recover_interrupted_publish()

    def _recover_interrupted_publish(self) -> None:
        """Heal the swap's crash window. publish() renames live →
        ``<table>.old`` then staged → live; a crash in between leaves
        the table absent with its data intact in ``.old`` — without
        recovery the next run would silently bootstrap the dimension
        from empty (create_dt history destroyed). On open: restore an
        orphaned ``.old`` when live is missing; drop it when live
        exists (swap completed, only the cleanup was lost). The walk
        is recursive because compact() applies the same protocol to
        nested partition directories (``facts/day=.../``)."""
        for dirpath, dirs, _files in os.walk(self.root):
            if ".staging" in dirs:
                dirs.remove(".staging")
            for entry in sorted(dirs):
                if not entry.endswith(".old"):
                    continue
                old = os.path.join(dirpath, entry)
                live = os.path.join(dirpath, entry[: -len(".old")])
                if os.path.isdir(live):
                    # swap completed, only the post-swap step was
                    # lost. Under retention the displaced data is the
                    # previous manifest's state — finish the rename
                    # it would have gotten; without retention, finish
                    # the delete.
                    label = None
                    if dirpath == self.root:
                        # the crashed publish precomputed which run
                        # produced each table's pre-swap state (its
                        # in-flight "displaced" map — survives chained
                        # crashes where the manifest is several runs
                        # stale); the manifest run is the fallback for
                        # records from before that map existed
                        table = entry[: -len(".old")]
                        label = self._read_inflight().get("displaced", {}).get(table)
                        if label is None:
                            m = self.manifest()
                            label = (m or {}).get("run_id")
                    if self.retain_versions > 0 and label:
                        # never rename onto an existing version dir
                        # (ENOTEMPTY on a non-empty destination would
                        # make every subsequent open re-raise and leave
                        # the warehouse unopenable): the existing dir
                        # is authoritative for that run, so the
                        # displaced copy gets a __dup suffix — still
                        # retention-GC'd by _prune_versions, just not
                        # addressable by read_as_of
                        os.rename(old, self._version_slot(live, label))
                    else:
                        shutil.rmtree(old, ignore_errors=True)
                else:
                    os.rename(old, live)
                    # descend into the restored directory: an
                    # interrupted compact inside an interrupted
                    # publish leaves NESTED ``.old`` leaves that the
                    # walk would otherwise skip (it only visits names
                    # listed before the rename) — one open must heal
                    # the whole tree
                    dirs.append(entry[: -len(".old")])

    # -- reads -------------------------------------------------------------

    def exists(self, name: str) -> bool:
        return os.path.isdir(self._live(name))

    @staticmethod
    def _has_parquet_parts(path: str) -> bool:
        for dirpath, _dirs, files in os.walk(path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self, name: str, schema: StructType | str | None = None) -> DataFrame:
        """Live table; empty frame with ``schema`` when absent (first
        run bootstraps every table from empty).

        The table is read with the schema recorded beside its data
        (``_schema.json``, written at stage time and moved with the
        data at publish), so a read runs no Parquet footer-inference
        job; a table without the record (written by something other
        than this class) falls back to inference.

        When ``schema`` is given and the table exists, the stored
        frame is ALIGNED to it — schema evolution support: columns
        added to a dimension since the last publish read as typed
        NULLs from the old snapshot (so the next scd1_merge classifies
        them as ordinary updates instead of crashing on resolution),
        stored-but-no-longer-requested columns are dropped, and column
        order follows the schema. A true type CHANGE (e.g. int→date)
        is a migration, not evolution: it raises TypeError here — a
        Parquet scan told to read an int column as a date would
        silently return day offsets from 1970 instead.

        The only silently-tolerated degenerate state is a directory
        holding NO parquet parts (an append-created table whose first
        batch had zero rows) — detected explicitly, never by catching
        read errors: a transient or corruption failure on a POPULATED
        table must propagate, or scd1_merge would classify the whole
        snapshot as inserts and append_dedup would re-admit the full
        batch."""
        from pyspark.sql import functions as F

        if isinstance(schema, str):  # DDL strings accepted everywhere
            schema = StructType.fromDDL(schema)
        if self.exists(name):
            live = self._live(name)
            if self._has_parquet_parts(live):
                df = self._scan(live)
                if schema is None:
                    return df
                _check_types(name, self._recorded_schema(live) or df.schema, schema)
                if df.columns != [f.name for f in schema.fields]:
                    have = set(df.columns)
                    df = df.select(
                        *[
                            F.col(f.name)
                            if f.name in have
                            else F.lit(None).cast(f.dataType).alias(f.name)
                            for f in schema.fields
                        ]
                    )
                return df
        if schema is None:
            raise FileNotFoundError(f"table {name} absent and no schema given")
        return local_frame(self.spark, [], schema)

    _SCHEMA = "_schema.json"

    def _scan(self, root: str, files: list[str] | None = None) -> DataFrame:
        """The table directory ``root`` (or only its ``files``) read
        with the schema recorded beside it and ``basePath`` at the
        root, so hive partition directories read as columns and no
        footer-inference job runs; a directory without the record
        falls back to inference."""
        stored = self._recorded_schema(root)
        reader = self.spark.read.option("basePath", root)
        if stored is not None:
            reader = reader.schema(stored)
        return reader.parquet(*(files or [root]))

    def _recorded_schema(self, path: str) -> StructType | None:
        side = os.path.join(path, self._SCHEMA)
        if not os.path.isfile(side):
            return None
        with open(side) as fh:
            return StructType.fromJson(json.load(fh))

    def _record_schema(self, path: str, schema: StructType) -> None:
        # underscore-prefixed: Spark/Hadoop readers skip it as hidden
        tmp = os.path.join(path, "._schema.tmp")
        with open(tmp, "w") as fh:
            json.dump(schema.jsonValue(), fh)
        os.replace(tmp, os.path.join(path, self._SCHEMA))

    def _append_schema(self, name: str, batch: StructType) -> StructType:
        """Schema of append table ``name`` once ``batch`` is added: the
        live record plus the columns the batch adds (older files read
        them as NULL). A column whose type changed raises TypeError —
        before any file is written when called from stage_append."""
        live = self._live(name)
        prior = self._recorded_schema(live)
        if prior is None and self._has_parquet_parts(live):
            prior = self.spark.read.parquet(live).schema  # unrecorded table: infer once
        if prior is None:
            return batch
        _check_types(name, prior, batch)
        have = set(prior.names)
        return StructType(prior.fields + [f for f in batch.fields if f.name not in have])

    def staged_view(self, name: str) -> DataFrame | None:
        """Read-back of a table staged in THIS run (full-table stage
        or ``@append`` increment), or None when nothing is staged
        under ``name`` — the typed accessor for pre-publish consumers
        (fraud rules read the post-merge state the way the reference
        reads its uncommitted transaction).

        "Nothing staged" and "staged but empty" are distinct: a
        FULL-table stage whose snapshot wrote no parquet parts (e.g.
        a merged dimension that emptied out) reads back as an empty
        frame with the staged schema — falling back to None here
        would silently hand same-run consumers the stale pre-merge
        live table. A zero-row ``@append`` increment still reads as
        None (there is genuinely nothing to union onto the base)."""
        path = self._staged.get(name)
        if path is None:
            return None
        if not self._has_parquet_parts(path):
            if name.endswith("@append"):
                return None
            return local_frame(self.spark, [], self._staged_schema[name])
        return self.spark.read.schema(self._staged_schema[name]).parquet(path)

    # -- staged writes + atomic publish ------------------------------------

    def stage(self, name: str, df: DataFrame) -> None:
        """Materialize ``df`` into the staging area (executor-parallel
        Parquet write — the bulk replacement for the reference's
        row-at-a-time executemany, main.py:64-66). Published as a
        full-table swap; the schema record rides in the same directory,
        so the swap never pairs data with another run's schema."""
        path = os.path.join(self.root, ".staging", name)
        df.write.mode("overwrite").parquet(path)
        self._record_schema(path, df.schema)
        self._staged[name] = path
        self._staged_schema[name] = df.schema
        self._staged_round[name] = self._round

    def stage_ordered(
        self, name: str, df: DataFrame, order_cols: list[str], num_files: int | None = None
    ) -> None:
        """Stage with a MATERIALIZED global order: rows are range-
        partitioned on ``order_cols`` and sorted within each file, so
        file k's key range sits strictly before file k+1's and a
        sequential reader sees the exact global order — the
        scale-safe way to write a deterministic training order (the
        ``deterministic_shuffle`` query's contract) or a sort key for
        range-pruned scans. One RANGE shuffle; never a
        single-partition global sort."""
        parts = num_files or self.spark.sparkContext.defaultParallelism
        ordered = df.repartitionByRange(parts, *order_cols).sortWithinPartitions(
            *order_cols
        )
        self.stage(name, ordered)

    _BLOOM_SIDECAR = "_bloom_index.json"

    def stage_indexed(
        self,
        name: str,
        df: DataFrame,
        key_col: str,
        bits: int = 4096,
        hashes: int = 3,
    ) -> None:
        """Stage with a per-file BLOOM SIDECAR over ``key_col`` — a
        secondary index for point lookups on a column the table is
        NOT partitioned or sorted by. Parquet footer min/max stats
        only help when the layout clusters the column (Z-order /
        Hilbert); a Bloom filter per file admits membership queries
        on arbitrary ids with zero false negatives, so
        :meth:`read_point` opens only the files that can contain the
        key — at 100 TB, the difference between scanning a table and
        touching a handful of files.

        Index build is DISTRIBUTED: one pass maps every row to its
        ``hashes`` md5-derived bit positions keyed by
        ``input_file_name``, a distinct collapses them, and only the
        tiny (file × set-bit) relation reaches the driver for the
        sidecar JSON (underscore-prefixed: Spark/Hadoop readers treat
        it as hidden, so plain ``read`` is unaffected)."""
        from pyspark.sql import functions as F

        self.stage(name, df)
        staged = self._staged[name]
        rel = self._scan(staged)
        pos_cols = [
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(f"{i}:"), F.col(key_col).cast("string")
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % bits
            ).alias(f"__p{i}__")
            for i in range(hashes)
        ]
        exploded = (
            rel.select(F.input_file_name().alias("__file__"), *pos_cols)
            .select(
                "__file__",
                F.explode(F.array(*[F.col(f"__p{i}__") for i in range(hashes)])).alias(
                    "__pos__"
                ),
            )
            .distinct()
        )
        index: dict[str, list[int]] = {}
        for row in exploded.collect():
            fname = os.path.basename(row["__file__"])
            index.setdefault(fname, []).append(int(row["__pos__"]))
        sidecar = {
            "key_col": key_col,
            "bits": bits,
            "hashes": hashes,
            "files": {f: sorted(p) for f, p in index.items()},
        }
        with open(os.path.join(staged, self._BLOOM_SIDECAR), "w") as fh:
            json.dump(sidecar, fh)

    @staticmethod
    def _bloom_positions(value: str, hashes: int, bits: int) -> list[int]:
        import hashlib

        return [
            int(hashlib.md5(f"{i}:{value}".encode()).hexdigest()[:8], 16) % bits
            for i in range(hashes)
        ]

    def read_point(self, name: str, value, key_col: str | None = None) -> DataFrame:
        """Point lookup through the Bloom sidecar: open ONLY the files
        whose filter admits ``value`` (zero false negatives by Bloom
        construction; false positives just open an extra file).

        When no sidecar exists the lookup can still be answered —
        just not pruned: with ``key_col`` given it falls back to a
        full-table scan filtered to ``value`` (correct, O(table)).
        Without ``key_col`` there is nothing to filter on (the column
        normally comes from the sidecar metadata), so it raises
        FileNotFoundError. Returns the matching rows filtered to
        ``value``."""
        from pyspark.sql import functions as F

        live = self._live(name)
        side = os.path.join(live, self._BLOOM_SIDECAR)
        if not os.path.isfile(side):
            if key_col is not None:
                return self.read(name).filter(
                    F.col(key_col).cast("string") == str(value)
                )
            raise FileNotFoundError(
                f"no bloom sidecar for {name!r}; stage with stage_indexed "
                "or pass key_col= for an unpruned full-scan fallback"
            )
        with open(side) as fh:
            meta = json.load(fh)
        pos = set(self._bloom_positions(str(value), meta["hashes"], meta["bits"]))
        admitted = [
            os.path.join(live, f)
            for f, bits_set in meta["files"].items()
            if pos.issubset(bits_set)
        ]
        df = self._scan(live, admitted) if admitted else self._scan(live).limit(0)
        return df.filter(F.col(meta["key_col"]).cast("string") == str(value))

    def stage_append(
        self, name: str, df: DataFrame, partition_cols: list[str] | None = None
    ) -> None:
        """Materialize ONLY NEW ROWS for an append-style table (facts,
        accumulating report). Publish moves the new files into the
        live directory instead of rewriting the table — the daily
        fact write stays O(batch), not O(history). This is the 100 TB
        -critical difference from the reference's INSERT-SELECT into a
        table it rescans nightly (and from a naive union+overwrite).

        ``partition_cols`` hive-partitions the new files (e.g. by event
        day): readers filtering on the partition column then prune at
        the directory level — the fact-side restriction of the
        append-dedup anti join and time-bounded report scans become
        O(touched days).
        """
        path = os.path.join(self.root, ".staging", f"{name}@append")
        self._append_schema(name, df.schema)  # a type change fails before the write
        writer = df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(path)
        self._staged[f"{name}@append"] = path
        self._staged_schema[f"{name}@append"] = df.schema
        self._staged_round[f"{name}@append"] = self._round

    def end_stage_round(self) -> None:
        """publish() swaps every table staged so far before any table
        staged after this call. A run that stages concurrently calls
        it between dependent rounds of writes (run_day: after the dims
        and facts, before ``meta`` and ``rep_fraud``, which derive from
        them), so a crash mid-publish never leaves a derived table
        live ahead of its inputs. Within a round tables swap in name
        order, whatever thread finished first."""
        self._round += 1

    def discard_staged(self) -> None:
        """Drop everything staged since the last publish, unpublished.
        A run that fails before its publish calls it: otherwise the
        next publish on this Warehouse would also swap in the failed
        run's staged tables, and same-run readers (staged_view) would
        see them."""
        for path in self._staged.values():
            shutil.rmtree(path, ignore_errors=True)
        self._staged.clear()
        self._staged_schema.clear()
        self._staged_round.clear()
        self._round = 0

    _INFLIGHT = "_inflight.json"

    def _version_slot(self, live: str, run_id: str) -> str:
        """First free ``<live>.v_<run_id>`` destination: the exact
        name when unoccupied, else ``__dupN`` suffixes. An occupied
        slot means an earlier publish/recovery already retained that
        run's state — the existing dir is authoritative, and the
        colliding displaced data (from a crashed, unmanifested run)
        is kept under the suffix purely so retention GC can reclaim
        it instead of os.rename failing ENOTEMPTY mid-publish."""
        dest = f"{live}.v_{run_id}"
        k = 0
        while os.path.exists(dest):
            k += 1
            dest = f"{live}.v_{run_id}__dup{k}"
        return dest

    def _read_inflight(self) -> dict:
        path = os.path.join(self.root, ".staging", self._INFLIGHT)
        if os.path.isfile(path):
            with open(path) as fh:
                return json.load(fh)
        return {}

    def _write_inflight(self, record: dict) -> None:
        staging_root = os.path.join(self.root, ".staging")
        os.makedirs(staging_root, exist_ok=True)
        tmp = os.path.join(staging_root, "._inflight.tmp")
        with open(tmp, "w") as fh:
            json.dump(record, fh)
        os.replace(tmp, os.path.join(staging_root, self._INFLIGHT))

    def _begin_publish(self, run_id: str, prev_run_id: str | None) -> dict:
        """Start the publish crash protocol: compute, per staged
        full table, which run produced the data the swap is about to
        displace — the previous manifest's run normally, or a crashed
        (unmanifested) run recorded as having already swapped that
        table — and persist it all as the in-flight record BEFORE any
        rename. Recovery and the swap loop both label displaced
        states from this map, so the attribution survives chained
        crashes where the manifest is several runs stale."""
        stale = self._read_inflight()
        if stale.get("run_id") == prev_run_id:
            stale = {}  # that run committed; manifest labeling is right
        displaced: dict[str, str] = {}
        for name in self._staged:
            if name.endswith("@append"):
                continue
            rid = prev_run_id
            if stale.get("run_id") and name in stale.get("swapped", ()):
                rid = stale["run_id"]
            if rid:
                displaced[name] = rid
        record = {"run_id": run_id, "swapped": [], "displaced": displaced}
        self._write_inflight(record)
        return record

    def publish(self, run_id: str | None = None) -> dict:
        """Swap all staged tables live, then write the manifest.

        The rename-per-table loop is not a single atomic step across
        tables on a POSIX fs; the manifest (written last, atomically
        via rename) is the commit record — consumers that require
        cross-table consistency resolve paths through it.

        Crash labeling: before any swap the run records itself in
        ``.staging/_inflight.json`` and appends each table name right
        after that table's staged→live rename. If the process dies
        between a swap and the manifest write, the next publish finds
        the stale record and labels the displaced live data with the
        run that ACTUALLY produced it (the crashed run) instead of
        the previous manifest's id — without the record, a retained
        version would both mislabel the crashed run's data and
        collide with the version dir recovery created for the
        previous run (the ENOTEMPTY failure mode)."""
        run_id = run_id or time.strftime("%Y%m%d%H%M%S")
        prev_manifest = self.manifest()
        prev_run_id = (prev_manifest or {}).get("run_id")
        inflight = self._begin_publish(run_id, prev_run_id)
        # a fixed swap order, inputs before what derives from them: a
        # crash mid-publish leaves the same partial state however the
        # run's concurrent writes finished
        for name in sorted(self._staged, key=lambda n: (self._staged_round[n], n)):
            staged = self._staged[name]
            if name.endswith("@append"):
                table = name[: -len("@append")]
                live = self._live(table)
                os.makedirs(live, exist_ok=True)
                # record first: a crash before the moves leaves a
                # superset schema, whose extra columns read as NULL
                self._record_schema(
                    live, self._append_schema(table, self._staged_schema[name])
                )
                moved = 0
                # walk preserves hive partition subdirectories
                # (day=2021-03-01/part-...) so pruning works live
                for dirpath, _dirs, files in os.walk(staged):
                    rel = os.path.relpath(dirpath, staged)
                    dest_dir = live if rel == "." else os.path.join(live, rel)
                    for fn in sorted(files):
                        if not fn.endswith(".parquet"):
                            continue  # skip _SUCCESS/_committed markers
                        os.makedirs(dest_dir, exist_ok=True)
                        # never overwrite a live fact file: two
                        # publishes sharing a second-granularity
                        # run_id (or an explicitly replayed run_ts)
                        # must coexist, so probe forward to the first
                        # free index instead of clobbering
                        dest = os.path.join(dest_dir, f"{run_id}-{moved:05d}.parquet")
                        while os.path.exists(dest):
                            moved += 1
                            dest = os.path.join(
                                dest_dir, f"{run_id}-{moved:05d}.parquet"
                            )
                        os.rename(os.path.join(dirpath, fn), dest)
                        moved += 1
                shutil.rmtree(staged, ignore_errors=True)
                continue
            live = self._live(name)
            old = live + ".old"
            if os.path.isdir(old):
                shutil.rmtree(old)
            if os.path.isdir(live):
                os.rename(live, old)
            os.rename(staged, live)
            inflight["swapped"].append(name)
            self._write_inflight(inflight)
            if os.path.isdir(old):
                # retention: the displaced data is labeled with the
                # run that produced it, from the precomputed
                # _begin_publish map (the previous manifest's run, or
                # a crashed unmanifested run that had already swapped
                # this table)
                displaced_rid = inflight["displaced"].get(name)
                if self.retain_versions > 0 and displaced_rid:
                    os.rename(old, self._version_slot(live, displaced_rid))
                    self._prune_versions(live)
                else:
                    shutil.rmtree(old)
        manifest = {
            "run_id": run_id,
            "tables": sorted({n.split("@")[0] for n in self._staged}),
            "committed_at": time.time(),
            "previous": ((prev_manifest or {}).get("previous", []) + [prev_run_id])[-50:]
            if prev_run_id
            else [],
        }
        tmp = os.path.join(self.root, "._manifest.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, os.path.join(self.root, "_manifest.json"))
        self.discard_staged()
        staging_root = os.path.join(self.root, ".staging")
        if os.path.isdir(staging_root):
            shutil.rmtree(staging_root, ignore_errors=True)
        return manifest

    def manifest(self) -> dict | None:
        """Last commit record, or None before the first publish."""
        path = os.path.join(self.root, "_manifest.json")
        if not os.path.isfile(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    def _prune_versions(self, live: str) -> None:
        parent, base = os.path.split(live)
        prefix = base + ".v_"
        versions = sorted(
            e for e in os.listdir(parent or ".") if e.startswith(prefix)
        )
        for stale in versions[: max(0, len(versions) - self.retain_versions)]:
            shutil.rmtree(os.path.join(parent, stale), ignore_errors=True)

    def read_as_of(self, name: str, run_id: str) -> DataFrame:
        """Time travel: the table as the named published run left it.

        Resolution order: the current manifest's run → the live dir;
        a retained full-table version → ``<table>.v_<run_id>``; an
        APPEND table → the live dir restricted to files whose
        ``<run_id>-NNNNN`` name prefix sorts ≤ the target run (append
        publishes only ever ADD run-stamped files, so the as-of state
        is exactly the file subset — no copies retained, no retention
        limit). compact() fuses old runs' files under the newest
        compacted-in run's stamp and records that run in a
        ``_compact_floor.json`` sidecar: reconstruction stays exact
        for runs ≥ the floor and raises KeyError below it (the
        pre-compaction subsets no longer exist as files). Raises
        KeyError when the run is neither current, nor retained, nor
        reconstructible from append stamps."""
        # version dir FIRST: in the publish crash window (swap done,
        # manifest not yet rewritten) recovery materializes
        # ``<table>.v_<run_id>`` while the stale manifest still names
        # that run — the retained dir is the true as-of state
        vdir = f"{self._live(name)}.v_{run_id}"
        if os.path.isdir(vdir):
            return self._scan(vdir)
        m = self.manifest()
        if m and m.get("run_id") == run_id:
            return self.read(name)
        live = self._live(name)
        if os.path.isdir(live):
            floor_path = os.path.join(live, self._COMPACT_FLOOR)
            if os.path.isfile(floor_path):
                with open(floor_path) as fh:
                    floor = json.load(fh).get("as_of_floor")
                if floor is not None and run_id < floor:
                    raise KeyError(
                        f"run {run_id!r} of {name!r} predates the compaction "
                        f"floor {floor!r} — its file subset was fused by "
                        "compact() and is no longer reconstructible"
                    )
            stamp = re.compile(r"(.+)-\d{5}\.parquet$")
            all_parquet = [
                fn
                for _dp, _dirs, fns in os.walk(live)
                for fn in fns
                if fn.endswith(".parquet")
            ]
            stamps = [stamp.fullmatch(fn) for fn in all_parquet]
            if all_parquet and all(stamps):
                files = [
                    os.path.join(dirpath, fn)
                    for dirpath, _dirs, fns in os.walk(live)
                    for fn in fns
                    if (mm := stamp.fullmatch(fn)) and mm.group(1) <= run_id
                ]
                if files:
                    return self._scan(live, files)
        raise KeyError(
            f"no retained version of {name!r} for run {run_id!r} "
            f"(retain_versions={self.retain_versions})"
        )

    def save_bucketed(
        self,
        name: str,
        df: DataFrame,
        bucket_cols: list[str],
        num_buckets: int = 16,
        sort_cols: list[str] | None = None,
    ) -> str:
        """Persist ``df`` as a catalog-registered BUCKETED table —
        the pre-shuffled layout for tables that are repeatedly joined
        or aggregated on the same key. Each writer task hashes rows
        into ``num_buckets`` files by ``bucket_cols``; every later
        equi-join between two tables bucketed the same way (same
        columns, same count), and every groupBy on the bucket key,
        then runs WITHOUT an Exchange — the one-off write shuffle
        replaces a shuffle per downstream query. ``sort_cols``
        additionally orders rows within each bucket file so
        sort-merge joins skip their per-task Sort.

        At 100 TB this is the difference between re-shuffling a fact
        table every nightly join and never shuffling it again: the
        bucket layout is the physical co-location contract
        (plan-gated by test_plans.py — zero Exchange on a
        bucketed-bucketed join).

        Spark's bucket metadata lives in the session catalog, not the
        parquet files, so this writes through ``saveAsTable`` with an
        external path under the warehouse root and returns the
        catalog table name to join through (``spark.table(...)``).
        With the default in-memory catalog the registration lasts the
        session; production deployments point the session at a shared
        metastore (or use Iceberg/Delta bucketing) so the layout
        outlives it.
        """
        import zlib

        safe = "".join(c if c.isalnum() else "_" for c in name.lower())
        # crc32, not hash(): the builtin is salted per-process, which
        # would register the same warehouse table under a new catalog
        # name every session
        tbl = f"bkt_{safe}_{zlib.crc32(self.root.encode()) % 100_000}"
        path = os.path.join(self.root, f"{name}.bucketed")
        self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        writer = (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", path)
            .bucketBy(num_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(tbl)
        return tbl

    def compact(self, name: str, max_files: int = 4, target_files: int = 1) -> dict:
        """Bound the file count of an append table's partitions.

        stage_append keeps the nightly write O(batch), but after R
        runs every partition directory holds up to R small files — at
        100 TB that is the classic small-file problem: scan task
        count, file-listing latency and parquet footer overhead all
        grow with run count, not data size. compact() rewrites each
        leaf directory holding more than ``max_files`` parquet parts
        into ``target_files`` files, preserving the hive layout (so
        directory-level pruning is untouched) and the crash-safety
        protocol: the rewrite lands in staging, then swaps in via the
        same rename → ``.old`` → cleanup dance as publish, recovered
        on open by ``_recover_interrupted_publish``.

        Time-travel interaction: when every input part of a leaf
        carries a ``<run_id>-NNNNN`` append stamp, the compacted
        outputs are re-stamped ``<max_source_run_id>-NNNNN`` — so
        :meth:`read_as_of` stays EXACT for any run ≥ the newest
        compacted-in run (the merged file's stamp admits it, and it
        holds precisely the union of the older runs' rows). Reads for
        runs OLDER than that are no longer reconstructible (their
        rows are fused into a newer-stamped file); compact() records
        that floor in a ``_compact_floor.json`` sidecar and
        read_as_of raises KeyError below it rather than silently
        returning a partial snapshot.

        Run it out-of-band (the reference has no analog — Postgres
        autovacuums; immutable-file warehouses schedule compaction).
        """
        live = self._live(name)
        stats = {"partitions_seen": 0, "partitions_compacted": 0, "files_before": 0, "files_after": 0}
        if not os.path.isdir(live):
            return stats
        stamp = re.compile(r"(.+)-\d{5}\.parquet$")
        leaves = []
        for dirpath, _dirs, files in os.walk(live):
            parts = [f for f in files if f.endswith(".parquet")]
            if parts:
                stats["partitions_seen"] += 1
                stats["files_before"] += len(parts)
                if len(parts) > max_files:
                    leaves.append((dirpath, parts))
                else:
                    stats["files_after"] += len(parts)
        compact_floor: str | None = None
        for dirpath, parts in leaves:
            rel = os.path.relpath(dirpath, live)
            base = os.path.join(self.root, ".staging", f"{name}@compact")
            # unpartitioned table: the leaf IS the live root, rel == "."
            # — joining "." would leave a trailing "/." that the final
            # swap rename rejects (EBUSY/EINVAL) AFTER live was already
            # moved aside, stranding the table until recovery
            staged = base if rel == "." else os.path.join(base, rel)
            # the leaf's files carry no partition columns (partitionBy
            # excludes them), so a direct read+rewrite round-trips
            # exactly; coalesce avoids a shuffle — each output file is
            # a concatenation of input parts
            df = self.spark.read.parquet(dirpath)
            df.coalesce(target_files).write.mode("overwrite").parquet(staged)
            for f in list(os.listdir(staged)):
                if not f.endswith(".parquet"):
                    os.remove(os.path.join(staged, f))
            if rel == "." and os.path.isfile(os.path.join(dirpath, self._SCHEMA)):
                # the leaf is the table root: keep its schema record
                shutil.copy2(os.path.join(dirpath, self._SCHEMA), staged)
            # preserve append-run stamps: outputs inherit the NEWEST
            # source stamp so read_as_of keeps working for runs ≥ it
            matches = [stamp.fullmatch(f) for f in parts]
            if all(matches):
                max_rid = max(m.group(1) for m in matches)
                outs = sorted(
                    f for f in os.listdir(staged) if f.endswith(".parquet")
                )
                for i, f in enumerate(outs):
                    os.rename(
                        os.path.join(staged, f),
                        os.path.join(staged, f"{max_rid}-{i:05d}.parquet"),
                    )
                if compact_floor is None or max_rid > compact_floor:
                    compact_floor = max_rid
            old = dirpath + ".old"
            if os.path.isdir(old):
                shutil.rmtree(old)
            os.rename(dirpath, old)
            os.rename(staged, dirpath)
            shutil.rmtree(old)
            stats["partitions_compacted"] += 1
            stats["files_after"] += sum(
                1 for f in os.listdir(dirpath) if f.endswith(".parquet")
            )
        if compact_floor is not None:
            floor_path = os.path.join(live, self._COMPACT_FLOOR)
            prev_floor = None
            if os.path.isfile(floor_path):
                with open(floor_path) as fh:
                    prev_floor = json.load(fh).get("as_of_floor")
            if prev_floor is None or compact_floor > prev_floor:
                with open(floor_path, "w") as fh:
                    json.dump({"as_of_floor": compact_floor}, fh)
        staging = os.path.join(self.root, ".staging", f"{name}@compact")
        if os.path.isdir(staging):
            shutil.rmtree(staging, ignore_errors=True)
        return stats

    _COMPACT_FLOOR = "_compact_floor.json"

    def _live(self, name: str) -> str:
        return os.path.join(self.root, name)


def _check_types(name: str, stored: StructType, wanted: StructType) -> None:
    """Raise TypeError when a column of ``wanted`` exists in ``stored``
    with another type (nullability and field metadata aside)."""
    have = {f.name: f.dataType.simpleString() for f in stored.fields}
    changed = [
        f"{f.name}: {have[f.name]} -> {f.dataType.simpleString()}"
        for f in wanted.fields
        if f.name in have and have[f.name] != f.dataType.simpleString()
    ]
    if changed:
        raise TypeError(
            f"table {name!r}: column type change is a migration, not schema "
            f"evolution ({', '.join(changed)})"
        )

"""SCD Type 2 merge — history-preserving dimension transitions
(beyond the reference: its warehouse is SCD1-only, overwriting
changed rows in place, main.py:139-343; SCD2 is the standard upgrade
path when consumers need as-was reporting).

Version rows carry ``valid_from`` / ``valid_to`` / ``is_current``.
A snapshot merge at ``effective_ts`` applies:

- new key          → open a version [effective_ts, END_OF_TIME);
- changed key      → close the current version at ``effective_ts``
                     AND open a new one (the SCD2 move — where SCD1
                     overwrites, SCD2 chains);
- key absent from  → close the current version (soft delete — the
  the snapshot       key's history stays queryable), unless
                     ``delete_missing=False``;
- unchanged key    → keep the current version untouched.
- non-current rows → pass through untouched (history is immutable).

Scale design: identical to SCD1 — the classification is ONE
full-outer join on the key (reused from ``scd1_changes``), history
rows never enter the join (filtered by the ``is_current`` flag, a
partition-prunable column when the dim is stored split by currency),
and the output is a union of narrow projections over one cached
classification frame. The merge cost is O(current + snapshot)
regardless of how much history has accumulated — the property that
makes SCD2 viable at 100 TB, where history dwarfs the live set.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .scd1 import _MARKER, scd1_changes

END_OF_TIME = "9999-12-31 00:00:00"

#: the version-tracking columns every SCD2 dimension carries
VERSION_COLS = ["valid_from", "valid_to", "is_current"]


@dataclass
class Scd2Result:
    """Merged dimension plus the per-leg version movements.

    ``cached`` is the persisted classification all legs share —
    callers MUST :meth:`unpersist` once the legs are materialized."""

    merged: DataFrame
    opened: DataFrame
    closed: DataFrame
    cached: DataFrame | None = None

    def counts(self) -> dict[str, int]:
        return {
            "opened": self.opened.count(),
            "closed": self.closed.count(),
            "rows": self.merged.count(),
        }

    def unpersist(self) -> None:
        if self.cached is not None:
            self.cached.unpersist()
            self.cached = None


def scd2_merge(
    dim: DataFrame,
    stg: DataFrame,
    key: str,
    compare_cols: list[str],
    effective_ts: Column,
    delete_missing: bool = True,
) -> Scd2Result:
    """Snapshot merge dim ⊕ stg → new SCD2 dimension.

    ``dim`` holds business columns plus ``valid_from``/``valid_to``/
    ``is_current``; ``stg`` holds business columns only (a point-in-
    time snapshot taken at ``effective_ts``). Pass ``effective_ts``
    as a literal captured once per run — replays are then exactly
    idempotent (merging the same snapshot twice opens nothing).
    """
    current = dim.filter(F.col("is_current"))
    history = dim.filter(~F.col("is_current"))

    changes = scd1_changes(current, stg, key, compare_cols).persist()

    business = [key] + compare_cols
    close_actions = ["update", "delete"] if delete_missing else ["update"]

    closed = changes.filter(F.col(_MARKER).isin(close_actions)).select(
        *[F.col(f"dim__{c}").alias(c) for c in business],
        F.col("dim__valid_from").alias("valid_from"),
        effective_ts.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = changes.filter(F.col(_MARKER).isin(["insert", "update"])).select(
        *[F.col(f"stg__{c}").alias(c) for c in business],
        effective_ts.alias("valid_from"),
        F.lit(END_OF_TIME).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    keep_actions = ["keep"] if delete_missing else ["keep", "delete"]
    kept = changes.filter(F.col(_MARKER).isin(keep_actions)).select(
        *[F.col(f"dim__{c}").alias(c) for c in business],
        *[F.col(f"dim__{c}").alias(c) for c in VERSION_COLS],
    )

    out_cols = business + VERSION_COLS
    merged = (
        history.select(out_cols)
        .unionByName(kept.select(out_cols))
        .unionByName(closed.select(out_cols))
        .unionByName(opened.select(out_cols))
    )
    return Scd2Result(merged=merged, opened=opened, closed=closed, cached=changes)

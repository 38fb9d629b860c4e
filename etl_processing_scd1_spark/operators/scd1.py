"""SCD Type 1 merge as a functional recompute (SURVEY.md §2.G).

The reference mutates PostgreSQL tables in place with three
statements per dimension — INSERT new keys (G1, main.py:139-161),
UPDATE null-safely-changed rows (G2, main.py:183-324), DELETE keys
absent from the day's snapshot (G3, main.py:329-343). On immutable
columnar storage the same transition is one deterministic recompute:

    new_dim = kept ∪ changed' ∪ new

where ``kept``    = dim rows whose key is in the snapshot and whose
                    business columns all null-safe-equal staging,
      ``changed'``= staged values for keys present in both sides with
                    any null-safe difference (overwrite semantics —
                    history destroyed, the defining SCD1 property),
      ``new``     = staged keys absent from the dim.

Scale design: ONE pass. The dim⋈stg full-outer join classifies every
key as insert/update/delete/keep (one shuffle on the natural key
instead of the reference's three scans), and the new dimension is a
single filter + per-column ``when(marker …)`` projection over that
classification — no union of per-leg branches, no cache. The per-leg
counts ride on the same pass as an ``Observation``, so writing the
merged frame is the only action a merge costs. Duplicate staging keys
(undefined in the reference — Postgres UPDATE-from-join picks an
arbitrary match) are resolved by an explicit deterministic policy:
highest ``coalesce(update_dt, create_dt)``, then arbitrary-but-stable
max over remaining columns. At 100 TB: the dim and snapshot co-shuffle
on the key; with bucketed dim storage the exchange on the dim side
disappears entirely.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions import null_safe_differs
from ..observe import ensure_ran, observed

_MARKER = "__scd1_action__"


def _dedup_staging(stg: DataFrame, key: str, order_col: Column) -> DataFrame:
    """Deterministic duplicate-key policy for staging input.

    ``row_number`` over (key / order desc) keeps exactly one row per
    key — the freshest by effective-change timestamp, tie-broken by
    all remaining columns descending so the result is stable across
    runs and partitionings.
    """
    others = [F.col(c).desc_nulls_last() for c in stg.columns]
    w = Window.partitionBy(key).orderBy(order_col.desc_nulls_last(), *others)
    return (
        stg.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


@dataclass
class Scd1Result:
    """Merged dimension plus the per-leg row classification.

    ``merged`` is the new dimension: one filter + projection over the
    classification join, carrying an ``Observation`` of the leg counts.
    Writing it is the only action a merge needs; :meth:`counts` then
    reads the observation. ``inserted``/``updated``/``deleted`` are
    lazy filters over the same classification for callers that want
    the legs themselves (each is its own scan when acted on). Nothing
    is cached, so there is nothing to release.
    """

    merged: DataFrame
    inserted: DataFrame
    updated: DataFrame
    deleted: DataFrame
    observation: Observation

    def counts(self) -> dict[str, int]:
        """Leg and output row counts, from the observation on
        ``merged`` — free after ``merged`` was written; otherwise it
        runs ``merged`` once through the ``noop`` sink."""
        ensure_ran(self.observation, self.merged)
        return observed(self.observation, inserted=0, updated=0, deleted=0, rows=0)


def scd1_changes(
    dim: DataFrame,
    stg: DataFrame,
    key: str,
    compare_cols: list[str],
) -> DataFrame:
    """Classify every key into insert/update/delete/keep in ONE
    full-outer join (one shuffle on ``key``).

    Returns dim-side and stg-side columns prefixed ``dim__``/``stg__``
    plus the classification marker column. ``compare_cols`` are
    diffed with null-safe equality (B4: the reference hand-expands
    the three-clause NULL expansion per column; ``eqNullSafe`` is the
    Spark-native collapse).
    """
    d = dim.select([F.col(c).alias(f"dim__{c}") for c in dim.columns])
    s = stg.select([F.col(c).alias(f"stg__{c}") for c in stg.columns])
    joined = d.join(s, d[f"dim__{key}"] == s[f"stg__{key}"], "full_outer")

    differs = null_safe_differs(
        [(F.col(f"dim__{c}"), F.col(f"stg__{c}")) for c in compare_cols]
    )
    action = (
        F.when(F.col(f"dim__{key}").isNull(), F.lit("insert"))
        .when(F.col(f"stg__{key}").isNull(), F.lit("delete"))
        .when(differs, F.lit("update"))
        .otherwise(F.lit("keep"))
    )
    return joined.withColumn(_MARKER, action)


def scd1_merge(
    dim: DataFrame,
    stg: DataFrame,
    key: str,
    compare_cols: list[str],
    processed_dt: Column | None = None,
    delete_missing: bool = True,
) -> Scd1Result:
    """Full SCD1 transition dim ⊕ staging-snapshot → new dim.

    Audit-column semantics follow the reference exactly:
    - insert: ``create_dt := coalesce(stg.update_dt, stg.create_dt)``,
      ``update_dt := NULL`` (G1, main.py:146-161);
    - update: business cols overwritten, ``update_dt := stg.update_dt``,
      ``create_dt`` preserved from the dim (G2);
    - both stamp ``processed_dt`` — pass a literal captured once per
      run for deterministic replays (SURVEY §4.3), else
      ``current_timestamp()``.
    - delete: physical removal of keys absent from the snapshot (G3);
      ``delete_missing=False`` for increment-style staging where
      absence does not mean deletion.

    Idempotence (tested property): merging the same snapshot twice is
    a no-op on business columns.
    """
    if processed_dt is None:
        processed_dt = F.current_timestamp()

    has_tech = "create_dt" in stg.columns
    order_col = (
        F.coalesce(F.col("update_dt"), F.col("create_dt"))
        if has_tech
        else F.lit(None).cast("timestamp")
    )
    stg = _dedup_staging(stg, key, order_col)

    changes = scd1_changes(dim, stg, key, compare_cols)
    action = F.col(_MARKER)
    is_insert, is_update, is_delete = (
        action == "insert", action == "update", action == "delete"
    )
    null_ts = F.lit(None).cast("timestamp")

    # per output column: its value on an inserted and on an updated
    # row; kept (and, without delete_missing, deleted) rows keep dim__*
    stg_side = {c: F.col(f"stg__{c}") for c in [key] + compare_cols}
    on_insert = {
        **stg_side,
        "create_dt": (
            F.coalesce(F.col("stg__update_dt"), F.col("stg__create_dt"))
            if has_tech
            else null_ts
        ),
        "update_dt": null_ts,
        "processed_dt": processed_dt,
    }
    on_update = {
        **stg_side,
        "create_dt": F.col("dim__create_dt"),
        "update_dt": F.col("stg__update_dt") if has_tech else null_ts,
        "processed_dt": processed_dt,
    }
    observation = Observation()
    survives = ~is_delete if delete_missing else F.lit(True)
    merged = (
        changes.observe(
            observation,
            F.count(F.when(is_insert, 1)).alias("inserted"),
            F.count(F.when(is_update, 1)).alias("updated"),
            F.count(F.when(is_delete, 1)).alias("deleted"),
            F.count(F.when(survives, 1)).alias("rows"),
        )
        .filter(survives)
        .select(
            [
                F.when(is_insert, on_insert[c])
                .when(is_update, on_update[c])
                .otherwise(F.col(f"dim__{c}"))
                .alias(c)
                for c in dim.columns
            ]
        )
    )
    return Scd1Result(
        merged=merged,
        inserted=changes.filter(is_insert).select(
            [e.alias(c) for c, e in on_insert.items()]
        ),
        updated=changes.filter(is_update).select(
            [e.alias(c) for c, e in on_update.items()]
        ),
        deleted=changes.filter(is_delete).select(
            [F.col(f"dim__{c}").alias(c) for c in dim.columns]
        ),
        observation=observation,
    )

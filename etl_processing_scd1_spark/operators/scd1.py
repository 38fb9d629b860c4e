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
single filter + per-column ``CASE marker …`` projection over that
classification — no union of per-leg branches, no cache. The per-leg
counts ride on the same pass as an ``Observation``, so writing the
merged frame is the only action a merge costs. Duplicate staging keys
(undefined in the reference — Postgres UPDATE-from-join picks an
arbitrary match) are resolved by an explicit deterministic policy:
highest ``coalesce(update_dt, create_dt)``, then arbitrary-but-stable
max over remaining columns. At 100 TB: the dim and snapshot co-shuffle
on the key; with bucketed dim storage the exchange on the dim side
disappears entirely.

Every expression is SQL text — the marker one ``CASE`` over an
OR-fold of ``NOT (a <=> b)``, the dedup one ``row_number() OVER``,
the projection one ``selectExpr`` — so a merge build makes a few
hundred py4j round trips instead of a dozen per column per
``when``/``col``/``alias`` (each PySpark Column call captures its
call site). Column names from the inputs are backtick-quoted by
``_q`` alone.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..observe import ensure_ran, observed

_MARKER = "__scd1_action__"
_PROCESSED = "__scd1_processed_dt__"
_NULL_TS = "CAST(NULL AS TIMESTAMP)"


def _q(name: str) -> str:
    """``name`` as a SQL identifier: backtick-quoted, inner backticks
    doubled — the one place SQL text meets a column name."""
    return "`" + name.replace("`", "``") + "`"


def _dedup_staging(stg: DataFrame, key: str, has_tech: bool) -> DataFrame:
    """Deterministic duplicate-key policy for staging input.

    ``row_number`` over (key / effective-change timestamp desc) keeps
    exactly one row per key — the freshest by
    ``coalesce(update_dt, create_dt)``, tie-broken by all remaining
    columns descending so the result is stable across runs and
    partitionings.
    """
    order = ["coalesce(`update_dt`, `create_dt`)"] if has_tech else []
    order += [_q(c) for c in stg.columns]
    rn = (
        f"row_number() OVER (PARTITION BY {_q(key)} ORDER BY "
        + ", ".join(f"{o} DESC NULLS LAST" for o in order)
        + ") AS `__rn__`"
    )
    return stg.selectExpr("*", rn).filter("`__rn__` = 1").drop("__rn__")


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
    the three-clause NULL expansion per column; ``NOT (a <=> b)`` is
    the Spark-native collapse, OR-folded inside the marker's
    ``CASE``).
    """
    d = dim.toDF(*[f"dim__{c}" for c in dim.columns])
    s = stg.toDF(*[f"stg__{c}" for c in stg.columns])
    dim_key, stg_key = _q(f"dim__{key}"), _q(f"stg__{key}")
    joined = d.join(s, F.expr(f"{dim_key} = {stg_key}"), "full_outer")
    differs = " OR ".join(
        f"NOT ({_q(f'dim__{c}')} <=> {_q(f'stg__{c}')})" for c in compare_cols
    ) or "false"
    return joined.selectExpr(
        "*",
        f"CASE WHEN {dim_key} IS NULL THEN 'insert' "
        f"WHEN {stg_key} IS NULL THEN 'delete' "
        f"WHEN {differs} THEN 'update' ELSE 'keep' END AS {_q(_MARKER)}",
    )


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
    # processed_dt is the one Column-valued input: appended once, then
    # referenced by name from the SQL text below
    changes = scd1_changes(
        dim, _dedup_staging(stg, key, has_tech), key, compare_cols
    ).withColumn(_PROCESSED, processed_dt)
    marker = _q(_MARKER)

    # per output column: its value on an inserted and on an updated
    # row; kept (and, without delete_missing, deleted) rows keep dim__*
    stg_side = {c: _q(f"stg__{c}") for c in [key] + compare_cols}
    on_insert = {
        **stg_side,
        "create_dt": "coalesce(`stg__update_dt`, `stg__create_dt`)" if has_tech else _NULL_TS,
        "update_dt": _NULL_TS,
        "processed_dt": _q(_PROCESSED),
    }
    on_update = {
        **stg_side,
        "create_dt": "`dim__create_dt`",
        "update_dt": "`stg__update_dt`" if has_tech else _NULL_TS,
        "processed_dt": _q(_PROCESSED),
    }
    observation = Observation()
    survives = f"{marker} <> 'delete'" if delete_missing else "true"
    merged = (
        changes.observe(
            observation,
            *[
                F.expr(f"count_if({cond}) AS {name}")
                for name, cond in (
                    ("inserted", f"{marker} = 'insert'"),
                    ("updated", f"{marker} = 'update'"),
                    ("deleted", f"{marker} = 'delete'"),
                    ("rows", survives),
                )
            ],
        )
        .filter(survives)
        .selectExpr(
            *[
                f"CASE {marker} WHEN 'insert' THEN {on_insert[c]} "
                f"WHEN 'update' THEN {on_update[c]} "
                f"ELSE {_q(f'dim__{c}')} END AS {_q(c)}"
                for c in dim.columns
            ]
        )
    )

    def leg(action: str, exprs: dict[str, str]) -> DataFrame:
        return changes.filter(f"{marker} = '{action}'").selectExpr(
            *[f"{e} AS {_q(c)}" for c, e in exprs.items()]
        )

    return Scd1Result(
        merged=merged,
        inserted=leg("insert", on_insert),
        updated=leg("update", on_update),
        deleted=leg("delete", {c: _q(f"dim__{c}") for c in dim.columns}),
        observation=observation,
    )

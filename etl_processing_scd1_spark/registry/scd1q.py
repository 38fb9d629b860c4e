"""SCD1 / fact-load operator queries (SURVEY.md §2.C C1-C4, §2.G).

The staging snapshot is derived deterministically from ``customer``:
keys ≡ 0 (mod 10) are absent (deletes), keys ≡ 0 (mod 7) carry a
changed balance and keys ≡ 0 (mod 11) a NULLed segment (updates —
including the value→NULL transition), and keys ≡ 0 (mod 13) reappear
shifted by 1,000,000 (inserts). Both the Spark query and the DuckDB
oracle rebuild the same snapshot, so the merge legs are exactly
checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import append_dedup, scd1_merge
from ..operators.dedup import attach_cache
from ..operators.scd2 import END_OF_TIME
from ._base import make_registry, table
from .core import AUDIT_TS

QUERIES, ORACLES, register = make_registry()


def _leg(frame: DataFrame, res) -> DataFrame:
    """Ride the merge's persisted classification frame on the returned
    leg via the attach/release contract — evidence queries hand out one
    leg of an Scd2Result, and without the attachment the persist
    outlives the consumer's action until the ContextCleaner happens to
    GC it."""
    if res.cached is not None:
        return attach_cache(frame, res.cached)
    return frame

DIM_CREATE_TS = "2020-01-01 00:00:00"

_STG_SQL = """
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal,
             CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_mktsegment END AS c_mktsegment
      FROM customer WHERE c_custkey % 10 <> 0
      UNION ALL
      SELECT c_custkey + 1000000, 'Customer#new' || CAST(c_custkey AS VARCHAR),
             c_nationkey, 0.0, 'NEW'
      FROM customer WHERE c_custkey % 13 = 0
"""


def _staging(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    existing = cust.filter(F.col("c_custkey") % 10 != 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        F.when(F.col("c_custkey") % 11 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    new = cust.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("Customer#new"), F.col("c_custkey").cast("string")).alias("c_name"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    return existing.unionByName(new)


def _dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "customer").select(
        "*",
        F.lit(DIM_CREATE_TS).cast("timestamp").alias("create_dt"),
        F.lit(None).cast("timestamp").alias("update_dt"),
        F.lit(DIM_CREATE_TS).cast("timestamp").alias("processed_dt"),
    )


_COMPARE = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


def _merge(spark: SparkSession, sf_dir: str):
    return scd1_merge(
        _dim(spark, sf_dir),
        _staging(spark, sf_dir),
        key="c_custkey",
        compare_cols=_COMPARE,
        processed_dt=F.lit(AUDIT_TS).cast("timestamp"),
    )


@register(
    "scd1_insert_new",
    oracle=f"""
    WITH stg AS ({_STG_SQL})
    SELECT s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal, s.c_mktsegment,
           CAST(NULL AS TIMESTAMP) AS create_dt,
           CAST(NULL AS TIMESTAMP) AS update_dt,
           TIMESTAMP '{AUDIT_TS}' AS processed_dt
    FROM stg s LEFT JOIN customer d ON s.c_custkey = d.c_custkey
    WHERE d.c_custkey IS NULL
    """,
)
def scd1_insert_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/G1: new-key detection — staging anti-join dim
    (main.py:146-161). create_dt := coalesce(stg.update_dt,
    stg.create_dt) = NULL here because file-style staging carries no
    technical columns (the reference's terminals behave identically)."""
    return _merge(spark, sf_dir).inserted


@register(
    "scd1_update_detect",
    oracle=f"""
    WITH stg AS ({_STG_SQL})
    SELECT s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal, s.c_mktsegment,
           TIMESTAMP '{DIM_CREATE_TS}' AS create_dt,
           CAST(NULL AS TIMESTAMP) AS update_dt,
           TIMESTAMP '{AUDIT_TS}' AS processed_dt
    FROM stg s JOIN customer d ON s.c_custkey = d.c_custkey
    WHERE s.c_name        IS DISTINCT FROM d.c_name
       OR s.c_nationkey   IS DISTINCT FROM d.c_nationkey
       OR s.c_acctbal     IS DISTINCT FROM d.c_acctbal
       OR s.c_mktsegment  IS DISTINCT FROM d.c_mktsegment
    """,
)
def scd1_update_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2/G2: inner join + null-safe any-column diff
    (main.py:183-324, the reference's largest SQL block, 142 lines
    for 4 dims — here one parametrized operator). Overwrite
    semantics: staged values win, create_dt preserved."""
    return _merge(spark, sf_dir).updated


@register(
    "scd1_delete_missing",
    oracle=f"""
    WITH stg AS ({_STG_SQL})
    SELECT d.c_custkey, d.c_name, d.c_nationkey, d.c_acctbal, d.c_mktsegment,
           TIMESTAMP '{DIM_CREATE_TS}' AS create_dt,
           CAST(NULL AS TIMESTAMP) AS update_dt,
           TIMESTAMP '{DIM_CREATE_TS}' AS processed_dt
    FROM customer d LEFT JOIN stg s ON d.c_custkey = s.c_custkey
    WHERE s.c_custkey IS NULL
    """,
)
def scd1_delete_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3/G3: snapshot-diff delete — dim keys absent from the day's
    full snapshot (main.py:329-343; the reference stages a key-only
    ``*_del`` copy first, unnecessary here — the anti join runs on
    the staging frame directly, SURVEY §4)."""
    return _merge(spark, sf_dir).deleted


@register(
    "scd1_merge_full",
    oracle=f"""
    WITH stg AS ({_STG_SQL})
    SELECT d.c_custkey, d.c_name, d.c_nationkey, d.c_acctbal, d.c_mktsegment,
           TIMESTAMP '{DIM_CREATE_TS}' AS create_dt,
           CAST(NULL AS TIMESTAMP) AS update_dt,
           TIMESTAMP '{DIM_CREATE_TS}' AS processed_dt
    FROM customer d JOIN stg s ON d.c_custkey = s.c_custkey
    WHERE NOT (s.c_name       IS DISTINCT FROM d.c_name
            OR s.c_nationkey  IS DISTINCT FROM d.c_nationkey
            OR s.c_acctbal    IS DISTINCT FROM d.c_acctbal
            OR s.c_mktsegment IS DISTINCT FROM d.c_mktsegment)
    UNION ALL
    SELECT s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal, s.c_mktsegment,
           TIMESTAMP '{DIM_CREATE_TS}', CAST(NULL AS TIMESTAMP), TIMESTAMP '{AUDIT_TS}'
    FROM stg s JOIN customer d ON s.c_custkey = d.c_custkey
    WHERE s.c_name       IS DISTINCT FROM d.c_name
       OR s.c_nationkey  IS DISTINCT FROM d.c_nationkey
       OR s.c_acctbal    IS DISTINCT FROM d.c_acctbal
       OR s.c_mktsegment IS DISTINCT FROM d.c_mktsegment
    UNION ALL
    SELECT s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal, s.c_mktsegment,
           CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP), TIMESTAMP '{AUDIT_TS}'
    FROM stg s LEFT JOIN customer d ON s.c_custkey = d.c_custkey
    WHERE d.c_custkey IS NULL
    """,
)
def scd1_merge_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1-G3 composed: the full SCD1 transition kept ∪ changed ∪ new
    as ONE recompute with a single key shuffle (SURVEY §2.G). This is
    the engine's replacement for the reference's three-statement
    in-place mutation."""
    return _merge(spark, sf_dir).merged


SCD2_HIST_FROM = "2019-01-01 00:00:00"
SCD2_SEED_FROM = "2020-01-01 00:00:00"
SCD2_EFFECTIVE = "2021-03-01 00:00:00"

PIT_SEED = "1992-01-01 00:00:00"
PIT_EFFECTIVE = "1996-01-01 00:00:00"

_SCD2_DIFF = """(s.c_name       IS DISTINCT FROM d.c_name
            OR s.c_nationkey  IS DISTINCT FROM d.c_nationkey
            OR s.c_acctbal    IS DISTINCT FROM d.c_acctbal
            OR s.c_mktsegment IS DISTINCT FROM d.c_mktsegment)"""


@register(
    "scd2_merge_full",
    oracle=f"""
    WITH stg AS ({_STG_SQL})
    -- Interval columns emitted as ISO strings: the driver harness
    -- canonicalizes through pandas datetime64[ns], which cannot hold
    -- the 9999-12-31 open-end sentinel (round-4 err evidence).
    -- pre-existing history: passes through untouched
    SELECT c_custkey, 'Customer#old' || CAST(c_custkey AS VARCHAR) AS c_name,
           c_nationkey, c_acctbal - 50 AS c_acctbal, c_mktsegment,
           '{SCD2_HIST_FROM}' AS valid_from,
           '{SCD2_SEED_FROM}' AS valid_to,
           false AS is_current
    FROM customer WHERE c_custkey % 17 = 0
    UNION ALL
    -- kept: unchanged current versions
    SELECT d.c_custkey, d.c_name, d.c_nationkey, d.c_acctbal, d.c_mktsegment,
           '{SCD2_SEED_FROM}', '{END_OF_TIME}', true
    FROM customer d JOIN stg s ON d.c_custkey = s.c_custkey
    WHERE NOT {_SCD2_DIFF}
    UNION ALL
    -- closed: changed keys and keys absent from the snapshot
    SELECT d.c_custkey, d.c_name, d.c_nationkey, d.c_acctbal, d.c_mktsegment,
           '{SCD2_SEED_FROM}', '{SCD2_EFFECTIVE}', false
    FROM customer d LEFT JOIN stg s ON d.c_custkey = s.c_custkey
    WHERE s.c_custkey IS NULL OR {_SCD2_DIFF}
    UNION ALL
    -- opened: new versions for changed keys and brand-new keys
    SELECT s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal, s.c_mktsegment,
           '{SCD2_EFFECTIVE}', '{END_OF_TIME}', true
    FROM stg s LEFT JOIN customer d ON s.c_custkey = d.c_custkey
    WHERE d.c_custkey IS NULL OR {_SCD2_DIFF}
    """,
)
def scd2_merge_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference §2.G: SCD TYPE 2 over the same snapshot
    derivation as scd1_merge_full — changed keys close their current
    version at the effective timestamp and open a new one, absent
    keys soft-delete (close, history kept), pre-existing closed
    versions pass through untouched (operators.scd2.scd2_merge;
    classification reuses the single scd1_changes full-outer join)."""
    from ..operators.scd2 import scd2_merge

    cust = table(spark, sf_dir, "customer")
    business = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    current = cust.select(
        *business,
        F.lit(SCD2_SEED_FROM).cast("timestamp").alias("valid_from"),
        F.lit(END_OF_TIME).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    history = cust.filter(F.col("c_custkey") % 17 == 0).select(
        "c_custkey",
        F.concat(F.lit("Customer#old"), F.col("c_custkey").cast("string")).alias(
            "c_name"
        ),
        "c_nationkey",
        (F.col("c_acctbal") - 50).alias("c_acctbal"),
        "c_mktsegment",
        F.lit(SCD2_HIST_FROM).cast("timestamp").alias("valid_from"),
        F.lit(SCD2_SEED_FROM).cast("timestamp").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    res = scd2_merge(
        current.unionByName(history),
        _staging(spark, sf_dir),
        key="c_custkey",
        compare_cols=_COMPARE,
        effective_ts=F.lit(SCD2_EFFECTIVE).cast("timestamp"),
    )
    # Driver-harness-safe projection: the engine-side interval columns
    # stay TIMESTAMP (operators.scd2), but the evidence query emits
    # them as ISO strings because the END_OF_TIME open-end sentinel
    # (9999-12-31) overflows pandas datetime64[ns] in the driver's
    # canonicalization (CORRECTNESS_r04 err).
    out = res.merged.withColumns(
        {
            "valid_from": F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss"),
            "valid_to": F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss"),
        }
    )
    # attach on the FINAL frame — the marker attribute does not
    # propagate through DataFrame transformations
    return _leg(out, res)


@register(
    "fact_append_dedup",
    oracle="""
    SELECT s.*
    FROM (SELECT * FROM orders
          WHERE o_orderdate >= TIMESTAMP '1997-06-01'
            AND o_orderdate <  TIMESTAMP '1998-06-01') s
    LEFT JOIN (SELECT o_orderkey FROM orders
               WHERE o_orderdate < TIMESTAMP '1998-01-01') f
      ON s.o_orderkey = f.o_orderkey
    WHERE f.o_orderkey IS NULL
    """,
)
def fact_append_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/G4: idempotent fact append — only staged ids not yet in the
    fact survive (main.py:376-391; verified blacklist trajectory
    7→15→24 on the reference data). The incoming batch is the small
    side; at 100 TB the fact side is additionally partition-pruned via
    ``fact_filter`` before the anti join (see operators.facts)."""
    orders = table(spark, sf_dir, "orders")
    fact = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    stg = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp"))
    )
    return append_dedup(fact, stg, id_col="o_orderkey")


@register(
    "scd2_point_in_time",
    oracle=f"""
    WITH stg AS ({_STG_SQL}),
    dim AS (
      SELECT d.c_custkey, d.c_name, d.c_mktsegment,
             TIMESTAMP '{PIT_SEED}' AS valid_from,
             TIMESTAMP '{PIT_EFFECTIVE}' AS valid_to
      FROM customer d LEFT JOIN stg s ON d.c_custkey = s.c_custkey
      WHERE s.c_custkey IS NULL OR {_SCD2_DIFF}
      UNION ALL
      SELECT d.c_custkey, d.c_name, d.c_mktsegment,
             TIMESTAMP '{PIT_SEED}', TIMESTAMP '{END_OF_TIME}'
      FROM customer d JOIN stg s ON d.c_custkey = s.c_custkey
      WHERE NOT {_SCD2_DIFF}
      UNION ALL
      SELECT s.c_custkey, s.c_name, s.c_mktsegment,
             TIMESTAMP '{PIT_EFFECTIVE}', TIMESTAMP '{END_OF_TIME}'
      FROM stg s LEFT JOIN customer d ON s.c_custkey = d.c_custkey
      WHERE d.c_custkey IS NULL OR {_SCD2_DIFF}
    )
    SELECT o.o_orderkey, o.o_custkey, CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
           v.c_name AS name_as_of_order, v.c_mktsegment AS segment_as_of_order
    FROM orders o JOIN dim v
      ON o.o_custkey = v.c_custkey
     AND CAST(o.o_orderdate AS TIMESTAMP) >= v.valid_from
     AND CAST(o.o_orderdate AS TIMESTAMP) <  v.valid_to
    """,
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumption side of SCD2 — AS-WAS enrichment: each order
    joins the dimension VERSION that was valid on its order date.
    The version timeline here brackets the order-date domain (seed
    1992, change effective 1996): pre-1996 orders see the original
    attributes, later orders see the changed ones, and orders of
    soft-deleted keys after their close date drop out — exactly the
    as-was semantics an SCD1 warehouse cannot answer.

    Plan shape: the interval predicate rides the custkey equi-join —
    per key the version list is short, so this is an equi-join plus a
    bounded filter, never a range-join blowup; the slowly-versioned
    dim side is broadcast (or co-bucketed on the key at scale)."""
    from ..operators.scd2 import scd2_merge

    cust = table(spark, sf_dir, "customer")
    business = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    current = cust.select(
        *business,
        F.lit(PIT_SEED).cast("timestamp").alias("valid_from"),
        F.lit(END_OF_TIME).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    res = scd2_merge(
        current,
        _staging(spark, sf_dir),
        key="c_custkey",
        compare_cols=_COMPARE,
        effective_ts=F.lit(PIT_EFFECTIVE).cast("timestamp"),
    )
    dim = res.merged.select(
        "c_custkey", "c_name", "c_mktsegment", "valid_from", "valid_to"
    )
    orders = table(spark, sf_dir, "orders")
    out = (
        orders.join(
            F.broadcast(dim),
            (orders["o_custkey"] == dim["c_custkey"])
            & (orders["o_orderdate"] >= dim["valid_from"])
            & (orders["o_orderdate"] < dim["valid_to"]),
        )
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            F.col("c_name").alias("name_as_of_order"),
            F.col("c_mktsegment").alias("segment_as_of_order"),
        )
    )
    return _leg(out, res)


SNAPSHOT_DIFF_ORACLE = """
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderdate < DATE '1996-01-01'
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
             o_totalprice
      FROM orders
      WHERE o_orderdate < DATE '1997-01-01' AND o_orderkey % 10 <> 0
    ),
    j AS (
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
             CASE
               WHEN o.o_orderkey IS NULL THEN 'insert'
               WHEN n.o_orderkey IS NULL THEN 'delete'
               WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                 OR o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'update'
               ELSE 'keep' END AS action
      FROM old o FULL OUTER JOIN new n ON n.o_orderkey = o.o_orderkey
    )
    SELECT action, CAST(count(*) AS BIGINT) AS n_keys
    FROM j GROUP BY action
"""


@register("snapshot_diff", oracle=SNAPSHOT_DIFF_ORACLE)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-diff / regression audit: classify every key between two
    snapshot versions as insert/update/delete/keep — the engine's
    scd1_changes primitive reused as a standalone comparison tool
    (what you run before promoting a rebuilt table, or to diff a
    migration against its source). ONE full-outer join on the key,
    null-safe column comparison, then a 4-row count rollup. The two
    'versions' are deterministic slices of orders (a date cut, with
    mod-10 deletes and mod-7 status mutations on the newer side)."""
    from ..operators.scd1 import _MARKER, scd1_changes

    orders = table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderdate") < F.lit("1996-01-01").cast("date")).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = (
        orders.filter(
            (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
            & (F.col("o_orderkey") % 10 != 0)
        )
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("X"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            "o_totalprice",
        )
    )
    changes = scd1_changes(
        old, new, key="o_orderkey", compare_cols=["o_orderstatus", "o_totalprice"]
    )
    return (
        changes.groupBy(F.col(_MARKER).alias("action"))
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )

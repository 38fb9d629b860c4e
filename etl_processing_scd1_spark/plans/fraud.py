"""The three fraud report rules (SURVEY.md §2.H) as DataFrame plans.

Each rule is star-join denormalization (C5-C7) + a rule predicate,
projected onto the report schema ``(event_dt, passport, fio, phone,
event_type, report_dt)`` (main.ddl:196-203). Deviations from the
as-written reference, per SURVEY §7:

- H1 implements the *intended* predicate (expired OR blacklisted
  passport) by default; ``fraud_type1(as_written=True)`` reproduces
  the ``WHERE 1=1 OR ...`` vacuous-truth bug at main.py:412-413
  exactly (every transaction flagged) for migration validation.
- ``report_dt`` = the transaction's day (as written, main.py:404) —
  the pdf specifies run date; as-written wins, documented here.
- ``fio`` uses NULL-propagating concat (D3 semantics).

Scale design: the dims (terminals/cards/accounts/clients ≈ 10²-10⁵
rows against a 10¹⁰-row fact) broadcast — every join below is a
broadcast hash join with NO shuffle of the fact. Rule 3's window is
the one unavoidable shuffle (partition by card); it reuses one
partitioning for both lag computations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import day_of, fio, hours_between, normalize_card_num, trim_key

EVENT_EXPIRED_OR_BLACKLISTED = "1"
EVENT_EXPIRED_CONTRACT = "2"
EVENT_CITY_VELOCITY = "3"
EVENT_TYPES = (EVENT_EXPIRED_OR_BLACKLISTED, EVENT_EXPIRED_CONTRACT, EVENT_CITY_VELOCITY)


def star_denormalize(
    transactions: DataFrame,
    cards: DataFrame,
    accounts: DataFrame,
    clients: DataFrame,
) -> DataFrame:
    """fact ⟕ cards ⟕ accounts ⟕ clients (C5).

    Key normalization per the reference: card join on trim (C6,
    main.py:407), account join on trim (main.py:409). All dims
    broadcast explicitly — their statistics may be absent when read
    from fresh staging. Rule 3 joins terminals itself, on raw id.
    """
    t = transactions.alias("ft")
    dc = F.broadcast(cards.alias("dc"))
    da = F.broadcast(accounts.alias("da"))
    dcl = F.broadcast(clients.alias("dcl"))
    return (
        t.join(dc, trim_key(F.col("ft.card_num")) == trim_key(F.col("dc.card_num")), "left")
        .join(da, trim_key(F.col("dc.account_num")) == trim_key(F.col("da.account_num")), "left")
        .join(dcl, F.col("da.client") == F.col("dcl.client_id"), "left")
    )


def _report_projection(event_type: str) -> list[Column]:
    return [
        F.col("ft.trans_date").alias("event_dt"),
        F.col("dcl.passport_num").alias("passport"),
        fio(F.col("dcl.last_name"), F.col("dcl.first_name"), F.col("dcl.patronymic")).alias("fio"),
        F.col("dcl.phone").alias("phone"),
        F.lit(event_type).alias("event_type"),
        day_of(F.col("ft.trans_date")).cast("timestamp").alias("report_dt"),
    ]


def fraud_type1(
    transactions: DataFrame,
    cards: DataFrame,
    accounts: DataFrame,
    clients: DataFrame,
    blacklist: DataFrame,
    as_written: bool = False,
) -> DataFrame:
    """Rule 1 — transaction while passport expired or blacklisted
    (H1, main.py:397-415, intended predicate).

    Blacklist membership is a left-semi join (B6's IN-subquery
    decorrelated); the blacklist is dimension-sized → broadcast semi.

    ``as_written=True`` is the bug-compat mode reproducing the
    reference's ``WHERE 1=1 OR expired OR listed`` (main.py:412-413):
    AND binds tighter than OR, so the predicate is vacuously true and
    EVERY transaction lands in the report — including rows whose left
    joins found no card/account/client (NULL passport/fio/phone),
    exactly what the reference emits. Migration validation runs both
    modes side by side; production uses the default.
    """
    star = star_denormalize(transactions, cards, accounts, clients)
    if as_written:
        return star.select(_report_projection(EVENT_EXPIRED_OR_BLACKLISTED))
    expired = (
        F.col("dcl.passport_valid_to").isNotNull()
        & (F.col("dcl.passport_valid_to") < F.col("ft.trans_date"))
    )
    listed = blacklist.select(F.col("passport_num").alias("__bl_passport__")).distinct()
    flagged = (
        star.join(
            F.broadcast(listed),
            F.col("dcl.passport_num") == F.col("__bl_passport__"),
            "left",
        )
        .filter(expired | F.col("__bl_passport__").isNotNull())
    )
    return flagged.select(_report_projection(EVENT_EXPIRED_OR_BLACKLISTED))


def fraud_type2(
    transactions: DataFrame,
    cards: DataFrame,
    accounts: DataFrame,
    clients: DataFrame,
) -> DataFrame:
    """Rule 2 — transaction on an expired account contract (H2,
    main.py:418-434). No NULL guard on valid_to: NULL → not flagged
    (3-valued logic) — preserved as written."""
    star = star_denormalize(transactions, cards, accounts, clients)
    return star.filter(F.col("da.valid_to") < F.col("ft.trans_date")).select(
        _report_projection(EVENT_EXPIRED_CONTRACT)
    )


def fraud_type3(
    transactions: DataFrame,
    cards: DataFrame,
    accounts: DataFrame,
    clients: DataFrame,
    terminals: DataFrame,
    max_gap_hours: float = 1.0,
) -> DataFrame:
    """Rule 3 — operations in different cities within one hour (H3,
    main.py:437-467; E1/E2).

    ``lag(city)``/``lag(ts)`` per card ordered by trans_date; flag the
    LATER transaction of a city-hopping pair. The card join here uses
    space-stripped equality (C7, main.py:458) — the reference's rule-3
    variant. Semi join back to the fact then star join for client
    attributes, exactly the CTE→IN shape of the reference.

    One shuffle: Window.partitionBy(card). The semi join back is a
    broadcast (flagged ids are rare by construction).
    """
    t = transactions.alias("ft")
    dt_ = F.broadcast(terminals.alias("dt"))
    with_city = t.join(dt_, F.col("ft.terminal") == F.col("dt.terminal_id"), "left").select(
        F.col("ft.trans_id").alias("trans_id"),
        F.col("ft.trans_date").alias("trans_date"),
        normalize_card_num(F.col("ft.card_num")).alias("card_key"),
        F.col("dt.terminal_city").alias("city"),
    )
    w = Window.partitionBy("card_key").orderBy("trans_date", "trans_id")
    pre = with_city.select(
        "trans_id",
        "trans_date",
        "city",
        F.lag("city").over(w).alias("prev_city"),
        F.lag("trans_date").over(w).alias("prev_date"),
    )
    hopping = pre.filter(
        F.col("prev_city").isNotNull()
        & (F.col("city") != F.col("prev_city"))
        & (hours_between("trans_date", "prev_date") < F.lit(max_gap_hours))
    ).select("trans_id")

    star = star_denormalize(transactions, cards, accounts, clients)
    flagged = star.join(
        F.broadcast(hopping),
        F.col("ft.trans_id") == hopping["trans_id"],
        "left_semi",
    )
    return flagged.select(_report_projection(EVENT_CITY_VELOCITY))

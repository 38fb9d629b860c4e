"""The three fraud report rules (SURVEY.md §2.H), one plan for all three.

Each rule is a predicate over the star join of the fact with cards,
accounts and clients (C5-C7), projected onto the report schema
``(event_dt, passport, fio, phone, event_type, report_dt)``
(main.ddl:196-203). The predicates and the projection are SQL text,
defined once below. :func:`fraud_events` evaluates all three rules in
one plan; ``fraud_type1..3`` build one rule each, in the reference's
shape, from the same text.

fraud_events, in order:

1. one scan of ``fact ⟕ terminals``, projected to the columns the
   rules and the report need, and ONE window per space-stripped card
   for both ``lag(city)`` and ``lag(trans_date)``. Rule 3's flag is
   computed here, before the star join, so a dim fan-out cannot shift
   ``lag``;
2. one star join;
3. one left join of the distinct blacklisted passports;
4. ``explode(filter(array(CASE … '1' END, CASE … '2' END, CASE … '3'
   END), e -> e IS NOT NULL))``: one event per rule a row trips, none
   for a NULL predicate.

Rule 3 as written flags the fact rows whose id is ``IN`` the set of
hopping transactions; fraud_events flags each row in place. The two
agree while ``trans_id`` is unique in the fact. The fact's append-dedup
keeps it unique under the source protocol that re-deliveries carry the
same business dates — the protocol the ``p_day`` prune of
``pipeline.run_day``'s fact append already assumes.

Deviations from the as-written reference, per SURVEY §7:

- H1 implements the *intended* predicate (expired OR blacklisted
  passport) by default; ``fraud_type1(as_written=True)`` reproduces
  the ``WHERE 1=1 OR ...`` vacuous-truth bug at main.py:412-413
  exactly (every transaction flagged) for migration validation.
- ``report_dt`` = the transaction's day (as written, main.py:404) —
  the pdf specifies run date; as-written wins, documented here.
- ``fio`` uses NULL-propagating concat (D3 semantics).

Scale design: the dims (terminals/cards/accounts/clients ≈ 10²-10⁵
rows against a 10¹⁰-row fact) and the blacklist broadcast — every join
below is a broadcast hash join with NO shuffle of the fact. Rule 3's
window is the one unavoidable shuffle (partition by card).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EVENT_EXPIRED_OR_BLACKLISTED = "1"
EVENT_EXPIRED_CONTRACT = "2"
EVENT_CITY_VELOCITY = "3"
EVENT_TYPES = (EVENT_EXPIRED_OR_BLACKLISTED, EVENT_EXPIRED_CONTRACT, EVENT_CITY_VELOCITY)

#: rule 1 over the star join and the left-joined blacklist ``bl``:
#: passport expired or blacklisted (H1, main.py:397-415, intended
#: predicate; B6's IN-subquery decorrelated into the left join)
EXPIRED_OR_BLACKLISTED = (
    "(dcl.passport_valid_to IS NOT NULL AND dcl.passport_valid_to < ft.trans_date)"
    " OR bl.passport_num IS NOT NULL"
)
#: rule 2 over the star join: expired account contract (H2,
#: main.py:418-434). No NULL guard on valid_to: NULL → not flagged
#: (3-valued logic), as written
EXPIRED_CONTRACT = "da.valid_to < ft.trans_date"
#: previous city and time of each transaction on its card: the
#: space-stripped key of rule 3 (C7, main.py:458), ties on the time
#: broken by id
_PREV_ON_CARD = "OVER (PARTITION BY translate(card_num, ' ', '') ORDER BY trans_date, trans_id)"
#: rule 3 over the lag columns: the LATER transaction of a card seen
#: in two cities within one hour (H3, main.py:437-467; E1/E2; hours as
#: ``extract(epoch …)/3600``, D8). A NULL id matches no ``IN``, so it
#: is never flagged
CITY_HOP = (
    "trans_id IS NOT NULL AND prev_city IS NOT NULL AND city <> prev_city"
    " AND (unix_timestamp(trans_date) - unix_timestamp(prev_date)) / 3600D < 1.0D"
)


def _report(event_type: str) -> list[str]:
    """The report projection over the star join; ``event_type`` is SQL
    text."""
    return [
        "ft.trans_date AS event_dt",
        "dcl.passport_num AS passport",
        # ``last || ' ' || first || ' ' || patronymic`` (D3,
        # main.py:401,422,452): ``concat``, not ``concat_ws``, so a NULL
        # patronymic nulls the whole fio, as in the reference
        "concat(dcl.last_name, ' ', dcl.first_name, ' ', dcl.patronymic) AS fio",
        "dcl.phone AS phone",
        f"{event_type} AS event_type",
        # the transaction's day: the reference round-trips through
        # to_char/to_date (D6, main.py:404)
        "CAST(to_date(ft.trans_date) AS TIMESTAMP) AS report_dt",
    ]


def star_denormalize(
    transactions: DataFrame,
    cards: DataFrame,
    accounts: DataFrame,
    clients: DataFrame,
) -> DataFrame:
    """fact ⟕ cards ⟕ accounts ⟕ clients (C5), aliased ``ft``, ``dc``,
    ``da``, ``dcl``.

    Key normalization per the reference: card join on trim (C6,
    main.py:407), account join on trim (main.py:409). All dims
    broadcast explicitly — their statistics may be absent when read
    from fresh staging.
    """
    return (
        transactions.alias("ft")
        .join(
            F.broadcast(cards.alias("dc")),
            F.expr("trim(ft.card_num) = trim(dc.card_num)"),
            "left",
        )
        .join(
            F.broadcast(accounts.alias("da")),
            F.expr("trim(dc.account_num) = trim(da.account_num)"),
            "left",
        )
        .join(F.broadcast(clients.alias("dcl")), F.expr("da.client = dcl.client_id"), "left")
    )


def _with_blacklist(star: DataFrame, blacklist: DataFrame) -> DataFrame:
    """``star`` ⟕ the distinct blacklisted passports, aliased ``bl``."""
    listed = blacklist.selectExpr("passport_num").distinct().alias("bl")
    return star.join(F.broadcast(listed), F.expr("dcl.passport_num = bl.passport_num"), "left")


def _with_prev_city(transactions: DataFrame, terminals: DataFrame) -> DataFrame:
    """``(trans_id, trans_date, card_num, city, prev_city, prev_date)``:
    fact ⟕ terminals on raw id, and both lags over one window."""
    return (
        transactions.alias("ft")
        .join(F.broadcast(terminals.alias("dt")), F.expr("ft.terminal = dt.terminal_id"), "left")
        .selectExpr("ft.trans_id", "ft.trans_date", "ft.card_num", "dt.terminal_city AS city")
        .selectExpr(
            "*",
            f"lag(city) {_PREV_ON_CARD} AS prev_city",
            f"lag(trans_date) {_PREV_ON_CARD} AS prev_date",
        )
    )


def fraud_events(
    transactions: DataFrame,
    cards: DataFrame,
    accounts: DataFrame,
    clients: DataFrame,
    terminals: DataFrame,
    blacklist: DataFrame,
) -> DataFrame:
    """Rules 1-3 in one plan: the same event multiset as the union of
    ``fraud_type1``, ``fraud_type2`` and ``fraud_type3`` while
    ``trans_id`` is unique in the fact (module docstring), from one
    scan of the fact."""
    hops = _with_prev_city(transactions, terminals).selectExpr(
        "trans_date", "card_num", f"{CITY_HOP} AS hop"
    )
    flagged = _with_blacklist(star_denormalize(hops, cards, accounts, clients), blacklist)
    rules = {
        EVENT_EXPIRED_OR_BLACKLISTED: EXPIRED_OR_BLACKLISTED,
        EVENT_EXPIRED_CONTRACT: EXPIRED_CONTRACT,
        EVENT_CITY_VELOCITY: "ft.hop",
    }
    events = ", ".join(f"CASE WHEN {p} THEN '{t}' END" for t, p in rules.items())
    return flagged.selectExpr(*_report(f"explode(filter(array({events}), e -> e IS NOT NULL))"))


def fraud_type1(
    transactions: DataFrame,
    cards: DataFrame,
    accounts: DataFrame,
    clients: DataFrame,
    blacklist: DataFrame,
    as_written: bool = False,
) -> DataFrame:
    """Rule 1 alone — transaction while passport expired or
    blacklisted (:data:`EXPIRED_OR_BLACKLISTED`).

    ``as_written=True`` is the bug-compat mode reproducing the
    reference's ``WHERE 1=1 OR expired OR listed`` (main.py:412-413):
    AND binds tighter than OR, so the predicate is vacuously true and
    EVERY transaction lands in the report — including rows whose left
    joins found no card/account/client (NULL passport/fio/phone),
    exactly what the reference emits. Migration validation runs both
    modes side by side; production uses the default.
    """
    star = star_denormalize(transactions, cards, accounts, clients)
    report = _report(f"'{EVENT_EXPIRED_OR_BLACKLISTED}'")
    if as_written:
        return star.selectExpr(*report)
    return _with_blacklist(star, blacklist).filter(EXPIRED_OR_BLACKLISTED).selectExpr(*report)


def fraud_type2(
    transactions: DataFrame,
    cards: DataFrame,
    accounts: DataFrame,
    clients: DataFrame,
) -> DataFrame:
    """Rule 2 alone — transaction on an expired account contract
    (:data:`EXPIRED_CONTRACT`)."""
    return (
        star_denormalize(transactions, cards, accounts, clients)
        .filter(EXPIRED_CONTRACT)
        .selectExpr(*_report(f"'{EVENT_EXPIRED_CONTRACT}'"))
    )


def fraud_type3(
    transactions: DataFrame,
    cards: DataFrame,
    accounts: DataFrame,
    clients: DataFrame,
    terminals: DataFrame,
) -> DataFrame:
    """Rule 3 alone — operations in different cities within one hour
    (:data:`CITY_HOP`), in the reference's CTE→IN shape: the hopping
    transactions' ids, then a semi join of the star join on them
    (broadcast: flagged ids are rare by construction)."""
    hopping = _with_prev_city(transactions, terminals).filter(CITY_HOP)
    return (
        star_denormalize(transactions, cards, accounts, clients)
        .join(
            F.broadcast(hopping.selectExpr("trans_id").alias("hop")),
            F.expr("ft.trans_id = hop.trans_id"),
            "left_semi",
        )
        .selectExpr(*_report(f"'{EVENT_CITY_VELOCITY}'"))
    )

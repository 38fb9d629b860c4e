"""Fraud rules on a reference-shaped synthetic warehouse (FIXTURES.md
§1.4 planted events): expired passport, blacklisted passport, expired
account contract, city-hop velocity — including the trim/space join-key
normalization and NULL-propagating fio — and the fused builder that
evaluates all three rules in one plan."""

from __future__ import annotations

import datetime as dt
import functools
from collections import Counter
from decimal import Decimal

from pyspark.sql import functions as F

from etl_processing_scd1_spark.plans import fraud_events, fraud_type1, fraud_type2, fraud_type3

D = dt.datetime
TX = functools.partial(D, 2021, 3, 1)


def _warehouse(spark):
    clients = spark.createDataFrame(
        [
            # client, names, dob, passport, valid_to, phone
            ("C1", "Ivanov", "Ivan", "Ivanovich", dt.date(1980, 1, 1),
             "1111 111111", dt.date(2020, 1, 1), "+7 111"),   # expired passport
            ("C2", "Petrov", "Petr", None, dt.date(1990, 2, 2),
             "2222 222222", dt.date(2030, 1, 1), "+7 222"),   # blacklisted; NULL patronymic
            ("C3", "Sidorov", "S", "S", dt.date(1970, 3, 3),
             "3333 333333", None, "+7 333"),                  # clean (NULL valid_to → never flagged)
        ],
        "client_id string, last_name string, first_name string, patronymic string, "
        "date_of_birth date, passport_num string, passport_valid_to date, phone string",
    )
    accounts = spark.createDataFrame(
        [
            ("ACC1              ", dt.date(2030, 1, 1), "C1"),  # BPCHAR padding
            ("ACC2", dt.date(2030, 1, 1), "C2"),
            ("ACC3", dt.date(2021, 1, 1), "C3"),                # expired contract
        ],
        "account_num string, valid_to date, client string",
    )
    cards = spark.createDataFrame(
        [
            ("1111 2222 3333 4444", "ACC1"),
            ("5555 6666 7777 8888   ", "ACC2"),  # BPCHAR trailing padding (trim key)
            ("9999 0000 1111 2222", "ACC3"),
        ],
        "card_num string, account_num string",
    )
    terminals = spark.createDataFrame(
        [("A1", "ATM", "Moscow", "a"), ("A2", "ATM", "Kazan", "b"), ("A3", "ATM", "Moscow", "c")],
        "terminal_id string, terminal_type string, terminal_city string, terminal_address string",
    )
    transactions = spark.createDataFrame(
        [
            ("T1", TX(10, 0, 0), 100.0, "1111 2222 3333 4444", "PAYMENT", "SUCCESS", "A1"),
            ("T2", TX(11, 0, 0), 100.0, "5555 6666 7777 8888", "PAYMENT", "SUCCESS", "A1"),
            ("T3", TX(12, 0, 0), 100.0, "9999 0000 1111 2222", "PAYMENT", "SUCCESS", "A1"),
            # city-hop pair for card C2 within 30 min (A1 Moscow → A2 Kazan)
            ("T4", TX(11, 30, 0), 50.0, "5555 6666 7777 8888", "WITHDRAW", "SUCCESS", "A2"),
            # same-city pair within the hour → NOT flagged (A1 → A3 both Moscow)
            ("T5", TX(10, 20, 0), 50.0, "1111 2222 3333 4444", "WITHDRAW", "SUCCESS", "A3"),
        ],
        "trans_id string, trans_date timestamp, amt double, card_num string, "
        "oper_type string, oper_result string, terminal string",
    ).withColumn("amt", F.col("amt").cast("decimal(18,5)"))
    blacklist = spark.createDataFrame(
        [(D(2021, 2, 1), "2222 222222")], "entry_dt timestamp, passport_num string"
    )
    return transactions, cards, accounts, clients, terminals, blacklist


def test_rule1_expired_or_blacklisted(spark):
    tx, cards, accounts, clients, terminals, blacklist = _warehouse(spark)
    rows = fraud_type1(tx, cards, accounts, clients, blacklist).collect()
    by_passport = {}
    for r in rows:
        by_passport.setdefault(r["passport"], []).append(r)
    # C1: expired passport → T1 and T5; C2: blacklisted → T2 and T4; C3 clean.
    assert sorted(by_passport) == ["1111 111111", "2222 222222"]
    assert len(by_passport["1111 111111"]) == 2
    assert len(by_passport["2222 222222"]) == 2
    # NULL patronymic → NULL fio (D3 concat semantics preserved)
    assert all(r["fio"] is None for r in by_passport["2222 222222"])
    assert by_passport["1111 111111"][0]["fio"] == "Ivanov Ivan Ivanovich"
    assert all(r["event_type"] == "1" for r in rows)


def test_rule2_expired_contract(spark):
    tx, cards, accounts, clients, terminals, _ = _warehouse(spark)
    rows = fraud_type2(tx, cards, accounts, clients).collect()
    assert [r["passport"] for r in rows] == ["3333 333333"]  # only ACC3/T3
    assert rows[0]["report_dt"] == D(2021, 3, 1)  # day-truncated (D6)


def test_rule3_city_velocity_flags_later_tx(spark):
    tx, cards, accounts, clients, terminals, _ = _warehouse(spark)
    rows = fraud_type3(tx, cards, accounts, clients, terminals).collect()
    # Only the Moscow→Kazan hop, flagged on the LATER transaction (T4 11:30).
    assert len(rows) == 1
    assert rows[0]["event_dt"] == TX(11, 30, 0)
    assert rows[0]["passport"] == "2222 222222"
    assert rows[0]["event_type"] == "3"


def _warehouse_with_edges(spark):
    """The fixture plus the corners where one fused plan could part
    from the three rules built alone."""
    tx, cards, accounts, clients, terminals, blacklist = _warehouse(spark)
    clients = clients.unionByName(spark.createDataFrame(
        [
            ("C4", "Orlov", "Oleg", "O", dt.date(1985, 4, 4),
             "4444 444444", dt.date(2019, 1, 1), "+7 444"),   # expired passport
            ("C5", "Kozlov", "K", "K", dt.date(1975, 5, 5),
             "5555 555555", None, "+7 555"),                  # NULL passport_valid_to
        ],
        clients.schema,
    ))
    accounts = accounts.unionByName(spark.createDataFrame(
        [
            ("ACC4", dt.date(2020, 1, 1), "C4"),  # expired contract
            ("ACC5", None, "C5"),                 # NULL valid_to
        ],
        accounts.schema,
    ))
    cards = cards.unionByName(spark.createDataFrame(
        [
            ("4444 5555 6666 7777", "ACC4"),
            # trims to card 1111's key: every card-1111 row fans out to C1 and C5
            ("1111 2222 3333 4444  ", "ACC5"),
        ],
        cards.schema,
    ))
    one = Decimal("1.00000")
    tx = tx.unionByName(spark.createDataFrame(
        [
            # card 4444 (C4): T6 trips rules 1+2, T7 (a hop) rules 1+2+3
            ("T6", TX(13, 0, 0), one, "4444 5555 6666 7777", "PAYMENT", "SUCCESS", "A1"),
            ("T7", TX(13, 20, 0), one, "4444 5555 6666 7777", "PAYMENT", "SUCCESS", "A2"),
            # a hop on the fanned-out card 1111: flagged on both star rows
            ("T8", TX(14, 0, 0), one, "1111 2222 3333 4444", "PAYMENT", "SUCCESS", "A1"),
            ("T9", TX(14, 30, 0), one, "1111 2222 3333 4444", "PAYMENT", "SUCCESS", "A2"),
            # an unknown terminal (NULL city) before Kazan: no hop
            ("T10", TX(15, 0, 0), one, "9999 0000 1111 2222", "PAYMENT", "SUCCESS", "ZZ"),
            ("T11", TX(15, 10, 0), one, "9999 0000 1111 2222", "PAYMENT", "SUCCESS", "A2"),
            # equal times on card 5555: the id orders T12 (Moscow) before
            # T13 (Kazan), so T13 hops and T14 (Kazan again) does not
            ("T13", TX(16, 0, 0), one, "5555 6666 7777 8888", "PAYMENT", "SUCCESS", "A2"),
            ("T12", TX(16, 0, 0), one, "5555 6666 7777 8888", "PAYMENT", "SUCCESS", "A1"),
            ("T14", TX(16, 30, 0), one, "5555 6666 7777 8888", "PAYMENT", "SUCCESS", "A2"),
        ],
        tx.schema,
    ))
    return tx, cards, accounts, clients, terminals, blacklist


def test_fraud_events_equal_the_three_rules(spark):
    tx, cards, accounts, clients, terminals, blacklist = _warehouse_with_edges(spark)
    fused = fraud_events(tx, cards, accounts, clients, terminals, blacklist)
    union = (
        fraud_type1(tx, cards, accounts, clients, blacklist)
        .unionByName(fraud_type2(tx, cards, accounts, clients))
        .unionByName(fraud_type3(tx, cards, accounts, clients, terminals))
    )
    assert fused.columns == union.columns
    events = Counter(map(tuple, fused.collect()))
    assert events == Counter(map(tuple, union.collect()))

    def types_at(hour, minute):
        return sorted(r[4] for r in events.elements() if r[0] == TX(hour, minute, 0))

    assert types_at(13, 0) == ["1", "2"]
    assert types_at(13, 20) == ["1", "2", "3"]  # one row, three rules, three events
    assert types_at(14, 30) == ["1", "3", "3"]  # the C1 and C5 star rows; C1 expired
    assert types_at(15, 10) == ["2"]            # NULL previous city: no hop
    assert types_at(16, 0) == ["1", "1", "3"]   # blacklisted C2; T13 hops
    assert types_at(16, 30) == ["1"]

"""Seeded generator for the nightly ``run_day`` replay workloads.

Writes one drop directory (transaction ``.txt`` files, terminal and
blacklist ``.xlsx`` snapshots) and one bank Parquet snapshot per day,
and computes from the same in-memory state the exact ``RunReport``
numbers each day must produce. The same seed and scale give
byte-identical files.

Shape of the data, per day:

- transactions: ``;``-separated, comma-decimal amounts; about 1% of
  rows re-deliver an earlier day's transaction (same id and content);
  ``hops_per_day`` planted pairs on one card in two cities < 1 h apart.
- terminals: a full snapshot with planted inserts, address/city
  updates and deletes against the previous day.
- blacklist: accumulating; each file lists every entry so far plus a
  dirty trailing empty row. Part of the entries are client passports.
- bank: clients/accounts/cards full snapshots with phone, contract
  validity and card-to-account updates, and a few new clients a day.

The fraud rates (expired passports, blacklisted passports, expired
accounts, planted hops) are scale parameters. The expected per-day
numbers follow the engine's documented semantics: SCD1 counts against
the previous snapshot, anti-join fact appends, and fraud rules
re-evaluated over the full transaction history with the post-merge
dimensions.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from etl_processing_scd1_spark.sources.readers import write_xlsx

FIRST_DAY = dt.date(2021, 3, 1)
EXCEL_EPOCH = dt.date(1899, 12, 30)
BANK_CREATE = dt.datetime(2021, 1, 1)
CITIES = [
    "Moscow", "Kazan", "Omsk", "Tver", "Sochi", "Perm", "Ufa", "Samara",
    "Tula", "Kursk", "Orel", "Penza", "Tomsk", "Chita", "Vologda", "Irkutsk",
]
LAST_NAMES = ["Ivanov", "Petrov", "Sidorov", "Smirnov", "Kuznetsov", "Popov", "Volkov"]
FIRST_NAMES = ["Ivan", "Petr", "Anna", "Olga", "Sergey", "Maria", "Pavel"]
PATRONYMICS = ["Ivanovich", "Petrovich", "Sergeevna", "Pavlovna", None]
OPER_TYPES = ["PAYMENT", "WITHDRAW", "DEPOSIT"]
OPER_RESULTS = ["SUCCESS", "SUCCESS", "SUCCESS", "REJECT"]
TX_HEADER = "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal"
TERMINAL_HEADER = ["terminal_id", "terminal_type", "terminal_city", "terminal_address"]


@dataclass(frozen=True)
class NightlyScale:
    """Size and fraud rates of one replay. ``days`` counts the timed
    days; day 0 (the bootstrap load) comes on top."""

    days: int
    tx_per_day: int
    terminals: int
    clients: int
    redelivery_rate: float = 0.01
    hops_per_day: int = 3
    terminal_churn: float = 0.04
    bank_churn: float = 0.02
    new_clients_per_day: int = 2
    expired_passport_rate: float = 0.05
    blacklisted_passport_rate: float = 0.03
    expired_account_rate: float = 0.05
    blacklist_per_day: int = 4


@dataclass
class Client:
    client_id: str
    last_name: str
    first_name: str
    patronymic: str | None
    date_of_birth: dt.date
    passport_num: str
    passport_valid_to: dt.date
    phone: str
    update_dt: dt.datetime | None = None


@dataclass
class Account:
    account_num: str
    valid_to: dt.date
    client: str
    update_dt: dt.datetime | None = None


@dataclass
class Card:
    card_num: str
    account_num: str
    update_dt: dt.datetime | None = None


@dataclass(frozen=True)
class Tx:
    trans_id: str
    trans_date: dt.datetime
    card_num: str
    terminal: str


@dataclass
class DayState:
    """Post-merge dimension state after one day, for the expectations."""

    terminals: dict[str, tuple[str, str, str]]
    clients: dict[str, Client]
    accounts: dict[str, Account]
    cards: dict[str, Card]
    dim_counts: dict[str, dict[str, int]]
    tx_new: int
    blacklist: set[str]
    blacklist_new: int
    history_len: int


def day_of(idx: int) -> dt.date:
    return FIRST_DAY + dt.timedelta(days=idx)


def _tag(day: dt.date) -> str:
    return day.strftime("%d%m%Y")


def _scd1_counts(before: dict, after: dict, same) -> dict[str, int]:
    inserted = sum(1 for k in after if k not in before)
    deleted = sum(1 for k in before if k not in after)
    updated = sum(1 for k in after if k in before and not same(before[k], after[k]))
    return {"inserted": inserted, "updated": updated, "deleted": deleted, "rows": len(after)}


def _business(obj) -> tuple:
    return tuple(v for k, v in dataclasses.asdict(obj).items() if k != "update_dt")


class NightlyData:
    """Generates a replay under ``root`` (``drop/`` and ``bank/``).

    ``write()`` produces every day's files; ``expected(i)`` returns the
    exact ``RunReport`` numbers day ``i`` must produce (day 0 is the
    bootstrap load)."""

    def __init__(self, root: str, seed: int, scale: NightlyScale):
        self.root = root
        self.seed = seed
        self.scale = scale
        self.drop_dir = os.path.join(root, "drop")
        self.archive_dir = os.path.join(root, "archive")
        self.bank_dir = os.path.join(root, "bank")
        self.states: list[DayState] = []
        self.history: list[Tx] = []
        self.input_bytes = 0
        self._staged_rows: list[int] = []

    # -- generation ----------------------------------------------------

    def write(self) -> None:
        os.makedirs(self.drop_dir, exist_ok=True)
        os.makedirs(self.bank_dir, exist_ok=True)
        rng = random.Random(self.seed)
        s = self.scale
        terminals = {
            f"T{i:06d}": self._new_terminal(rng, i) for i in range(s.terminals)
        }
        next_terminal = s.terminals
        clients: dict[str, Client] = {}
        accounts: dict[str, Account] = {}
        cards: dict[str, Card] = {}
        for i in range(s.clients):
            self._new_client(rng, i, clients, accounts, cards)
        next_client = s.clients
        blacklist: list[tuple[int, str]] = []
        prev: DayState | None = None
        next_tx = 1
        prev_day_rows: list[Tx] = []
        for idx in range(s.days + 1):
            day = day_of(idx)
            stamp = dt.datetime.combine(day, dt.time(0, 0))
            if idx > 0:
                terminals = dict(terminals)
                n_churn = max(1, round(s.terminals * s.terminal_churn))
                ids = sorted(terminals)
                for tid in rng.sample(ids, n_churn):
                    kind, city, addr = terminals[tid]
                    if rng.random() < 0.5:
                        terminals[tid] = (kind, city, f"{addr}/{idx}")
                    else:
                        terminals[tid] = (kind, rng.choice([c for c in CITIES if c != city]), addr)
                for tid in rng.sample(sorted(terminals), n_churn):
                    del terminals[tid]
                for _ in range(n_churn):
                    terminals[f"T{next_terminal:06d}"] = self._new_terminal(rng, next_terminal)
                    next_terminal += 1
                clients = {k: dataclasses.replace(v) for k, v in clients.items()}
                accounts = {k: dataclasses.replace(v) for k, v in accounts.items()}
                cards = {k: dataclasses.replace(v) for k, v in cards.items()}
                n_bank = max(1, round(s.clients * s.bank_churn))
                for cid in rng.sample(sorted(clients), n_bank):
                    clients[cid].phone = f"+7 9{rng.randrange(10**8):08d}"
                    clients[cid].update_dt = stamp
                for acc in rng.sample(sorted(accounts), n_bank):
                    expired = accounts[acc].valid_to < FIRST_DAY
                    accounts[acc].valid_to = self._validity(rng, expired)
                    accounts[acc].update_dt = stamp
                acc_ids = sorted(accounts)
                for card in rng.sample(sorted(cards), n_bank):
                    cards[card].account_num = rng.choice(acc_ids)
                    cards[card].update_dt = stamp
                for _ in range(s.new_clients_per_day):
                    self._new_client(rng, next_client, clients, accounts, cards)
                    next_client += 1
            # blacklist: a share of the new entries are client passports
            n_bl = max(1, round(s.clients * s.blacklisted_passport_rate)) if idx == 0 else s.blacklist_per_day
            listed = {p for _, p in blacklist}
            passports = sorted(c.passport_num for c in clients.values())
            new_entries = 0
            for k in range(n_bl):
                if k % 2 == 0:
                    p = rng.choice(passports)
                else:
                    p = f"{rng.randrange(1000, 10000)} {rng.randrange(10**6):06d}"
                if p in listed:
                    continue
                listed.add(p)
                blacklist.append(((day - EXCEL_EPOCH).days, p))
                new_entries += 1
            rows, next_tx = self._transactions(rng, day, next_tx, terminals, cards, prev_day_rows)
            new_rows = [t for t in rows if not t[1]]
            prev_day_rows = [t for t, _ in new_rows]
            self.history.extend(prev_day_rows)

            self._write_day(day, rows, terminals, blacklist, idx)
            self._write_bank(idx, clients, accounts, cards)

            if prev is None:
                dim_counts = {
                    name: {"inserted": len(cur), "updated": 0, "deleted": 0, "rows": len(cur)}
                    for name, cur in (
                        ("terminals", terminals), ("clients", clients),
                        ("accounts", accounts), ("cards", cards),
                    )
                }
            else:
                dim_counts = {
                    "terminals": _scd1_counts(prev.terminals, terminals, lambda a, b: a == b),
                    "clients": _scd1_counts(prev.clients, clients, lambda a, b: _business(a) == _business(b)),
                    "accounts": _scd1_counts(prev.accounts, accounts, lambda a, b: _business(a) == _business(b)),
                    "cards": _scd1_counts(prev.cards, cards, lambda a, b: _business(a) == _business(b)),
                }
            prev = DayState(
                terminals=terminals, clients=clients, accounts=accounts, cards=cards,
                dim_counts=dim_counts, tx_new=len(new_rows), blacklist=set(listed),
                blacklist_new=new_entries, history_len=len(self.history),
            )
            self.states.append(prev)

    @staticmethod
    def _new_terminal(rng: random.Random, i: int) -> tuple[str, str, str]:
        return (
            rng.choice(["ATM", "POS"]),
            rng.choice(CITIES),
            f"{rng.choice(CITIES)}, street {rng.randrange(1, 300)}, {i}",
        )

    @staticmethod
    def _validity(rng: random.Random, expired: bool) -> dt.date:
        if expired:
            return dt.date(2015, 1, 1) + dt.timedelta(days=rng.randrange(1500))
        return dt.date(2026, 1, 1) + dt.timedelta(days=rng.randrange(3000))

    def _new_client(self, rng, i, clients, accounts, cards) -> None:
        """Client ``i`` with one account and one card. Exactly a
        ``rate`` share of every prefix of clients has an expired
        passport (resp. contract), so fraud volume does not swing with
        the seed."""
        s = self.scale

        def planted(rate: float, phase: float) -> bool:
            return int((i + 1) * rate + phase) > int(i * rate + phase)

        cid = f"C{i:07d}"
        clients[cid] = Client(
            client_id=cid,
            last_name=rng.choice(LAST_NAMES),
            first_name=rng.choice(FIRST_NAMES),
            patronymic=rng.choice(PATRONYMICS),
            date_of_birth=dt.date(1950, 1, 1) + dt.timedelta(days=rng.randrange(18000)),
            passport_num=f"{4500 + i // 10**6:04d} {i % 10**6:06d}",
            passport_valid_to=self._validity(rng, planted(s.expired_passport_rate, 0.0)),
            phone=f"+7 9{rng.randrange(10**8):08d}",
        )
        acc = f"40817810{i:012d}"
        accounts[acc] = Account(acc, self._validity(rng, planted(s.expired_account_rate, 0.5)), cid)
        card = f"4276 {i // 10**8:04d} {(i // 10**4) % 10**4:04d} {i % 10**4:04d}"
        cards[card] = Card(card, acc)

    def _transactions(self, rng, day, next_tx, terminals, cards, prev_day_rows):
        """Returns ([(Tx, redelivered)], next id) for one day."""
        s = self.scale
        term_ids = sorted(terminals)
        card_ids = sorted(cards)
        by_city: dict[str, list[str]] = {}
        for tid in term_ids:
            by_city.setdefault(terminals[tid][1], []).append(tid)
        base = dt.datetime.combine(day, dt.time(0, 0))
        rows: list[tuple[Tx, bool]] = []

        def tx(when: dt.datetime, card: str, term: str) -> Tx:
            nonlocal next_tx
            t = Tx(f"{next_tx:012d}", when, card, term)
            next_tx += 1
            return t

        n_hop = min(s.hops_per_day, s.tx_per_day // 4)
        for _ in range(n_hop):
            card = rng.choice(card_ids)
            cities = sorted(by_city)
            c1, c2 = rng.sample(cities, 2)
            t0 = base + dt.timedelta(seconds=rng.randrange(1, 22 * 3600))
            t1 = t0 + dt.timedelta(minutes=rng.randrange(5, 55))
            rows.append((tx(t0, card, rng.choice(by_city[c1])), False))
            rows.append((tx(t1, card, rng.choice(by_city[c2])), False))
        n_redeliver = round(s.tx_per_day * s.redelivery_rate) if prev_day_rows else 0
        for _ in range(s.tx_per_day - len(rows) - n_redeliver):
            when = base + dt.timedelta(seconds=rng.randrange(86400))
            rows.append((tx(when, rng.choice(card_ids), rng.choice(term_ids)), False))
        for old in rng.sample(prev_day_rows, min(n_redeliver, len(prev_day_rows))):
            rows.append((old, True))
        rows.sort(key=lambda r: (r[0].trans_date, r[0].trans_id))
        return rows, next_tx

    @staticmethod
    def _tx_line(t: Tx) -> str:
        # amount and operation are derived from the id so a re-delivered
        # row is byte-identical to its first delivery
        h = int(t.trans_id) * 2654435761 % 2**32
        amount = f"{h % 100000},{h % 100:02d}"
        return (
            f"{t.trans_id};{t.trans_date:%Y-%m-%d %H:%M:%S};{amount};{t.card_num};"
            f"{OPER_TYPES[h % 3]};{OPER_RESULTS[(h >> 3) % 4]};{t.terminal}"
        )

    def _write_day(self, day, rows, terminals, blacklist, idx) -> None:
        tag = _tag(day)
        tx_path = os.path.join(self.drop_dir, f"transactions_{tag}.txt")
        with open(tx_path, "w", newline="\n") as fh:
            fh.write(TX_HEADER + "\n")
            for t, _ in rows:
                fh.write(self._tx_line(t) + "\n")
        term_path = os.path.join(self.drop_dir, f"terminals_{tag}.xlsx")
        write_xlsx(
            term_path,
            [TERMINAL_HEADER] + [[tid, *terminals[tid]] for tid in sorted(terminals)],
        )
        bl_path = os.path.join(self.drop_dir, f"passport_blacklist_{tag}.xlsx")
        write_xlsx(
            bl_path,
            [["date", "passport"]] + [[d, p] for d, p in blacklist] + [[None, None]],
        )
        for p in (tx_path, term_path, bl_path):
            self.input_bytes += os.path.getsize(p)
        self._staged_rows.append(len(rows) + len(blacklist))

    def _write_bank(self, idx, clients, accounts, cards) -> None:
        out = self.bank_path(idx)
        os.makedirs(out, exist_ok=True)
        ts = pa.timestamp("us")

        def tech(objs):
            return {
                "create_dt": pa.array([BANK_CREATE] * len(objs), ts),
                "update_dt": pa.array([o.update_dt for o in objs], ts),
            }

        cl = [clients[k] for k in sorted(clients)]
        ac = [accounts[k] for k in sorted(accounts)]
        cd = [cards[k] for k in sorted(cards)]
        tables = {
            "clients": pa.table({
                "client_id": [c.client_id for c in cl],
                "last_name": [c.last_name for c in cl],
                "first_name": [c.first_name for c in cl],
                "patronymic": pa.array([c.patronymic for c in cl], pa.string()),
                "date_of_birth": pa.array([c.date_of_birth for c in cl], pa.date32()),
                "passport_num": [c.passport_num for c in cl],
                "passport_valid_to": pa.array([c.passport_valid_to for c in cl], pa.date32()),
                "phone": [c.phone for c in cl],
                **tech(cl),
            }),
            "accounts": pa.table({
                "account_num": [a.account_num for a in ac],
                "valid_to": pa.array([a.valid_to for a in ac], pa.date32()),
                "client": [a.client for a in ac],
                **tech(ac),
            }),
            "cards": pa.table({
                "card_num": [c.card_num for c in cd],
                "account_num": [c.account_num for c in cd],
                **tech(cd),
            }),
        }
        for name, table in tables.items():
            pq.write_table(table, os.path.join(out, f"{name}.parquet"))

    def bank_path(self, idx: int) -> str:
        return os.path.join(self.bank_dir, f"day{idx:03d}")

    # -- expectations --------------------------------------------------

    def staged_rows(self, idx: int) -> int:
        """Fact rows day ``idx`` stages (transactions plus blacklist)."""
        return self._staged_rows[idx]

    def expected(self, idx: int) -> dict:
        """The ``RunReport`` fields day ``idx`` must produce."""
        st = self.states[idx]
        history = self.history[: st.history_len]
        return {
            "dim_counts": st.dim_counts,
            "fact_appended": {"transactions": st.tx_new, "blacklist": st.blacklist_new},
            "fraud_events": fraud_counts(history, st),
        }


def fraud_counts(history: list[Tx], st: DayState) -> dict[str, int]:
    """Rules 1-3 over the full history against the post-merge dims
    (a plain-Python restatement of ``plans.fraud``)."""
    counts = {"1": 0, "2": 0, "3": 0}
    by_card: dict[str, list[Tx]] = {}
    for t in history:
        by_card.setdefault(t.card_num.replace(" ", ""), []).append(t)
        card = st.cards.get(t.card_num.strip())
        acc = st.accounts.get(card.account_num.strip()) if card else None
        client = st.clients.get(acc.client) if acc else None
        if client is not None:
            expired = dt.datetime.combine(client.passport_valid_to, dt.time()) < t.trans_date
            if expired or client.passport_num in st.blacklist:
                counts["1"] += 1
        if acc is not None and dt.datetime.combine(acc.valid_to, dt.time()) < t.trans_date:
            counts["2"] += 1
    for txs in by_card.values():
        txs.sort(key=lambda t: (t.trans_date, t.trans_id))
        for prev, cur in zip(txs, txs[1:]):
            pc = st.terminals.get(prev.terminal)
            cc = st.terminals.get(cur.terminal)
            if pc is None or cc is None or pc[1] == cc[1]:
                continue
            if (cur.trans_date - prev.trans_date).total_seconds() / 3600.0 < 1.0:
                counts["3"] += 1
    return {k: v for k, v in counts.items() if v}

"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files (the self-tests pin this), so a run's inputs are
reproducible from the seed recorded in its result.

``daily_etl`` inputs follow the reference file formats: ``;``-separated
transactions with decimal-comma amounts, terminals and passport
blacklist as XLSX, and clients/accounts/cards as table snapshots with
``create_dt``/``update_dt``. The background population is built so that
no fraud rule can fire on it (each background client transacts at most
once per two-hour slot, all accounts and passports are valid), and a
fixed set of fraud clients per rule fires exactly one report row per
rule per client per day. The expected report is therefore known from
the generator, for any seed, and so is the expected warehouse: every
transaction in the fact table and the current version of every
dimension key (:meth:`EtlSim.expected_tables`).

A simulated day has 100,000 transactions, 20,000 clients (one account
and card each) and 2,000 terminals, the size of a bank day that takes
about 24 s per ``run_daily`` on a 4-core machine.

``catalog`` inputs are the ``documents``/``embeddings``/``events``
tables the catalog and stream queries read, in the testdata schema.
They have the sizes of the sf0.1 test data (5,000 documents,
2,000 64-dim embeddings, 100,000 events over 1,500 users) and are
generated from a fixed data seed, so their goldens hold for every run
seed; the run seed only rotates the query order.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np

TX_HEADER = [
    "transaction_id", "transaction_date", "amount", "card_num",
    "oper_type", "oper_result", "terminal",
]
DAY0 = datetime(2025, 3, 1)  # snapshot creation date; day d is DAY0 + d
VALID = datetime(2030, 1, 1)
EXPIRED = datetime(2020, 1, 1)
CITIES = ["Moscow", "Tver", "Kazan", "Omsk", "Perm", "Samara", "Ufa", "Tula"]
FRAUD_PER_RULE = 2


@dataclass
class EtlSpec:
    """Size of one simulated bank day. ``change_share`` of background
    terminals and clients change one attribute on every day after the
    first, so each changed key adds exactly one SCD2 version."""

    clients: int = 20000
    terminals: int = 2000
    tx_per_day: int = 100000
    change_share: float = 0.05
    blacklist_noise: int = 20


@dataclass
class EtlDay:
    day: int  # 1-based
    date: datetime
    files: dict[str, bytes]  # file name -> content
    clients: list[tuple]
    accounts: list[tuple]
    cards: list[tuple]
    n_tx: int
    changed_clients: int
    changed_terminals: int
    fact_tsv: bytes  # the day's transactions as the fact table should hold them
    expected_report: list[tuple] = field(default_factory=list)  # (event_type, event_dt, passport)


def _ddmmyyyy(d: datetime) -> str:
    return d.strftime("%d%m%Y")


def _xlsx_bytes(header: list[str], rows: list[list]) -> bytes:
    """XLSX bytes through the package's own writer, with a fixed zip
    timestamp so identical rows give identical bytes."""
    import io
    import zipfile

    from etl_fraud_detection_spark.sources.files import write_xlsx

    buf = io.BytesIO()
    write_xlsx(buf, header, rows)  # zipfile accepts a file object
    # zipfile stamps entries with the current time: rewrite them with
    # a fixed date_time so the bytes depend on the rows only
    src = zipfile.ZipFile(io.BytesIO(buf.getvalue()))
    out = io.BytesIO()
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for info in src.infolist():
            fixed = zipfile.ZipInfo(info.filename, date_time=(2025, 1, 1, 0, 0, 0))
            fixed.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(fixed, src.read(info.filename))
    return out.getvalue()


class EtlSim:
    """A simulated bank that produces one day of daily-ETL input per
    :meth:`next_day` call, for as many days as a run needs."""

    def __init__(self, seed: int, spec: EtlSpec | None = None):
        self.spec = spec = spec or EtlSpec()
        self.rng = rng = random.Random(seed)
        self.nrng = np.random.default_rng(seed)
        n_fraud = 4 * FRAUD_PER_RULE
        # client_id -> [last, first, patr, dob, passport, valid_to, phone, create, update]
        self.clients = clients = {}
        for i in range(spec.clients + n_fraud):
            clients[f"CL{i:05d}"] = [
                f"Last{rng.randrange(1000)}", f"First{rng.randrange(300)}",
                f"Patr{rng.randrange(100)}",
                datetime(1950 + rng.randrange(50), 1 + rng.randrange(12), 1 + rng.randrange(28)),
                f"{rng.randrange(10**9, 10**10)}{i:05d}", VALID,
                f"+7{rng.randrange(10**9, 10**10)}", DAY0, None,
            ]
        self.fraud = fraud = {r: [f"CL{spec.clients + r * FRAUD_PER_RULE + k:05d}"
                                  for k in range(FRAUD_PER_RULE)] for r in range(4)}
        for cid in fraud[0][1::2]:
            clients[cid][5] = EXPIRED  # rule 1 via an expired passport
        self.blacklisted = [clients[cid][4] for cid in fraud[0][0::2]]  # rule 1 via the blacklist
        self.accounts = {}  # account -> [valid_to, client, create, update]
        self.cards = {}  # card -> [account, create, update]
        self.card_of = {}
        for i, cid in enumerate(clients):
            acc, card = f"AC{i:05d}", f"CA{i:05d}"
            self.accounts[acc] = [EXPIRED if cid in fraud[1] else VALID, cid, DAY0, None]
            self.cards[card] = [acc, DAY0, None]
            self.card_of[cid] = card
        self.background = list(clients)[: spec.clients]
        self.terminals = {  # terminal_id -> [type, city, address]
            f"TM{i:04d}": [rng.choice(["ATM", "POS", "ETM"]), rng.choice(CITIES),
                           f"Street {rng.randrange(1, 200)}, {i}"]
            for i in range(spec.terminals)
        }
        self.term_ids = sorted(self.terminals)
        # dedicated fraud terminals: two cities for the hop, one for the rest
        self.terminals.update({"FT0": ["POS", "Moscow", "Hop street 1"],
                               "FT1": ["POS", "Kazan", "Hop street 2"],
                               "FT2": ["ATM", "Tver", "Guess street 3"]})
        self.noise_passports = [f"{rng.randrange(10**9, 10**10)}99999"
                                for _ in range(spec.blacklist_noise)]
        self.day = 0
        self.tx_seq = 0

    def next_day(self) -> EtlDay:
        spec, rng, clients = self.spec, self.rng, self.clients
        self.day += 1
        d = self.day
        date = DAY0 + timedelta(days=d)
        changed_c = changed_t = 0
        if d > 1:
            changed_c = max(1, round(spec.change_share * spec.clients))
            for cid in rng.sample(self.background, changed_c):
                clients[cid][6] = f"+7{rng.randrange(10**9, 10**10)}"
                clients[cid][8] = date
            changed_t = max(1, round(spec.change_share * spec.terminals))
            for tid in rng.sample(self.term_ids, changed_t):
                self.terminals[tid][2] = f"Street {rng.randrange(1, 200)}, {tid} v{d}"

        # -- transactions: background, one per (client, two-hour slot), at a
        # second of the slot's first hour; rows are (second of day, card,
        # operation, result, terminal, cents) --
        nrng, n = self.nrng, spec.tx_per_day
        pick = nrng.choice(len(self.background) * 12, size=n, replace=False)
        cards = [self.card_of[self.background[i]] for i in (pick // 12).tolist()]
        secs = (pick % 12 * 7200 + nrng.integers(0, 3600, size=n)).tolist()
        ops = nrng.choice(["PAYMENT", "WITHDRAW", "DEPOSIT"], size=n).tolist()
        res = np.where(nrng.random(size=n) < 0.1, "REJECT", "SUCCESS").tolist()
        terms = nrng.choice(self.term_ids, size=n).tolist()
        cents = nrng.integers(100, 10**6, size=n).tolist()
        rows = list(zip(secs, cards, ops, res, terms, cents))
        expected = []

        def fraud_tx(sec, cid, op, res, term, cents, rule=None):
            rows.append((sec, self.card_of[cid], op, res, term, cents))
            if rule is not None:
                expected.append((rule, date + timedelta(seconds=sec), clients[cid][4]))

        fraud = self.fraud
        for k, cid in enumerate(fraud[0] + fraud[1]):
            fraud_tx(12 * 3600 + 60 * k, cid, "PAYMENT", "SUCCESS",
                     "FT2", 50000, 1 if cid in fraud[0] else 2)
        for k, cid in enumerate(fraud[2]):  # city hop inside one hour
            t0 = 14 * 3600 + 60 * k
            fraud_tx(t0, cid, "PAYMENT", "SUCCESS", "FT0", 40000)
            fraud_tx(t0 + 30 * 60, cid, "PAYMENT", "SUCCESS", "FT1", 41000, 3)
        for k, cid in enumerate(fraud[3]):  # three falling rejects, then success
            t0 = 16 * 3600 + 60 * k
            for j, c in enumerate((90000, 70000, 50000)):
                fraud_tx(t0 + 3 * 60 * j, cid, "WITHDRAW", "REJECT", "FT2", c)
            fraud_tx(t0 + 9 * 60, cid, "WITHDRAW", "SUCCESS", "FT2", 30000, 4)

        rows.sort(key=lambda r: (r[0], r[1]))
        lines = [";".join(TX_HEADER)]
        fact = []
        day_str = f"{date:%Y-%m-%d}"
        for sec, card, op, result, term, c in rows:
            self.tx_seq += 1
            h, ms = divmod(sec, 3600)
            tid, units = f"T{self.tx_seq:09d}", c // 100
            when = f"{day_str} {h:02d}:{ms // 60:02d}:{ms % 60:02d}"
            lines.append(f"{tid};{when};{units},{c % 100:02d};{card};{op};{result};{term}")
            fact.append(f"{tid}\t{when}\t{units}.{c % 100:02d}\t{card}\t{op}\t{result}\t{term}\n")
        tag = _ddmmyyyy(date)
        files = {
            f"transactions_{tag}.txt": ("\n".join(lines) + "\n").encode("utf-8-sig"),
            f"terminals_{tag}.xlsx": _xlsx_bytes(
                ["terminal_id", "terminal_type", "terminal_city", "terminal_address"],
                [[t, *v] for t, v in sorted(self.terminals.items())],
            ),
            f"passport_blacklist_{tag}.xlsx": _xlsx_bytes(
                ["date", "passport"],
                [[f"{DAY0 - timedelta(days=10):%Y-%m-%d %H:%M:%S}", p]
                 for p in self.blacklisted + self.noise_passports],
            ),
        }
        return EtlDay(
            day=d, date=date, files=files,
            clients=[(cid, *v) for cid, v in clients.items()],
            accounts=[(a, *v) for a, v in self.accounts.items()],
            cards=[(c, *v) for c, v in self.cards.items()],
            n_tx=len(rows), changed_clients=changed_c, changed_terminals=changed_t,
            fact_tsv="".join(fact).encode(), expected_report=sorted(expected),
        )

    def expected_tables(self) -> dict[str, list[tuple[str, ...]]]:
        """Rows every dwh table should hold after the days so far, as
        strings in the dwh column order: the current (open, not deleted)
        version of each SCD2 key and the blacklist. The fact table's rows
        are each day's ``fact_tsv``."""
        ts = "{:%Y-%m-%d %H:%M:%S}".format
        listed = ts(DAY0 - timedelta(days=10))
        return {
            "dim_terminals_hist": [(t, *v) for t, v in self.terminals.items()],
            "dim_clients_hist": [(c, last, first, patr, ts(dob), pas, ts(valid), phone)
                                 for c, (last, first, patr, dob, pas, valid, phone, _, _)
                                 in self.clients.items()],
            "dim_accounts_hist": [(a, ts(valid), c) for a, (valid, c, _, _) in self.accounts.items()],
            "dim_cards_hist": [(c, a) for c, (a, _, _) in self.cards.items()],
            "fact_passport_blacklist": [(listed, p) for p in self.blacklisted + self.noise_passports],
        }

    @property
    def n_terminals(self) -> int:
        return len(self.terminals)


def write_snapshots(day: EtlDay, out_dir: str) -> dict[str, str]:
    """Write the day's clients/accounts/cards snapshots as parquet (naive
    timestamps, read back as TIMESTAMP_NTZ); returns name -> path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts, s = pa.timestamp("us"), pa.string()
    tables = {
        "clients": (day.clients, [s, s, s, s, ts, s, ts, s, ts, ts]),
        "accounts": (day.accounts, [s, ts, s, ts, ts]),
        "cards": (day.cards, [s, s, ts, ts]),
    }
    os.makedirs(out_dir, exist_ok=True)
    out = {}
    for name, (rows, types) in tables.items():
        cols = [c.split()[0] for c in SNAPSHOT_SCHEMAS[name].split(", ")]
        arrays = [pa.array(list(col), t) for col, t in zip(zip(*rows), types)]
        out[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_arrays(arrays, names=cols), out[name])
    return out


CLIENTS_SCHEMA = (
    "client_id string, last_name string, first_name string, patronymic string, "
    "date_of_birth timestamp_ntz, passport_num string, passport_valid_to timestamp_ntz, "
    "phone string, create_dt timestamp_ntz, update_dt timestamp_ntz"
)
ACCOUNTS_SCHEMA = ("account string, valid_to timestamp_ntz, client string, "
                   "create_dt timestamp_ntz, update_dt timestamp_ntz")
CARDS_SCHEMA = "card_num string, account string, create_dt timestamp_ntz, update_dt timestamp_ntz"
SNAPSHOT_SCHEMAS = {"clients": CLIENTS_SCHEMA, "accounts": ACCOUNTS_SCHEMA, "cards": CARDS_SCHEMA}


# ---------------------------------------------------------------------------
# catalog / stream tables
# ---------------------------------------------------------------------------

CATALOG_DATA_SEED = 42
_WORDS = (
    "batch part spark line column order small sort fast value scan a hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "join index shard token page crawl media frame band ledger plan stage"
).split()


@dataclass
class CatalogSpec:
    """Row counts of the sf0.1 test data's documents/embeddings/events."""

    documents: int = 5000
    embeddings: int = 2000
    dim: int = 64
    events: int = 100000
    users: int = 1500


def write_catalog(out_dir: str, spec: CatalogSpec | None = None,
                  seed: int = CATALOG_DATA_SEED) -> dict[str, int]:
    """Write documents/embeddings/events parquet in the testdata schema
    (TESTDATA.md) under ``out_dir``; returns rows per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    spec = spec or CatalogSpec()
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)

    texts: list[str] = []
    for i in range(spec.documents):
        r = rng.random()
        if texts and r < 0.04:  # exact duplicate
            texts.append(rng.choice(texts))
        elif texts and r < 0.12:  # near duplicate: edit one or two words
            w = rng.choice(texts).split()
            for _ in range(rng.randint(1, 2)):
                w[rng.randrange(len(w))] = rng.choice(_WORDS)
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randint(12, 80))))
    langs = ["en", "en", "en", "zh", "es", "fr", "de"]
    docs = pa.table({
        "doc_id": pa.array(range(spec.documents), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(langs) for _ in texts], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(spec.documents)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nrng = np.random.default_rng(seed)
    centers = nrng.normal(size=(10, spec.dim))
    labels = nrng.integers(0, 10, size=spec.embeddings)
    vecs = (centers[labels] + 0.6 * nrng.normal(size=(spec.embeddings, spec.dim))).astype("float32")
    emb = pa.table({
        "vec_id": pa.array(range(spec.embeddings), pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32"), pa.int32()),
    })

    start = datetime(2024, 1, 1)
    span_us = 30 * 86400 * 10**6
    offs = sorted(nrng.integers(0, span_us, size=spec.events).tolist())
    types = ["signup", "purchase", "view", "click", "error"]
    events = pa.table({
        "event_id": pa.array(range(spec.events), pa.int64()),
        "ts": pa.array([start + timedelta(microseconds=o) for o in offs], pa.timestamp("us")),
        "user_id": pa.array(nrng.integers(0, spec.users, size=spec.events), pa.int64()),
        "event_type": pa.array([types[t] for t in nrng.integers(0, 5, size=spec.events)], pa.string()),
        "value": pa.array(np.round(nrng.gamma(2.0, 25.0, size=spec.events), 2), pa.float64()),
        "props": pa.array([json.dumps({"k": int(k)}) for k in nrng.integers(0, 100, size=spec.events)],
                          pa.string()),
    })
    tables = {"documents": docs, "embeddings": emb, "events": events}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}

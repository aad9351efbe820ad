"""Seeded input generator for the benchmark.

Everything the program reads is made here from ``--seed``; the same seed
gives byte-identical files (``python3 perfbench/selftest.py`` checks it).
The benchmark runs it in a child process, so that its memory is not
counted as the program's:

    python3 perfbench/gen.py lake OUT SEED          # OUT/bronze, OUT/cdc/b0000
    python3 perfbench/gen.py registry OUT SEED SF   # OUT/<table>.parquet

- ``write_bronze``: the reference's five bronze CSVs
  (``lakeforge.schemas.BRONZE_SCHEMAS``).  Dates mix the four
  ``DEFAULT_DATE_FORMATS`` (lower- and title-case ``dd-MMM-yy``), with
  some unparseable dates, NULL keys, exact duplicates (often re-rendered
  in another date format), M:N person links, and ``person_iden`` dates
  that only partly line up with ``person_profile`` dates, so the
  full-outer timeline carries NULL ``id`` transitions.
- ``CdcStream``: the CDC micro-batch stream on top of a base.  Most rows
  land in the newest month; some are late arrivals into older months,
  some are exact redeliveries of earlier rows, and a few are new person
  links.
- ``write_registry``: the TPC-H-shaped parquet tables the query registry
  reads (``lakeforge.io.sources.TESTDATA_TABLES``).

Every (key, date) pair is unique per entity after date parsing, so the
SCD2 windows have one total order and the DuckDB rendition is exact.
"""

from __future__ import annotations

import datetime as dt
import os
import random

MONTHS = ("jan", "feb", "mar", "apr", "may", "jun",
          "jul", "aug", "sep", "oct", "nov", "dec")
STATUSES = ("Active", "In Active", "Dormant", "Closed")
TYPES = ("CC", "Loan", "Mortgage", "Savings")
NAMES = ("Ahmed", "Hana", "Rana", "Omar", "Laila", "Youssef", "Mona", "Karim")
ID_KINDS = ("NID", "PASS", "DL")
BAD_DATES = ("n/a", "TBD", "32-foo-22", "2022-13-45")

HEADERS = {
    "accounts": "Acc no,Date,Status",
    "account_details": "Acc no,Date,type",
    "person": "Acc no,Person",
    "person_profile": "Person,Name,Date",
    "person_iden": "Person,Id,Date",
}


# The bronze base: accounts (``person`` is partitioned by account, so its
# merge and listing cost grows with this), dated history rows per account
# and per person (one per month; the other four entities' cost grows with
# this), mean M:N person links per account, and the noise rates.
ACCOUNTS = 24
DEPTH = 6
PERSONS_PER_ACCOUNT = 1.6
DUP_RATE = 0.03
BAD_DATE_RATE = 0.01
NULL_KEY_RATE = 0.01
START = dt.date(2019, 1, 1)
# One CDC micro-batch: dated rows per dated entity, the shares of late
# arrivals and exact redeliveries among them, and new person links.
BATCH_ROWS = 24
LATE_SHARE = 0.2
REDELIVERY_SHARE = 0.15
NEW_LINKS = 2


def fmt_date(rng: random.Random, d: dt.date) -> str:
    """Render ``d`` in one of the four reference formats.

    ``MM/dd/yyyy`` is only used for days > 12: a smaller day would parse
    as ``dd/MM/yyyy`` first (the chain is first-match-wins), which is the
    reference's behaviour but would make history dates collide.
    """
    k = rng.randrange(4)
    if k == 0:
        mon = MONTHS[d.month - 1]
        if rng.random() < 0.3:
            mon = mon.title()
        return f"{d.day:02d}-{mon}-{d.year % 100:02d}"
    if k == 1:
        return d.isoformat()
    if k == 2 or d.day <= 12:
        return f"{d.day:02d}/{d.month:02d}/{d.year}"
    return f"{d.month:02d}/{d.day:02d}/{d.year}"


def add_months(d: dt.date, n: int) -> dt.date:
    y, m = divmod(d.month - 1 + n, 12)
    return dt.date(d.year + y, m + 1, 1)


def ym(d: dt.date) -> str:
    return f"{d.year}{d.month:02d}"


# the month most batch rows land in: the one after the base's last month
NEWEST_YM = ym(add_months(START, DEPTH))


class _Entity:
    """Rows of one bronze file plus the per-key dates already used."""

    def __init__(self) -> None:
        self.rows: list[tuple] = []  # logical rows, dates as dt.date
        self.used: set[tuple[str, dt.date]] = set()

    def free_day(self, rng: random.Random, key: str, month: dt.date) -> dt.date | None:
        """A day of ``month`` not yet used by ``key`` (None if full)."""
        days = list(range(1, 29))
        rng.shuffle(days)
        for day in days:
            d = month.replace(day=day)
            if (key, d) not in self.used:
                self.used.add((key, d))
                return d
        return None


class Lake:
    """Logical content of the bronze base and every batch landed so far."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.accounts = [str(100000 + i) for i in range(ACCOUNTS)]
        n_persons = max(2, int(ACCOUNTS * PERSONS_PER_ACCOUNT * 0.75))
        self.persons = [f"P{i:05d}" for i in range(n_persons)]
        self.ent = {name: _Entity() for name in HEADERS}
        self.links: set[tuple[str, str]] = set()
        self.last_month = add_months(START, DEPTH - 1)

    # -- logical rows ---------------------------------------------------
    def _dated(self, name: str, key: str, month: dt.date) -> tuple | None:
        rng = self.rng
        e = self.ent[name]
        d = e.free_day(rng, key, month)
        if d is None:
            return None
        if name == "accounts":
            row = (key, d, rng.choice(STATUSES))
        elif name == "account_details":
            row = (key, d, rng.choice(TYPES))
        elif name == "person_profile":
            row = (key, rng.choice(NAMES) + rng.choice(("", " Ali", " Samir")), d)
        else:
            row = (key, f"ID{rng.randrange(10**6):06d} ({rng.choice(ID_KINDS)})", d)
        e.rows.append(row)
        return row

    def _link(self, acc: str, person: str) -> tuple | None:
        if (acc, person) in self.links:
            return None
        self.links.add((acc, person))
        row = (acc, person)
        self.ent["person"].rows.append(row)
        return row

    def base_rows(self) -> dict[str, list[tuple]]:
        rng = self.rng
        out: dict[str, list[tuple]] = {n: [] for n in HEADERS}
        for acc in self.accounts:
            for i in range(DEPTH):
                month = add_months(START, i)
                for name in ("accounts", "account_details"):
                    # details miss some months: the broadcast-left join
                    # leaves those versions with a NULL type
                    if name == "account_details" and rng.random() < 0.15:
                        continue
                    out[name].append(self._dated(name, acc, month))
        for p in self.persons:
            for i in range(DEPTH):
                month = add_months(START, i)
                out["person_profile"].append(self._dated("person_profile", p, month))
                # iden dates only partly line up with profile dates
                if rng.random() < 0.7:
                    out["person_iden"].append(self._dated("person_iden", p, month))
        for acc in self.accounts:
            k = 1 + int(rng.random() * 2 * (PERSONS_PER_ACCOUNT - 1) + 0.5)
            for p in rng.sample(self.persons, min(k, len(self.persons))):
                row = self._link(acc, p)
                if row:
                    out["person"].append(row)
        for p in self.persons:  # every person belongs to some account
            if not any(lp == p for _, lp in self.links):
                out["person"].append(self._link(rng.choice(self.accounts), p))
        return out

    def batch_rows(self) -> dict[str, list[tuple]]:
        rng = self.rng
        out: dict[str, list[tuple]] = {n: [] for n in HEADERS}
        newest = add_months(self.last_month, 1)
        for name in ("accounts", "account_details", "person_profile", "person_iden"):
            keys = self.accounts if name.startswith("account") else self.persons
            n_late = int(BATCH_ROWS * LATE_SHARE)
            n_redo = int(BATCH_ROWS * REDELIVERY_SHARE)
            prior = list(self.ent[name].rows)
            for i in range(BATCH_ROWS - n_redo):
                if i < n_late:
                    month = add_months(START, rng.randrange(DEPTH))
                else:
                    month = newest
                row = self._dated(name, rng.choice(keys), month)
                if row:
                    out[name].append(row)
            out[name].extend(rng.choice(prior) for _ in range(n_redo))
        for _ in range(NEW_LINKS):
            row = self._link(rng.choice(self.accounts), rng.choice(self.persons))
            if row:
                out["person"].append(row)
        out["person"].append(rng.choice(sorted(self.links)))  # redelivery
        return out

    # -- rendering ------------------------------------------------------
    def render(self, rows: dict[str, list[tuple]], noise: bool) -> dict[str, str]:
        """CSV text per entity.  With ``noise`` the base's duplicate,
        bad-date and NULL-key rows are mixed in."""
        rng = self.rng
        files = {}
        for name, logical in rows.items():
            lines = [HEADERS[name]]
            for row in logical:
                copies = 2 if noise and rng.random() < DUP_RATE else 1
                for _ in range(copies):
                    lines.append(self._csv(name, row))
                if noise and rng.random() < BAD_DATE_RATE and name != "person":
                    lines.append(self._csv(name, row, bad_date=True))
                if noise and rng.random() < NULL_KEY_RATE:
                    lines.append(self._csv(name, row, null_key=True))
            files[name] = "\n".join(lines) + "\n"
        return files

    def _csv(self, name: str, row: tuple, bad_date: bool = False,
             null_key: bool = False) -> str:
        cells = []
        for v in row:
            if isinstance(v, dt.date):
                v = self.rng.choice(BAD_DATES) if bad_date else fmt_date(self.rng, v)
            cells.append(v)
        if null_key:
            cells[0] = ""
        return ",".join(cells)


def write_files(files: dict[str, str], out_dir: str) -> int:
    """Write ``{name}.csv`` files; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, text in files.items():
        data = text.encode()
        with open(os.path.join(out_dir, f"{name}.csv"), "wb") as f:
            f.write(data)
        total += len(data)
    return total


def write_bronze(out_dir: str, seed: int) -> Lake:
    """Write the five bronze CSVs of the base; returns the lake so a CDC
    stream can continue from it."""
    lake = Lake(seed)
    write_files(lake.render(lake.base_rows(), noise=True), out_dir)
    return lake


class CdcStream:
    """Seeded CDC batches after a base; batch ``i`` goes to ``{root}/b{i:04d}``."""

    def __init__(self, lake: Lake, root: str) -> None:
        self.lake, self.root = lake, root
        self.dirs: list[str] = []

    def next(self) -> tuple[str, int]:
        """Write the next batch; returns (directory, bronze bytes)."""
        d = os.path.join(self.root, f"b{len(self.dirs):04d}")
        files = self.lake.render(self.lake.batch_rows(), noise=False)
        n = write_files(files, d)
        self.dirs.append(d)
        return d, n


# --------------------------------------------------------------------------
# Registry tables (TPC-H-shaped star + events/documents/embeddings)
# --------------------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
LANGS = ("en", "en", "en", "en", "de", "es", "fr", "zh")


def write_registry(out_dir: str, seed: int, sf: float) -> None:
    """The ten registry tables at scale ``sf`` as ``{name}.parquet``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rs = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    def money(lo: float, hi: float, n: int):
        return np.round(rs.uniform(lo, hi, n), 2)

    def pick(options, n: int):
        return pa.array(np.array(options, dtype=object)[rs.integers(0, len(options), n)])

    def days(start: dt.date, span: int, n: int):
        base = np.datetime64(start.isoformat(), "us")
        return pa.array(base + rs.integers(0, span, n).astype("timedelta64[D]"),
                        type=pa.timestamp("us"))

    def save(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    save("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": pa.array(REGIONS)})
    save("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    save("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rs.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    save("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rs.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    save("part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rs.integers(0, 8, n_part), rs.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rs.integers(1, 26, n_part)]),
        "p_type": pick(PART_TYPES, n_part),
        "p_size": pa.array(rs.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1))})
    save("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rs.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(money(1000, 500_000, n_ord)),
        "o_orderdate": days(dt.date(1995, 1, 1), 2405, n_ord),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    save("lineitem", {
        "l_orderkey": pa.array(rs.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rs.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rs.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rs.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rs.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(900, 105_000, n_line)),
        "l_discount": pa.array(rs.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rs.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pick(("A", "N", "R"), n_line),
        "l_linestatus": pick(("F", "O"), n_line),
        "l_shipdate": days(dt.date(1995, 1, 2), 2498, n_line)})
    step_us = int(30 * 86400 * 1e6 / n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(
        rs.integers(1, 2 * step_us, n_ev)).astype("timedelta64[us]")
    save("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rs.integers(0, max(150, n_ev // 66), n_ev)),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": pa.array(money(0.01, 490, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rs.integers(0, 100, n_ev)])})
    texts = [" ".join(np.array(WORDS)[rs.integers(0, len(WORDS), n)])
             for n in rs.integers(10, 100, n_doc)]
    save("documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pick(LANGS, n_doc),
        "source": pa.array([f"src{s}" for s in rs.integers(0, 20, n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    emb = rs.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    save("embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rs.integers(0, 10, n_emb).astype(np.int32))})


def main(argv: list[str]) -> None:
    kind, out, seed = argv[0], argv[1], int(argv[2])
    if kind == "lake":
        lake = write_bronze(os.path.join(out, "bronze"), seed)
        CdcStream(lake, os.path.join(out, "cdc")).next()
    elif kind == "registry":
        write_registry(out, seed, float(argv[3]))
    else:
        raise SystemExit(f"unknown input kind {kind!r}")


if __name__ == "__main__":
    import sys

    main(sys.argv[1:])

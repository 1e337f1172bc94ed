"""Fixed, seeded statement scripts for each workload.

A workload is a closed loop on one connection: the client sends the next
statement only after the previous one reached ``ReadyForQuery``. Its
script is fixed work: the same ``(seed, seconds)`` always yields the same
statements in the same order, and ``seconds`` only scales how many
statements there are, never when the run stops.

``extract`` — result transfer. A result-size ladder over the wide
``wb_items`` table, each rung sent three ways: text simple-query, a
binary-format extended fetch with a portal row limit, and ``COPY … TO
STDOUT``. Row fetch, per-cell encode, framing and socket writes dominate.

``ingest`` — the write path. ``COPY … FROM STDIN`` batches, multi-row
``INSERT`` with ``nextval`` keys, ``UPDATE``/``DELETE`` by key range
(rewrite-on-write), ``CREATE SEQUENCE``, and a read-back aggregate after
every write. The server runs with a real catalog directory, so sequence
DDL and block reservations are saved to disk.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np

from datagen import STATUSES, Sizes

# RowDescription OIDs of ``SELECT * FROM wb_items``; COPY text carries
# no types, so its decoder takes them from here
ITEM_OIDS = (23, 20, 701, 1700, 25, 1082, 1114, 16, 1021)
ITEM_COLS = "i_id, i_big, i_dbl, i_dec, i_name, i_day, i_ts, i_flag, i_vec"


@dataclass
class Step:
    """One client statement and what the oracle expects of it."""

    kind: str  # query | fetch (extended, portal row limit) | copy_out | copy_in
    sql: str
    binary: bool = False
    maxrows: int = 0
    data: bytes = b""  # copy_in payload
    copy_oids: tuple[int, ...] = ()
    rows: bool = True  # the oracle checks returned rows, else only the tag
    twin_sql: str | None = None  # DuckDB form, when it differs
    expect_tag: str | None = None  # filled by the twin
    expect_rows: int = 0
    expect_digest: str | None = None
    target_rows: int = 0  # rows in the DML target before the statement

    @property
    def label(self) -> str:
        """Groups like statements in failure reports."""
        head = " ".join(self.sql.split()[:2])
        return f"{self.kind}{'/binary' if self.binary else ''} {head}"


@dataclass
class Workload:
    tables: tuple[str, ...]  # generated tables the workload loads
    sizes: Sizes
    catalog: bool  # run the server with a real --catalog-dir
    setup: list[Step] = field(default_factory=list)
    warmup: list[Step] = field(default_factory=list)
    passes: list[list[Step]] = field(default_factory=list)  # timed passes


def _load(table: str) -> Step:
    # the path placeholder is filled in by run.py once the files exist
    return Step("query", f"CREATE TABLE {table} AS SELECT * FROM read_parquet('{{{table}}}')",
                rows=False)


# ------------------------------------------------------------------ extract
# result-size ladder: (rows, statements per format). The small rung repeats
# ten times, so 30 of the 36 statements are small and the per-statement
# medians are order statistics of a large group of like statements: the
# median (18th-19th of 36) falls inside the small binary-fetch group (ranks
# 11-20) rather than between formats, whose latencies overlap.
LADDER = ((1_000, 10), (10_000, 1), (100_000, 1))
FETCH_ROWS = 5_000  # portal row limit of the binary extended fetch


def _extract_steps(rng: np.random.Generator, nitems: int, ladder) -> list[Step]:
    steps = []
    for n, repeat in ladder:
        for _ in range(repeat):
            lo = int(rng.integers(1, nitems - n + 2))
            sql = f"SELECT {ITEM_COLS} FROM wb_items WHERE i_id BETWEEN {lo} AND {lo + n - 1}"
            steps.append(Step("query", sql))
            steps.append(Step("fetch", sql, binary=True, maxrows=FETCH_ROWS))
            steps.append(Step("copy_out", f"COPY ({sql}) TO STDOUT", copy_oids=ITEM_OIDS,
                              twin_sql=sql))
    return steps


def extract(seed: int, seconds: int, traced: bool) -> Workload:
    sizes = Sizes()
    rng = np.random.default_rng([seed, 1])
    wl = Workload(("wb_items",), sizes, catalog=False)
    wl.setup = [_load("wb_items")]
    wl.warmup = _extract_steps(rng, sizes.items, ((1_000, 1),))
    npass = max(1, round(seconds / 30))
    wl.passes = [
        [s for _ in range(npass) for s in _extract_steps(rng, sizes.items, LADDER)]
        for _ in range(2 if traced else 1)
    ]
    return wl


# ------------------------------------------------------------------- ingest
COPY_BATCH = 400
INSERT_ROWS = 10
_DAY0 = dt.date(2020, 1, 1)


class _Ledger:
    """Seeded generator of ingest statements over ``wb_ledger``."""

    def __init__(self, rng: np.random.Generator, norders: int, ncust: int) -> None:
        self.rng = rng
        self.ncust = ncust
        self.next_key = norders + 1  # COPY keys continue after the base table
        self.nseq = 0

    def _row(self, key: int) -> tuple:
        r = self.rng
        day = _DAY0 + dt.timedelta(days=int(r.integers(0, 1500)))
        cents = int(r.integers(100, 5_000_000))
        return (key, int(r.integers(1, self.ncust + 1)), day.isoformat(),
                STATUSES[int(r.integers(0, 3))], f"{cents // 100}.{cents % 100:02d}")

    def copy_in(self) -> Step:
        rows = [self._row(self.next_key + i) for i in range(COPY_BATCH)]
        self.next_key += COPY_BATCH
        data = "".join("\t".join(map(str, row)) + "\n" for row in rows).encode()
        return Step("copy_in", "COPY wb_ledger FROM STDIN", data=data, rows=False)

    def create_sequence(self) -> Step:
        self.nseq += 1
        start = 10_000_000 * self.nseq
        return Step("query", f"CREATE SEQUENCE wb_seq{self.nseq} START {start}", rows=False)

    def insert(self) -> Step:
        vals = []
        for _ in range(INSERT_ROWS):
            _, cust, day, status, total = self._row(0)
            vals.append(f"(nextval('wb_seq{self.nseq}'), {cust}, DATE '{day}', "
                        f"'{status}', {total})")
        return Step("query", f"INSERT INTO wb_ledger VALUES {', '.join(vals)}", rows=False)

    def _range(self, width: int) -> tuple[int, int]:
        lo = int(self.rng.integers(1, self.next_key - width))
        return lo, lo + width - 1

    def update(self) -> Step:
        lo, hi = self._range(300)
        bump = int(self.rng.integers(1, 400)) / 4
        return Step("query", f"UPDATE wb_ledger SET o_total = o_total + {bump}, "
                    f"o_status = 'P' WHERE o_id BETWEEN {lo} AND {hi}", rows=False)

    def delete(self) -> Step:
        lo, hi = self._range(60)
        return Step("query", f"DELETE FROM wb_ledger WHERE o_id BETWEEN {lo} AND {hi}",
                    rows=False)

    def nextval(self) -> Step:
        return Step("query", f"SELECT nextval('wb_seq{self.nseq}') AS k")

    def read_back(self, i: int) -> Step:
        if i % 2 == 0:
            return Step("query", "SELECT count(*) AS n, sum(o_total) AS total, "
                        "min(o_id) AS lo, max(o_id) AS hi FROM wb_ledger")
        return Step("query", "SELECT o_status, count(*) AS n, sum(o_total) AS total "
                    "FROM wb_ledger GROUP BY o_status")

    def warmup(self) -> list[Step]:
        """Each statement kind of the script once: every server path the
        timed pass takes has run before it starts."""
        return [self.create_sequence(), self.nextval(), self.copy_in(), self.read_back(0),
                self.insert(), self.read_back(1), self.update(), self.delete()]

    def cycle(self) -> list[Step]:
        """Twelve statements: five writes, each followed by a read-back,
        and two ``nextval`` reads."""
        out = []
        writes = [self.copy_in, self.insert, self.update, self.copy_in, self.delete]
        for i, write in enumerate(writes):
            out.append(write())
            out.append(self.read_back(i))
            if i in (1, 4):
                out.append(self.nextval())
        return out


STMTS_PER_SECOND = 10 / 3  # ingest script length per second of --seconds


def ingest(seed: int, seconds: int, traced: bool) -> Workload:
    sizes = Sizes()
    rng = np.random.default_rng([seed, 2])
    wl = Workload(("wb_orders",), sizes, catalog=True)
    wl.setup = [Step("query", "CREATE TABLE wb_ledger AS SELECT * FROM "
                     "read_parquet('{wb_orders}')", rows=False)]
    gen = _Ledger(rng, sizes.orders, sizes.customers)
    wl.warmup = gen.warmup()
    target = max(1, round(seconds * STMTS_PER_SECOND))
    for _ in range(2 if traced else 1):
        steps: list[Step] = []
        cycles = 0
        while len(steps) < target:
            if cycles % 4 == 0:  # a new sequence every four cycles
                steps += [gen.create_sequence(), gen.nextval()]
            steps += gen.cycle()
            cycles += 1
        wl.passes.append(steps)
    return wl


WORKLOADS = {"extract": extract, "ingest": ingest}

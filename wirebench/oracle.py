"""Result decoding and the DuckDB correctness oracle.

A result is reduced to an order-insensitive digest: every cell becomes a
canonical string (numbers that are whole print as integers, other numbers
with 9 significant digits, timestamps in ISO form, arrays element-wise),
the rows are sorted, and the sorted rows are hashed. The same reduction
runs over DuckDB's Python values and over the server's wire bytes (text
DataRows, binary DataRows or COPY text lines), so the two digests agree
exactly when the two engines returned the same multiset of rows.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import os
import struct
import time
from dataclasses import dataclass

import duckdb

# PG type OIDs the benchmark's results use
_BOOL, _INT8, _INT2, _INT4, _TEXT = 16, 20, 21, 23, 25
_FLOAT4, _FLOAT8, _VARCHAR, _DATE, _TS, _NUMERIC = 700, 701, 1043, 1082, 1114, 1700
_ARRAYS = {1000: _BOOL, 1005: _INT2, 1007: _INT4, 1016: _INT8, 1021: _FLOAT4,
           1022: _FLOAT8, 1009: _TEXT, 1015: _VARCHAR, 1231: _NUMERIC}
_PG_DAY0 = dt.date(2000, 1, 1)
_PG_TS0 = dt.datetime(2000, 1, 1)
_TWO53 = 2 ** 53


# ------------------------------------------------------------ canonical form
def _num(f: float) -> str:
    if f != f:
        return "NaN"
    if f.is_integer() and abs(f) < _TWO53:
        return str(int(f))
    return f"{f:.9g}"


def canon(v) -> str:
    """One DuckDB cell → canonical text; ``_py_canon`` picks a faster
    equivalent per column where it can."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float | decimal.Decimal):
        return _num(float(v))
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, list | tuple):
        return "{" + ",".join(canon(x) for x in v) + "}"
    return str(v)


def digest(rows: list[tuple[str, ...]]) -> str:
    h = hashlib.sha1()
    for r in sorted(rows):
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


@dataclass(frozen=True)
class Expected:
    nrows: int
    digest: str
    tag: str | None = None


# ----------------------------------------------------------- wire decoding
def _same(s: str) -> str:
    return s


def _text_num(s: str) -> str:
    return _num(float(s))


def _text_ts(s: str) -> str:
    # PG trims trailing zeros of the fraction; isoformat prints all six
    return s if len(s) == 19 else s.ljust(26, "0")


_TEXT_CANON = {_FLOAT4: _text_num, _FLOAT8: _text_num, _NUMERIC: _text_num, _TS: _text_ts}


def _text_canon(oid: int):
    """Canonical form of a text-format cell, straight from its text."""
    if oid in _ARRAYS:
        elem = _TEXT_CANON.get(_ARRAYS[oid], _same)

        def array(s: str) -> str:
            body = s[1:-1]
            if not body:
                return "{}"
            return "{" + ",".join("\\N" if x == "NULL" else elem(x.strip('"'))
                                  for x in body.split(",")) + "}"

        return array
    return _TEXT_CANON.get(oid, _same)


def _bin_numeric(b: bytes) -> str:
    ndig, weight, sign, _dscale = struct.unpack_from("!hhHH", b, 0)
    if sign == 0xC000:
        return "NaN"
    val = 0
    for d in struct.unpack_from(f"!{ndig}H", b, 8):
        val = val * 10000 + d
    out = decimal.Decimal(val).scaleb((weight - ndig + 1) * 4)
    return _num(float(-out if sign == 0x4000 else out))


def _bin_fixed(fmt: str, fn):
    unpack = struct.Struct(fmt).unpack
    return lambda b: fn(unpack(b)[0])


_DAY0_ORD = _PG_DAY0.toordinal()
_BIN_CANON = {
    _INT2: _bin_fixed("!h", str),
    _INT4: _bin_fixed("!i", str),
    _INT8: _bin_fixed("!q", str),
    _FLOAT4: _bin_fixed("!f", _num),
    _FLOAT8: _bin_fixed("!d", _num),
    _BOOL: lambda b: "f" if b == b"\x00" else "t",
    _NUMERIC: _bin_numeric,
    _DATE: _bin_fixed("!i", lambda d: dt.date.fromordinal(_DAY0_ORD + d).isoformat()),
    _TS: _bin_fixed("!q", lambda us: (_PG_TS0 + dt.timedelta(microseconds=us))
                    .isoformat(sep=" ")),
}


def _bin_canon(oid: int):
    """Canonical form of a binary-format cell."""
    if oid in _ARRAYS:
        return _bin_array
    return _BIN_CANON.get(oid, bytes.decode)


def _bin_array(b: bytes) -> str:
    ndim, _flags, elem = struct.unpack_from("!iiI", b, 0)
    if ndim == 0:
        return "{}"
    (n, _lb) = struct.unpack_from("!ii", b, 12)
    fn = _bin_canon(elem)
    off, out = 12 + 8 * ndim, []
    for _ in range(n):
        (ln,) = struct.unpack_from("!i", b, off)
        off += 4
        if ln < 0:
            out.append("\\N")
        else:
            out.append(fn(b[off : off + ln]))
            off += ln
    return "{" + ",".join(out) + "}"


def _cells(payload: bytes) -> list[bytes | None]:
    (n,) = struct.unpack_from("!H", payload, 0)
    off, out = 2, []
    for _ in range(n):
        (ln,) = struct.unpack_from("!i", payload, off)
        off += 4
        if ln < 0:
            out.append(None)
        else:
            out.append(payload[off : off + ln])
            off += ln
    return out


def canon_datarows(rows: list[bytes], oids: list[int], binary: bool) -> list[tuple]:
    if binary:
        fns = [_bin_canon(o) for o in oids]
        return [tuple("\\N" if c is None else f(c) for c, f in zip(_cells(p), fns))
                for p in rows]
    fns = [_text_canon(o) for o in oids]
    return [tuple("\\N" if c is None else f(c.decode()) for c, f in zip(_cells(p), fns))
            for p in rows]


def canon_copy(chunks: list[bytes], oids: list[int]) -> list[tuple]:
    """COPY text format: tab-separated, ``\\N`` nulls; ``oids`` name the
    column types, since CopyOutResponse carries none."""
    fns = [_text_canon(o) for o in oids]
    out = []
    for line in b"".join(chunks).decode().split("\n"):
        if line:
            out.append(tuple(c if c == "\\N" else f(c)
                             for c, f in zip(line.split("\t"), fns)))
    return out


# ------------------------------------------------------------------ DuckDB
def reply_digest(kind: str, copy_oids: tuple[int, ...], rep) -> tuple[int, str, float]:
    """A reply's (row count, digest, CPU seconds spent); runs in a worker."""
    c0 = time.thread_time()
    if kind == "copy_out":
        rows = canon_copy(rep.copy, copy_oids)
    else:
        rows = canon_datarows(rep.rows, rep.oids, rep.binary)
    return len(rows), digest(rows), time.thread_time() - c0


def _py_canon(sample):
    """Canonical-form function for a DuckDB result column, chosen once from
    one of its non-NULL values."""
    if isinstance(sample, bool):
        return lambda v: "t" if v else "f"
    if isinstance(sample, int):
        return str
    if isinstance(sample, float | decimal.Decimal):
        return lambda v: _num(float(v))
    if isinstance(sample, dt.datetime):
        return lambda v: v.isoformat(sep=" ")
    if isinstance(sample, dt.date):
        return dt.date.isoformat
    if isinstance(sample, str):
        return _same
    return canon


class Oracle:
    """In-memory DuckDB; the workload's setup statements load the same
    parquet files the server loads. ``spool`` is a scratch directory for
    COPY payloads."""

    def __init__(self, spool: str) -> None:
        self.spool = spool
        self.con = duckdb.connect(":memory:")
        self.con.execute("SET TimeZone = 'UTC'")

    def expect(self, sql: str) -> Expected:
        rows = self.con.execute(sql).fetchall()
        fns = [canon] * (len(rows[0]) if rows else 0)
        for i, col in enumerate(zip(*rows)):
            sample = next((v for v in col if v is not None), None)
            fns[i] = _py_canon(sample)
        canon_rows = [tuple("\\N" if v is None else f(v) for v, f in zip(r, fns))
                      for r in rows]
        return Expected(len(canon_rows), digest(canon_rows), f"SELECT {len(canon_rows)}")

    def copy_in_text(self, table: str, data: bytes) -> int:
        """Apply a COPY FROM STDIN text payload (tab-separated, ``\\N``
        nulls) to the DuckDB twin; returns the rows loaded."""
        path = os.path.join(self.spool, "copy_in.tsv")
        with open(path, "wb") as f:
            f.write(data)
        return self.con.execute(
            f"COPY {table} FROM '{path}' (DELIMITER '\t', NULL '\\N', HEADER false)"
        ).fetchone()[0]

    def close(self) -> None:
        self.con.close()

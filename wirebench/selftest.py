"""Self-test of the benchmark harness (not of the program).

    python3 wirebench/selftest.py          # offline checks, a few seconds
    python3 wirebench/selftest.py --live   # plus one untraced and one traced
                                           # short ingest run (about 3 minutes)

Checks that:
- every metric BENCHMARK.json names is emitted, with BENCHMARK.json's unit;
- the traced split emits every per-layer name (none is dropped);
- the checker accepts a correct reply in each wire format (text DataRow,
  binary DataRow, COPY text) and flags a corrupted expected digest, a
  corrupted cell and a wrong command tag. The corruption is made here, in
  the expectation or the reply, never in the program.
"""

from __future__ import annotations

import argparse
import dataclasses
import datetime as dt
import json
import os
import struct
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from pgwire import Reply  # noqa: E402
from workloads import Step  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def _spec() -> dict:
    with open(BENCHMARK) as f:
        return json.load(f)


def _units(entries) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in entries}


# ----------------------------------------------------------- metric names
def _fake_replies(n: int) -> tuple[list[Step], list[Reply]]:
    steps, reps = [], []
    for i in range(n):
        r = Reply(tag="SELECT 1", rows=[b"x"], t_send=float(i), t_first=i + 0.1,
                  t_done=i + 0.2 + i / 1000)
        steps.append(Step("query", f"SELECT {i}"))
        reps.append(r)
    return steps, reps


def test_end_to_end_names_and_units() -> None:
    steps, reps = _fake_replies(20)
    e2e = run.end_to_end(steps, reps, 5.0, 12.0, 100.0, 20, 1)
    emitted = {k: e2e[k][1] for k in run.E2E_METRICS}
    want = _units(_spec()["end_to_end"])
    assert emitted == want, f"end_to_end mismatch: {emitted} != {want}"
    assert all(e2e[k][0] > 0 for k in run.E2E_METRICS), "an end-to-end metric is 0"


def test_per_layer_names_and_units() -> None:
    steps, reps = _fake_replies(4)
    dump = {"spans": [[1, 0, 1, "app.run_statement", 0, 1000]], "roots": {"1": "SELECT 0"},
            "counters": {}, "pool_wait_ns": [5, 7], "first_batch_ns": [9], "jobs": 4}
    got = layers.per_layer(dump, steps, reps, 1.0, 1.1, 0.01)
    emitted = {k: unit for k, (_v, unit) in got.items()}
    want = _units(_spec()["per_layer"])
    assert emitted == want, f"per_layer mismatch: {sorted(set(emitted) ^ set(want))}"


# ------------------------------------------------------------- the checker
_TABLE = (
    "CREATE TABLE t AS SELECT * FROM (VALUES "
    "(1, 2.5::DOUBLE, 'a', DATE '2024-01-02', TIMESTAMP '2024-01-02 03:04:05.5', true, "
    "[1.5, -4.0]::FLOAT[], 12.30::DECIMAL(12,2)), "
    "(2, NULL, 'b', DATE '2023-12-31', TIMESTAMP '2023-12-31 23:59:59', false, "
    "[]::FLOAT[], -0.05::DECIMAL(12,2))) v(a, b, c, d, e, f, g, h)"
)
_OIDS = [23, 701, 25, 1082, 1114, 16, 1021, 1700]
_TEXT_ROWS = [
    [b"1", b"2.5", b"a", b"2024-01-02", b"2024-01-02 03:04:05.5", b"t", b"{1.5,-4}", b"12.30"],
    [b"2", None, b"b", b"2023-12-31", b"2023-12-31 23:59:59", b"f", b"{}", b"-0.05"],
]


def _datarow(cells: list[bytes | None]) -> bytes:
    out = struct.pack("!H", len(cells))
    for c in cells:
        out += struct.pack("!i", -1) if c is None else struct.pack("!i", len(c)) + c
    return out


def _bin_numeric(text: str) -> bytes:
    """PG binary numeric for a two-decimal value (base-10000 digits)."""
    neg = text.startswith("-")
    whole, frac = text.lstrip("-").split(".")
    digits = [int(whole)] if int(whole) else []
    weight = 0 if digits else -1
    digits.append(int(frac.ljust(4, "0")))
    return struct.pack(f"!hhHH{len(digits)}H", len(digits), weight,
                       0x4000 if neg else 0, 2, *digits)


def _bin_rows() -> list[bytes]:
    day0, ts0 = dt.date(2000, 1, 1), dt.datetime(2000, 1, 1)

    def f4_array(vals):
        if not vals:
            return struct.pack("!iiI", 0, 0, 700)
        body = b"".join(struct.pack("!if", 4, v) for v in vals)
        return struct.pack("!iiIii", 1, 0, 700, len(vals), 1) + body

    def ts(v):
        return struct.pack("!q", (v - ts0) // dt.timedelta(microseconds=1))

    return [
        _datarow([struct.pack("!i", 1), struct.pack("!d", 2.5), b"a",
                  struct.pack("!i", (dt.date(2024, 1, 2) - day0).days),
                  ts(dt.datetime(2024, 1, 2, 3, 4, 5, 500000)), b"\x01",
                  f4_array([1.5, -4.0]), _bin_numeric("12.30")]),
        _datarow([struct.pack("!i", 2), None, b"b",
                  struct.pack("!i", (dt.date(2023, 12, 31) - day0).days),
                  ts(dt.datetime(2023, 12, 31, 23, 59, 59)), b"\x00",
                  f4_array([]), _bin_numeric("-0.05")]),
    ]


def _expected_step(kind: str) -> Step:
    twin = oracle.Oracle(HERE)  # spool dir unused: no COPY FROM STDIN
    twin.con.execute(_TABLE)
    e = twin.expect("SELECT * FROM t")
    twin.close()
    tag = f"COPY {e.nrows}" if kind == "copy_out" else e.tag
    return Step(kind, "SELECT * FROM t", copy_oids=tuple(_OIDS), expect_tag=tag,
                expect_rows=e.nrows, expect_digest=e.digest)


def _replies() -> list[tuple[Step, Reply]]:
    text = Reply(tag="SELECT 2", oids=_OIDS, rows=[_datarow(r) for r in _TEXT_ROWS])
    binary = Reply(tag="SELECT 2", oids=_OIDS, rows=_bin_rows(), binary=True)
    lines = ["\t".join("\\N" if c is None else c.decode() for c in r) for r in _TEXT_ROWS]
    copy = Reply(tag="COPY 2", copy=[("\n".join(lines) + "\n").encode()])
    return [(_expected_step("query"), text), (_expected_step("fetch"), binary),
            (_expected_step("copy_out"), copy)]


def _check(step: Step, rep: Reply):
    return run.check(step, rep, oracle.reply_digest(step.kind, step.copy_oids, rep))


def test_checker_accepts_every_format() -> None:
    for step, rep in _replies():
        assert _check(step, rep) == (None, False), (step.kind, _check(step, rep))


def test_checker_flags_corruption() -> None:
    for step, rep in _replies():
        bad = dataclasses.replace(step, expect_digest="0" * 40)
        reason, wrong = _check(bad, rep)
        assert reason == "digest mismatch" and wrong, (step.kind, reason)
        reason, _ = _check(dataclasses.replace(step, expect_tag="SELECT 3"), rep)
        assert reason is not None and reason.startswith("tag"), (step.kind, reason)
    step, rep = _replies()[0]
    cells = list(_TEXT_ROWS[0])
    cells[7] = b"12.31"  # one cent off in one cell
    rep = dataclasses.replace(rep, rows=[_datarow(cells), _datarow(_TEXT_ROWS[1])])
    reason, wrong = _check(step, rep)
    assert reason == "digest mismatch" and wrong, reason


# ------------------------------------------------------------------ live
def _live(trace: int) -> None:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "ingest",
         "--seed", "1", "--seconds", "3", "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    spec = _spec()["per_layer" if trace else "end_to_end"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == _units(spec), f"trace={trace}: {got}"


def test_live_untraced() -> None:
    _live(0)


def test_live_traced() -> None:
    _live(1)


def main() -> int:
    ap = argparse.ArgumentParser(description="benchmark harness self-test")
    ap.add_argument("--live", action="store_true", help="also run two short live runs")
    args = ap.parse_args()
    tests = [test_end_to_end_names_and_units, test_per_layer_names_and_units,
             test_checker_accepts_every_format, test_checker_flags_corruption]
    if args.live:
        tests += [test_live_untraced, test_live_traced]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

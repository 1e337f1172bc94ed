"""Per-layer metrics from a traced pass (spans written by traced_server.py).

Every ``*_per_stmt`` figure is divided by the client's count of timed
statements in the traced pass. A layer the workload never reaches reports
0 (for example ``dml.*`` on ``extract``).
"""

from __future__ import annotations

import statistics
from collections import defaultdict

# name → unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "compat.rewrite_ms_per_stmt": "ms",
    "compat.rewrite_calls_per_stmt": "count",
    "app.dispatch_self_ms_per_stmt": "ms",
    "app.exec_calls_per_stmt": "count",
    "spark.sql_calls_per_stmt": "count",
    "spark.analyze_ms_per_stmt": "ms",
    "spark.jobs_per_stmt": "count",
    "spark.first_batch_ms": "ms",
    "app.fetch_us_per_row": "us",
    "typemap.encode_us_per_cell": "us",
    "protocol.data_row_us_per_row": "us",
    "protocol.bytes_out_per_row": "bytes",
    "app.drain_ms_per_stmt": "ms",
    "app.pool_wait_ms_p90": "ms",
    "protocol.copy_in_mb_per_s": "MB/s",
    "app.copy_load_ms": "ms",
    "dml.ms_per_stmt": "ms",
    "dml.rows_rewritten_per_row_changed": "count",
    "catalog.saves_per_stmt": "count",
    "catalog.save_ms": "ms",
    "client.busy_frac": "1",
    "trace.overhead_frac": "1",
}


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def self_times(spans: list) -> dict[int, int]:
    """Span id → its duration minus its direct children's durations (ns)."""
    child_ns: dict[int, int] = defaultdict(int)
    for _sid, parent, _root, _name, t0, t1 in spans:
        if parent:
            child_ns[parent] += t1 - t0
    return {sid: (t1 - t0) - child_ns[sid] for sid, _p, _r, _n, t0, t1 in spans}


def per_layer(dump: dict, steps, replies, wall_untraced: float, wall_traced: float,
              client_busy: float) -> dict[str, tuple[float, str]]:
    n = len(steps)
    spans = dump["spans"]
    ctr = defaultdict(lambda: [0, 0, 0], dump["counters"])
    own = self_times(spans)
    by_name: dict[str, list] = defaultdict(list)
    for span in spans:
        by_name[span[3]].append(span)

    def dur_ms(name: str) -> list[float]:
        return [(s[5] - s[4]) / 1e6 for s in by_name[name]]

    # rewrite-on-write amplification: target rows × _rewrite_table calls
    # per DML statement, over the rows the statements reported changed
    calls_by_sql: dict[str, int] = defaultdict(int)
    roots = {int(k): v for k, v in dump["roots"].items()}
    for span in by_name["dml.rewrite_table"]:
        calls_by_sql[roots.get(span[2], "")] += 1
    rewritten = changed = 0
    for step, rep in zip(steps, replies):
        head = step.sql.split(None, 1)[0].upper()
        if head in ("UPDATE", "DELETE") and rep.tag:
            rewritten += step.target_rows * calls_by_sql[step.sql[:300]]
            changed += int(rep.tag.split()[-1])

    copy_in_bytes = sum(len(s.data) for s in steps if s.kind == "copy_in")
    copy_in_s = sum(own[s[0]] for s in by_name["app.copy_from_stdin"]) / 1e9
    rows_fetched = ctr["app.fetch"][2] + len(dump["first_batch_ns"])
    rows_out = ctr["protocol.data_row"][0] + ctr["protocol.copy_rows"][2]
    bytes_out = ctr["protocol.data_row"][2] + ctr["protocol.copy_data"][2]
    waits = sorted(w / 1e6 for w in dump["pool_wait_ns"])
    saves = dur_ms("catalog.save")
    loads = dur_ms("app.copy_load")
    first = [ns / 1e6 for ns in dump["first_batch_ns"]]
    values = {
        "compat.rewrite_ms_per_stmt": ctr["compat.rewrite"][1] / 1e6 / n,
        "compat.rewrite_calls_per_stmt": ctr["compat.rewrite"][0] / n,
        "app.dispatch_self_ms_per_stmt":
            sum(own[s[0]] for s in by_name["app.run_statement"]) / 1e6 / n,
        "app.exec_calls_per_stmt": ctr["app.exec"][0] / n,
        "spark.sql_calls_per_stmt": ctr["spark.sql"][0] / n,
        "spark.analyze_ms_per_stmt": ctr["spark.sql"][1] / 1e6 / n,
        "spark.jobs_per_stmt": dump["jobs"] / n,
        "spark.first_batch_ms": statistics.fmean(first) if first else 0.0,
        "app.fetch_us_per_row": _div(ctr["app.fetch"][1] / 1e3, rows_fetched),
        "typemap.encode_us_per_cell":
            _div(ctr["typemap.encode"][1] / 1e3, ctr["typemap.encode"][0]),
        "protocol.data_row_us_per_row":
            _div(ctr["protocol.data_row"][1] / 1e3, ctr["protocol.data_row"][0]),
        "protocol.bytes_out_per_row": _div(bytes_out, rows_out),
        "app.drain_ms_per_stmt": sum(dur_ms("app.drain")) / n,
        "app.pool_wait_ms_p90":
            statistics.quantiles(waits, n=10, method="inclusive")[8]
            if len(waits) > 1 else 0.0,
        "protocol.copy_in_mb_per_s": _div(copy_in_bytes / 1e6, copy_in_s),
        "app.copy_load_ms": statistics.fmean(loads) if loads else 0.0,
        "dml.ms_per_stmt": ctr["dml.op"][1] / 1e6 / n,
        "dml.rows_rewritten_per_row_changed": _div(rewritten, changed),
        "catalog.saves_per_stmt": len(saves) / n,
        "catalog.save_ms": statistics.fmean(saves) if saves else 0.0,
        "client.busy_frac": client_busy,
        "trace.overhead_frac": wall_traced / wall_untraced - 1,
    }
    return {k: (values[k], unit) for k, unit in PER_LAYER.items()}

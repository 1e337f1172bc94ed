"""Traced launcher: the pg-wire server CLI with per-layer spans.

Usage (run.py starts it; arguments after ``--`` go to the server CLI)::

    python wirebench/traced_server.py --out DIR -- --port N --sf-dir D ...

The server starts untraced. ``SIGUSR2`` wraps the public entry points of
each layer (``trace-on`` is written to DIR when done); ``SIGUSR1`` writes
every span and counter to ``DIR/spans.json``. Nothing in the program
changes: the wrappers replace module, class and instance attributes from
outside, and spans stay in memory until the dump.

Layers and the boundaries wrapped:
  protocol  ``data_row`` / ``copy_data`` (frame encode)
  compat    ``rewrite``
  app       ``PgWireServer._run_statement`` / ``_execute_portal`` /
            ``_describe_sql`` / ``_stream_df`` / COPY handlers, ``_exec``,
            the ``_exec`` pool's ``submit`` and ``StreamWriter.drain``
  typemap   the cell encoders ``app`` calls
  spark     ``SparkSession.sql``, ``DataFrame.toLocalIterator`` (per row
            ``next``) and the status tracker's job ids
  dml       rewrite-on-write entry points and ``_rewrite_table``
  catalog   ``catalog_persist.save``
"""

from __future__ import annotations

import argparse
import asyncio
import itertools
import json
import os
import signal
import sys
import threading
import time
from collections import defaultdict

_ns = time.perf_counter_ns


class Tracer:
    """In-memory spans ``(id, parent, root, name, t0_ns, t1_ns)`` plus
    ``[calls, ns, units]`` counters for per-cell and per-row boundaries."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.counters: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])
        self.roots: dict[int, str] = {}  # root span id → statement text
        self.pool_wait_ns: list[int] = []
        self.first_batch_ns: list[int] = []
        self.ids = itertools.count(1)
        self.lock = threading.Lock()
        self.stack: list[int] = []  # open spans on the event-loop thread
        self.local = threading.local()  # .parent: pool task span id
        self.loop_thread = threading.get_ident()
        self.root = 0
        self.jobs0 = 0
        self.pool_name = "app.pool"  # name of the next pool task's span

    def parent(self) -> int:
        if threading.get_ident() == self.loop_thread:
            return self.stack[-1] if self.stack else 0
        return getattr(self.local, "parent", 0)

    def add(self, span: tuple) -> None:
        with self.lock:
            self.spans.append(span)

    def count(self, name: str, ns: int, units: int = 0) -> None:
        c = self.counters[name]
        with self.lock:
            c[0] += 1
            c[1] += ns
            c[2] += units


T = Tracer()
_SERVERS: list = []  # every PgWireServer built in this process


def _async_span(owner, attr: str, name: str, root: bool = False) -> None:
    orig = getattr(owner, attr)

    async def wrapper(*args, **kwargs):
        sid, par = next(T.ids), T.parent()
        if root and not T.stack:
            T.root = sid
            T.roots[sid] = str(args[1])[:300] if len(args) > 1 else ""
        T.stack.append(sid)
        t0 = _ns()
        try:
            return await orig(*args, **kwargs)
        finally:
            T.stack.pop()
            T.add((sid, par, T.root, name, t0, _ns()))

    setattr(owner, attr, wrapper)


def _sync_span(owner, attr: str, name: str) -> None:
    """Span for the outermost call per thread (nested calls are inside it)."""
    orig = getattr(owner, attr)
    depth = threading.local()

    def wrapper(*args, **kwargs):
        if getattr(depth, "n", 0):
            return orig(*args, **kwargs)
        depth.n = 1
        sid, par = next(T.ids), T.parent()
        t0 = _ns()
        try:
            return orig(*args, **kwargs)
        finally:
            depth.n = 0
            t1 = _ns()
            T.add((sid, par, T.root, name, t0, t1))
            T.count(name, t1 - t0)

    setattr(owner, attr, wrapper)


def _timed_cell(enc):
    def cell(v):
        t0 = _ns()
        out = enc(v)
        T.count("typemap.encode", _ns() - t0)
        return out

    return cell


class _TimedIter:
    """``toLocalIterator`` result: first row = the Spark job's first
    batch; every later ``next`` is row fetch."""

    def __init__(self, it, created: int) -> None:
        self.it, self.created, self.first = it, created, True

    def __iter__(self):
        return self

    def __next__(self):
        t0 = _ns()
        row = next(self.it)  # StopIteration ends the iterator untimed
        t1 = _ns()
        if self.first:
            self.first = False
            T.first_batch_ns.append(t1 - self.created)
        else:
            T.count("app.fetch", t1 - t0, 1)
        return row


def _wrap_pool(server) -> None:
    pool = server._pool
    orig = pool.submit

    def submit(fn, *args, **kwargs):
        sid, par, root, t_sub = next(T.ids), T.parent(), T.root, _ns()
        name, T.pool_name = T.pool_name, "app.pool"

        def run():
            t0 = _ns()
            T.pool_wait_ns.append(t0 - t_sub)
            T.local.parent = sid
            try:
                return fn(*args, **kwargs)
            finally:
                T.local.parent = 0
                T.add((sid, par, root, name, t_sub, _ns()))

        return orig(run)

    pool.submit = submit


def enable() -> None:
    """Install every wrapper (runs in the main thread between statements)."""
    from pyspark.sql import SparkSession
    from pyspark.sql.classic import dataframe as classic_df

    from duckdb_pgwire_spark.operators import dml
    from duckdb_pgwire_spark.server import app, catalog_persist, compat
    from duckdb_pgwire_spark.server import protocol as P

    T.loop_thread = threading.get_ident()
    spark = SparkSession._instantiatedSession
    T.jobs0 = max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=0)

    S = app.PgWireServer
    _async_span(S, "_run_statement", "app.run_statement", root=True)
    _async_span(S, "_execute_portal", "app.execute_portal", root=True)
    _async_span(S, "_describe_sql", "app.describe", root=True)
    _async_span(S, "_stream_df", "app.stream_df")
    _async_span(S, "_copy_to_stdout", "app.copy_to_stdout")
    _async_span(S, "_copy_from_stdin", "app.copy_from_stdin")
    _async_span(asyncio.StreamWriter, "drain", "app.drain")
    orig_exec = S._exec

    def _exec(self, session, tag, fn, *args):
        T.count("app.exec", 0)
        # _exec submits synchronously; name the pool span after its task
        if getattr(fn, "__name__", "") == "load":
            T.pool_name = "app.copy_load"  # COPY FROM STDIN's Spark load
        return orig_exec(self, session, tag, fn, *args)

    S._exec = _exec
    for server in _SERVERS:
        _wrap_pool(server)

    _sync_span(compat, "rewrite", "compat.rewrite")
    app.rewrite = compat.rewrite
    _sync_span(type(spark), "sql", "spark.sql")
    orig_iter = classic_df.DataFrame.toLocalIterator

    def to_local_iterator(self, *args, **kwargs):
        created = _ns()
        return _TimedIter(iter(orig_iter(self, *args, **kwargs)), created)

    classic_df.DataFrame.toLocalIterator = to_local_iterator

    orig_tce, orig_bin, orig_text = app.text_cell_encoder, app.encode_binary, app.encode_text
    app.text_cell_encoder = lambda dt: _timed_cell(orig_tce(dt))

    def encode_binary(v, dt):
        t0 = _ns()
        out = orig_bin(v, dt)
        T.count("typemap.encode", _ns() - t0)
        return out

    app.encode_binary = encode_binary
    app.encode_text = _timed_cell(orig_text)

    orig_row, orig_copy = P.data_row, P.copy_data

    def data_row(values):
        t0 = _ns()
        out = orig_row(values)
        T.count("protocol.data_row", _ns() - t0, len(out))
        return out

    def copy_data(chunk):
        out = orig_copy(chunk)
        T.count("protocol.copy_data", 0, len(out))
        T.count("protocol.copy_rows", 0, chunk.count(b"\n"))
        return out

    P.data_row = data_row
    P.copy_data = copy_data

    for fn in ("update_table", "delete_from", "update_from", "delete_using",
               "update_returning", "delete_returning", "merge_into",
               "upsert_into", "insert_rows", "truncate_table"):
        _sync_span(dml, fn, "dml.op")
    _sync_span(dml, "_rewrite_table", "dml.rewrite_table")

    orig_save = catalog_persist.save
    _sync_span(catalog_persist, "save", "catalog.save")
    # the listener list holds the function object enable() registered
    listeners = compat.CATALOG_LISTENERS
    for i, fn in enumerate(listeners):
        if fn is orig_save:
            listeners[i] = catalog_persist.save


def dump(path: str) -> None:
    from pyspark.sql import SparkSession

    spark = SparkSession._instantiatedSession
    jobs1 = max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=0)
    with T.lock:
        out = {
            "spans": T.spans,
            "roots": T.roots,
            "counters": dict(T.counters),
            "pool_wait_ns": T.pool_wait_ns,
            "first_batch_ns": T.first_batch_ns,
            "jobs": jobs1 - T.jobs0,
        }
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True, help="directory for trace-on and spans.json")
    ap.add_argument("server_args", nargs=argparse.REMAINDER)
    args = ap.parse_args()
    server_args = args.server_args[1:] if args.server_args[:1] == ["--"] else args.server_args

    from duckdb_pgwire_spark.server import __main__ as cli
    from duckdb_pgwire_spark.server import app

    orig_init = app.PgWireServer.__init__

    def init(self, *a, **k):
        orig_init(self, *a, **k)
        _SERVERS.append(self)

    app.PgWireServer.__init__ = init

    def on_enable(signum, frame):
        enable()
        with open(os.path.join(args.out, "trace-on"), "w") as f:
            f.write("1")

    def on_dump(signum, frame):
        dump(os.path.join(args.out, "spans.json"))

    signal.signal(signal.SIGUSR2, on_enable)
    signal.signal(signal.SIGUSR1, on_dump)
    sys.argv = ["duckdb_pgwire_spark.server", *server_args]
    cli.main()


if __name__ == "__main__":
    main()

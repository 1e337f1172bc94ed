"""Wire benchmark: fixed seeded work over the PG wire, checked against DuckDB.

Run from the root of a checkout of the repository::

    python3 wirebench/run.py --workload extract --seed 1 --seconds 30 --trace 0

Each run generates its parquet inputs from ``--seed``, starts the real
server CLI (``python -m duckdb_pgwire_spark.server``) in a fresh work
directory under ``.wirebench_work/``, loads the tables over the wire,
runs one warm-up pass and then the timed fixed script on one connection,
tears the server's whole process group down, and then checks every reply
against DuckDB running the same SQL on the same parquet. ``--trace 1``
starts the server through ``traced_server.py`` instead, runs the timed
script once untraced and once traced, and reports the per-layer split.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. See README.md for the
definition of every metric.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import multiprocessing
import os
import select
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402
import oracle as orc  # noqa: E402
import pgwire  # noqa: E402
from workloads import WORKLOADS, Step, Workload  # noqa: E402

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".wirebench_work")
READY_TIMEOUT_S = 240
# the client may spend at most this share of in-flight statement time on
# its own framing before the run counts as generator-bound
CLIENT_SATURATED_FRAC = 0.5
# the end-to-end metrics BENCHMARK.json gates; every run reports the rest
# of end_to_end() in its report lines only
E2E_METRICS = ("setup_s", "stmt_p50_s", "stmts_per_s", "first_row_s",
               "rows_out_per_s", "server_py_rss_mb", "ops_ok_frac")


class BenchError(Exception):
    """The run cannot produce a result (exit code 2)."""


# ------------------------------------------------------------- processes
def _cwd_under(pid: str, root: str) -> bool:
    try:
        cwd = os.readlink(f"/proc/{pid}/cwd")
    except OSError:
        return False
    return cwd == root or cwd.startswith(root + os.sep)


def stale_processes() -> list[int]:
    """Processes (server or JVM) whose working directory is a bench work dir."""
    return [int(p) for p in os.listdir("/proc")
            if p.isdigit() and int(p) != os.getpid() and _cwd_under(p, WORK_ROOT)]


def group_members(pgid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(p))
    return out


def launch_env(work: str) -> dict[str, str]:
    """Everything the server process sees beyond the inherited environment."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "TZ": "UTC",
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": ROOT,
        "PYTHONHASHSEED": "0",
    }


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Server:
    """The server CLI as one process group in its own work directory."""

    def __init__(self, work: str, traced: bool, catalog: bool) -> None:
        self.work = work
        self.port = free_port()
        self.env = launch_env(work)
        srv_dir = os.path.join(work, "server")
        empty = os.path.join(work, "no-fixtures")
        os.makedirs(srv_dir)
        os.makedirs(empty)
        args = ["--port", str(self.port), "--sf-dir", empty, "--catalog-dir",
                os.path.join(work, "catalog") if catalog else "none"]
        if traced:
            cmd = [sys.executable, os.path.join(HERE, "traced_server.py"),
                   "--out", work, "--", *args]
        else:
            cmd = [sys.executable, "-m", "duckdb_pgwire_spark.server", *args]
        self.log = open(os.path.join(work, "server.log"), "wb")
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(
            cmd, cwd=srv_dir, env={**os.environ, **self.env}, stdout=subprocess.PIPE,
            stderr=self.log, start_new_session=True,
        )

    def wait_ready(self) -> None:
        deadline = time.monotonic() + READY_TIMEOUT_S
        out = self.proc.stdout
        while time.monotonic() < deadline:
            r, _, _ = select.select([out], [], [], 1.0)
            if r:
                line = out.readline()
                if line.startswith(b"READY"):
                    return
                if not line:
                    break
            elif self.proc.poll() is not None:
                break
        raise BenchError(f"server did not become ready; see {self.log.name}:\n"
                         + self.log_tail())

    def connect(self, timeout: float = 60.0) -> pgwire.PgConn:
        """The CLI prints READY just before it binds the port, so retry."""
        deadline = time.monotonic() + timeout
        while True:
            try:
                return pgwire.PgConn("127.0.0.1", self.port)
            except ConnectionRefusedError:
                if time.monotonic() > deadline or self.proc.poll() is not None:
                    raise BenchError("server refused connections after READY") from None
                time.sleep(0.02)

    def log_tail(self) -> str:
        self.log.flush()
        with open(self.log.name, "rb") as f:
            return f.read()[-3000:].decode(errors="replace")

    def notify(self, sig: int, flag: str, timeout: float = 60.0) -> None:
        """Send ``sig`` to the launcher and wait for it to write ``flag``."""
        path = os.path.join(self.work, flag)
        self.proc.send_signal(sig)
        deadline = time.monotonic() + timeout
        while not os.path.exists(path):
            if time.monotonic() > deadline or self.proc.poll() is not None:
                raise BenchError(f"traced server did not write {flag}")
            time.sleep(0.05)

    def rss_hwm_mb(self) -> float:
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise BenchError("VmHWM missing from /proc status")

    def stop(self) -> None:
        """Terminate the whole process group (server and JVM) and wait."""
        pgid = self.proc.pid
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                pass
            deadline = time.monotonic() + 20.0
            while group_members(pgid) and time.monotonic() < deadline:
                self.proc.poll()  # reap the leader
                time.sleep(0.1)
            if not group_members(pgid):
                break
        self.proc.wait(timeout=10)
        self.proc.stdout.close()
        self.log.close()
        if group_members(pgid):
            raise BenchError(f"process group {pgid} survived SIGKILL")


# ---------------------------------------------------------------- oracle
def prepare_expectations(twin: orc.Oracle, wl: Workload, paths: dict[str, str]) -> None:
    """Run the whole script through DuckDB first, recording per step the
    expected tag, row count and digest. Reads between the same two writes
    share one DuckDB evaluation per distinct SQL text."""
    for step in wl.setup:
        twin.con.execute(step.sql.format(**paths))
    cache: dict[str, orc.Expected] = {}
    for step in [*wl.warmup, *[s for p in wl.passes for s in p]]:
        sql = step.twin_sql or step.sql
        head = sql.split(None, 1)[0].upper()
        if step.rows:
            e = cache.get(sql) or cache.setdefault(sql, twin.expect(sql))
            step.expect_rows, step.expect_digest = e.nrows, e.digest
            step.expect_tag = f"COPY {e.nrows}" if step.kind == "copy_out" else e.tag
            continue
        cache.clear()  # a write: later reads see new state
        if step.kind == "copy_in":
            step.expect_tag = f"COPY {twin.copy_in_text('wb_ledger', step.data)}"
        elif head in ("UPDATE", "DELETE", "INSERT"):
            step.target_rows = twin.con.execute("SELECT count(*) FROM wb_ledger").fetchone()[0]
            n = twin.con.execute(sql).fetchone()[0]
            step.expect_tag = f"INSERT 0 {n}" if head == "INSERT" else f"{head} {n}"
        else:
            twin.con.execute(sql)
            step.expect_tag = " ".join(sql.split()[:2]).upper()


def check(step: Step, rep: pgwire.Reply, got: tuple | None) -> tuple[str | None, bool]:
    """Returns (failure reason or None, whether returned data was wrong);
    ``got`` is the reply's ``oracle.reply_digest`` for row-returning steps."""
    if rep.error is not None:
        return f"error {rep.sqlstate}: {rep.error[:160]}", False
    if step.rows:
        nrows, dig = got[:2]
        if nrows != step.expect_rows:
            return f"rows {nrows} != {step.expect_rows}", True
        if dig != step.expect_digest:
            return "digest mismatch", True
    if rep.tag != step.expect_tag:
        return f"tag {rep.tag!r} != {step.expect_tag!r}", False
    return None, False


def send(conn: pgwire.PgConn, step: Step) -> pgwire.Reply:
    if step.kind == "copy_in":
        return conn.copy_in(step.sql, step.data)
    if step.kind == "fetch":
        return conn.fetch(step.sql, step.binary, step.maxrows)
    return conn.query(step.sql)


def run_pass(conn: pgwire.PgConn, steps: list[Step]) -> tuple[list[pgwire.Reply], float]:
    """The timed fixed script: send, receive, nothing else."""
    t0 = time.perf_counter()
    replies = [send(conn, s) for s in steps]
    return replies, time.perf_counter() - t0


# --------------------------------------------------------------- metrics
def _acked_rows(tag: str | None) -> int:
    parts = (tag or "").split()
    if parts[:1] == ["COPY"] and len(parts) == 2 or parts[:1] == ["INSERT"] and len(parts) == 3:
        return int(parts[-1])
    return 0


def end_to_end(steps, replies, wall, setup_s, rss_mb, attempted, failed) -> dict:
    lat = [r.elapsed for r in replies]
    out_reps = [r for r in replies if r.t_first is not None]
    in_reps = [r for s, r in zip(steps, replies)
               if s.kind == "copy_in" or s.sql.startswith("INSERT")]
    q = statistics.quantiles(lat, n=10, method="inclusive") if len(lat) > 1 else lat * 9
    return {
        "setup_s": (setup_s, "s"),
        "stmt_p50_s": (statistics.median(lat), "s"),
        "stmt_p90_s": (q[8], "s"),
        "stmts_per_s": (len(replies) / wall, "1/s"),
        "first_row_s": (statistics.median(r.t_first - r.t_send for r in out_reps)
                        if out_reps else 0.0, "s"),
        "rows_out_per_s": (sum(r.nrows for r in out_reps)
                           / sum(r.elapsed for r in out_reps) if out_reps else 0.0, "1/s"),
        "rows_in_per_s": (sum(_acked_rows(r.tag) for r in in_reps)
                          / sum(r.elapsed for r in in_reps) if in_reps else 0.0, "1/s"),
        "server_py_rss_mb": (rss_mb, "MB"),
        "ops_failed_frac": (failed / attempted, "1"),
        "ops_ok_frac": (1 - failed / attempted, "1"),
    }


# ------------------------------------------------------------------- run
def kill_stale(what: str) -> list[int]:
    """SIGKILL every process whose working directory is a bench work dir:
    a server, its JVM, or anything they started in a group of its own.
    Waits for them to go and returns any still alive."""
    stale = stale_processes()
    if stale:
        print(f"wirebench: stopping {what}: {stale}", file=sys.stderr)
        for pid in stale:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 30
        while stale_processes() and time.monotonic() < deadline:
            time.sleep(0.1)
    return stale_processes()


def clear_stale() -> None:
    """Stop any server or JVM an earlier run left behind (a run killed
    before its cleanup), then assert that none is alive."""
    alive = kill_stale("processes of an earlier run")
    if alive:
        raise BenchError(f"processes from an earlier run are alive: {alive}")
    shutil.rmtree(WORK_ROOT, ignore_errors=True)


def check_all(groups, wl: Workload, paths: dict[str, str], spool: str):
    """Checks every reply. Worker processes digest the replies while this
    process runs the script through DuckDB. Returns failure counts by
    reason, whether any reply was wrong data or a wire error, and the
    CPU seconds the checker spent on the last group (the measured pass).
    The workers are forked: a spawn or forkserver pool would also start
    multiprocessing's resource tracker, a helper that outlives the run."""
    ctx = multiprocessing.get_context("fork")
    workers = max(1, len(os.sched_getaffinity(0)) - 1)
    with concurrent.futures.ProcessPoolExecutor(workers, mp_context=ctx) as pool:
        futures = [[pool.submit(orc.reply_digest, s.kind, s.copy_oids, r)
                    if s.rows and r.error is None else None
                    for s, r in zip(steps, reps)] for steps, reps in groups]
        twin = orc.Oracle(spool)
        prepare_expectations(twin, wl, paths)
        twin.close()
        digests = [[f.result() if f else None for f in fs] for fs in futures]
    failures: dict[str, int] = {}
    bad = False
    for (steps, reps), got in zip(groups, digests):
        for step, rep, g in zip(steps, reps, got):
            reason, wrong = check(step, rep, g)
            bad |= wrong or rep.error is not None
            if reason is not None:
                key = f"{reason} [{step.label}]"
                failures[key] = failures.get(key, 0) + 1
    return failures, bad, sum(g[2] for g in digests[-1] if g)


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    if not os.path.isfile(os.path.join(ROOT, "duckdb_pgwire_spark", "server", "__main__.py")):
        raise BenchError("run from the repository root: duckdb_pgwire_spark/ not found")
    clear_stale()
    wl = WORKLOADS[workload](seed, seconds, trace)
    work = os.path.join(WORK_ROOT, f"{workload}-s{seed}")
    os.makedirs(work)
    server = None
    phases = {"start": time.perf_counter()}
    try:
        paths = datagen.generate(os.path.join(work, "data"), seed, wl.tables, wl.sizes)
        phases["datagen"] = time.perf_counter()

        server = Server(work, trace, wl.catalog)
        server.wait_ready()
        conn = server.connect()
        for step in wl.setup:
            rep = conn.query(step.sql.format(**paths))
            if rep.error:
                raise BenchError(f"setup failed: {step.sql[:80]}: {rep.error[:300]}")
        setup_s = time.perf_counter() - server.t_spawn

        phases["setup"] = time.perf_counter()
        warm = [send(conn, s) for s in wl.warmup]
        phases["warmup"] = time.perf_counter()
        untraced, wall_u = run_pass(conn, wl.passes[0])
        groups = [(wl.warmup, warm), (wl.passes[0], untraced)]
        if trace:
            server.notify(signal.SIGUSR2, "trace-on")
            traced, wall_t = run_pass(conn, wl.passes[1])
            groups.append((wl.passes[1], traced))
            server.notify(signal.SIGUSR1, "spans.json")
            with open(os.path.join(work, "spans.json")) as f:
                dump = json.load(f)
        rss_mb = server.rss_hwm_mb()
        env = server.env
        phases["passes"] = time.perf_counter()
        conn.close()
        server.stop()
        server = None
        phases["teardown"] = time.perf_counter()
        failures, bad, check_s = check_all(groups, wl, paths, work)
        phases["check"] = time.perf_counter()
    finally:
        if server is not None:
            server.stop()
        shutil.rmtree(work, ignore_errors=True)

    marks = list(phases.items())
    attempted = sum(len(steps) for steps, _ in groups)
    failed = sum(failures.values())
    steps, reps = groups[-1]
    wall = wall_t if trace else wall_u
    inflight = sum(r.busy_s for r in reps) / sum(r.elapsed for r in reps)
    if workload == "extract" and inflight > CLIENT_SATURATED_FRAC:
        raise BenchError(f"client saturated: it spent {inflight:.0%} of "
                         "in-flight statement time framing replies")
    client_busy = (sum(r.busy_s for r in reps) + check_s) / wall
    e2e = end_to_end(wl.passes[0], untraced, wall_u, setup_s, rss_mb, attempted, failed)
    report = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "launch_env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS", "TZ",
                                           "SPARK_GRAFT_DRIVER_MEM")},
        "timed_statements": len(untraced),
        "warmup_statements": len(warm),
        "client_busy_frac": round(client_busy, 4),
        "latencies_s": [round(r.elapsed, 3) for r in untraced],
        "first_rows_s": [None if r.t_first is None else round(r.t_first - r.t_send, 3)
                         for r in untraced],
        "phases_s": {k: round(t - t0, 2) for (_, t0), (k, t) in zip(marks, marks[1:])},
        "failures": failures,
        "end_to_end": {k: f"{v:.6g} {u}" for k, (v, u) in e2e.items()},
    }
    if trace:
        metrics = layers.per_layer(dump, steps, reps, wall_u, wall_t, client_busy)
        report["per_layer"] = {k: f"{v:.6g} {u}" for k, (v, u) in metrics.items()}
    else:
        metrics = {k: e2e[k] for k in E2E_METRICS}
    return {
        "report": report,
        "result": {
            "correct": not bad,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def children() -> list[int]:
    me = str(os.getpid())
    out = []
    for p in os.listdir("/proc"):
        try:
            with open(f"/proc/{p}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[1] == me:
                    out.append(int(p))
        except (OSError, IndexError):
            continue
    return out


def reap_children() -> None:
    """Kill and wait for any process of this run still alive, so that no
    run leaves a process behind whatever path it leaves by."""
    kill_stale("leftover processes of this run")
    for pid in children():
        print(f"wirebench: stopping leftover child process {pid}", file=sys.stderr)
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through run()'s cleanup


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="fixed-work PG wire benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _terminate)
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except BenchError as exc:
        print(f"wirebench: {exc}", file=sys.stderr)
        return 2
    finally:
        reap_children()
    for key, value in out["report"].items():
        print(f"{key}: {json.dumps(value)}")
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())

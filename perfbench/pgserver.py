"""A throwaway local Postgres 15 server and the capture daemon, both
run as children of the benchmark process and stopped on every exit
path (the caller holds them in a ``contextlib.ExitStack``).

Postgres refuses to run as root. When the benchmark runs as root the
server runs in a user namespace (``unshare --user``) under a mapped
non-root id: inside, the id is not 0, and outside, its files stay owned
by the caller, so the data directory can sit anywhere the caller can
write.
"""

from __future__ import annotations

import ctypes
import os
import shutil
import signal
import socket
import subprocess
import sys
import time

from postrack_spark.sources.pgwire import PgWireConnection

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = os.path.join(REPO, "scripts", "capture_daemon.py")


def die_with_parent(sig: int):
    """preexec_fn: the child gets ``sig`` if the benchmark dies first,
    so not even a SIGKILLed run leaves a server or daemon behind."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int

    def hook() -> None:
        libc.prctl(1, sig, 0, 0, 0)  # PR_SET_PDEATHSIG

    return hook


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _as_non_root(argv: list[str]) -> list[str]:
    if os.geteuid() != 0:
        return argv
    return ["unshare", "--user", "--map-user=1000", "--map-group=1000", *argv]


def parse_lsn(text: str) -> int:
    hi, lo = text.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


class PgServer:
    """initdb + postgres on a free localhost port, logical WAL on."""

    def __init__(self, workdir: str) -> None:
        self.data = os.path.join(workdir, "pgdata")
        self.log = os.path.join(workdir, "pg.log")
        self.port = _free_port()
        self.proc: subprocess.Popen | None = None
        self.version = ""

    def initdb(self) -> None:
        """Create the cluster; safe to run in a helper thread."""
        for tool in ("initdb", "postgres") + (("unshare",) if os.geteuid() == 0 else ()):
            if shutil.which(tool) is None:
                raise RuntimeError(f"{tool} not found on PATH")
        subprocess.run(
            _as_non_root(["initdb", "-D", self.data, "-A", "trust", "-U", "postgres",
                          "--no-sync", "-E", "UTF8"]),
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
        )

    def start(self) -> None:
        """Start the server. Call from the main thread: the server is
        tied to the life of the thread that starts it."""
        with open(self.log, "wb") as log:
            self.proc = subprocess.Popen(
                _as_non_root([
                    "postgres", "-D", self.data,
                    "-c", f"port={self.port}", "-c", "listen_addresses=127.0.0.1",
                    "-c", "unix_socket_directories=", "-c", "wal_level=logical",
                    "-c", "max_replication_slots=8", "-c", "max_wal_senders=8",
                    "-c", "fsync=off", "-c", "synchronous_commit=on",
                    "-c", "shared_buffers=64MB",
                ]),
                stdout=log, stderr=subprocess.STDOUT,
                preexec_fn=die_with_parent(signal.SIGQUIT),
            )
        deadline = time.monotonic() + 30
        while True:
            try:
                c = self.connect()
            except (OSError, RuntimeError):  # not listening / still starting up
                if self.proc.poll() is not None or time.monotonic() > deadline:
                    raise RuntimeError(f"postgres did not start: see {self.log}")
                time.sleep(0.05)
                continue
            self.version = c.query("SHOW server_version")[0][0]
            c.close()
            return

    def connect(self) -> PgWireConnection:
        return PgWireConnection("127.0.0.1", self.port, "postgres", "postgres")

    @property
    def dsn(self) -> str:
        return f"postgres://postgres@127.0.0.1:{self.port}/postgres"

    def stop(self) -> None:
        """Fast shutdown; immediate if that hangs."""
        if self.proc is None or self.proc.poll() is not None:
            return
        self.proc.send_signal(signal.SIGINT)
        try:
            self.proc.wait(20)
        except subprocess.TimeoutExpired:
            self.proc.send_signal(signal.SIGQUIT)
            self.proc.wait(10)


class Daemon:
    """``scripts/capture_daemon.py --transport pgwire`` as a child."""

    def __init__(self, server: PgServer, slot: str, out_dir: str, ack_interval: float,
                 env: dict) -> None:
        self.argv = [
            sys.executable, DAEMON, "--dsn", server.dsn, "--slot", slot,
            "--out", out_dir, "--transport", "pgwire",
            "--ack-interval", str(ack_interval),
        ]
        self.env = env
        self.log = out_dir.rstrip("/") + ".log"
        self.proc: subprocess.Popen | None = None
        self.cpu_s = 0.0

    def start(self) -> None:
        with open(self.log, "wb") as log:
            self.proc = subprocess.Popen(
                self.argv, env=self.env, stdout=log, stderr=subprocess.STDOUT,
                preexec_fn=die_with_parent(signal.SIGKILL),
            )

    def alive(self) -> bool:
        return self.proc is not None and self.proc.poll() is None

    def stop(self) -> None:
        """SIGTERM (the daemon flushes, acks and exits), SIGKILL if it
        hangs. Records the daemon's CPU time before it is reaped."""
        if self.proc is None or self.proc.poll() is not None:
            return
        from perfbench.metrics import proc_cpu_s

        try:
            self.cpu_s = proc_cpu_s(self.proc.pid)
        except OSError:
            pass
        self.proc.send_signal(signal.SIGTERM)
        try:
            self.proc.wait(15)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(10)

    def error_tail(self) -> str:
        with open(self.log, "rb") as f:
            return f.read()[-600:].decode(errors="replace")


def confirmed_flush(conn: PgWireConnection, slot: str) -> int:
    rows = conn.query(
        f"SELECT confirmed_flush_lsn FROM pg_replication_slots WHERE slot_name = '{slot}'"
    )
    return parse_lsn(rows[0][0]) if rows and rows[0][0] else 0


def current_lsn(conn: PgWireConnection) -> int:
    return parse_lsn(conn.query("SELECT pg_current_wal_lsn()")[0][0])


def commit_marked(conn: PgWireConnection, stmt: str) -> int:
    """Run ``stmt`` in its own transaction; return an LSN that only that
    transaction's commit (and later ones) can be acked past: the WAL
    insert position just before COMMIT, plus one. Unlike
    pg_current_wal_lsn() after the commit, it cannot include WAL that
    other backends write later, which no capture ever acks."""
    rows = conn.query(f"BEGIN; {stmt}; SELECT pg_current_wal_insert_lsn(); COMMIT;")
    return parse_lsn(rows[-1][0]) + 1


def wait_acked(conn: PgWireConnection, slot: str, target: int, daemon: Daemon,
               timeout_s: float = 60.0, poll_s: float = 0.02) -> float:
    """Block until the slot's confirmed_flush_lsn covers ``target``;
    returns the time it did."""
    deadline = time.monotonic() + timeout_s
    while confirmed_flush(conn, slot) < target:
        if not daemon.alive():
            raise RuntimeError(f"capture daemon exited: {daemon.error_tail()}")
        if time.monotonic() > deadline:
            raise RuntimeError(f"slot {slot} never acked up to {target}")
        time.sleep(poll_s)
    return time.time()


def drop_slot(conn: PgWireConnection, slot: str) -> None:
    """Drop the slot once no walsender holds it."""
    deadline = time.monotonic() + 15
    while True:
        rows = conn.query(
            f"SELECT active_pid FROM pg_replication_slots WHERE slot_name = '{slot}'"
        )
        if not rows:
            return
        if rows[0][0] is not None:
            conn.query(f"SELECT pg_terminate_backend({rows[0][0]})")
        try:
            conn.query(f"SELECT pg_drop_replication_slot('{slot}')")
            return
        except RuntimeError:
            if time.monotonic() > deadline:
                raise
            time.sleep(0.1)

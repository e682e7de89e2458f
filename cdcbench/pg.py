"""Throwaway PostgreSQL cluster and a minimal simple-protocol SQL client.

The cluster recipe follows the live-Postgres test fixture: the server
binaries found on ``PATH``, ``initdb`` with trust auth, ``wal_level=logical``,
a free loopback port, torn down by ``stop()``. The server runs as the
``postgres`` account mapped by a user namespace, so its data directory can
live inside the checkout. A cluster that will not start raises
``RuntimeError``; the benchmark never skips the live path.

The SQL client speaks the simple query protocol over the package's own
framing helpers (``startup_message(..., replication="false")``,
``query_message``, ``read_frame``), so no Postgres client library is needed.
"""

from __future__ import annotations

import os
import pwd
import shutil
import socket
import subprocess

from go_pq_cdc_elasticsearch_spark.sources.pgoutput import (
    parse_error_response,
    query_message,
    read_frame,
    startup_message,
)


def _pg_bindir() -> str:
    initdb = shutil.which("initdb")
    if initdb is None:
        raise RuntimeError("Postgres server binaries (initdb, pg_ctl) not found on PATH")
    return os.path.dirname(initdb)


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _as_server_user(args: list[str], timeout: float = 120) -> subprocess.CompletedProcess:
    """Run a server binary as a non-root user. The server refuses to run as
    root, so it runs in a user namespace that maps the ``postgres`` account
    onto the caller: the files it writes belong to the caller and can sit in
    any directory the caller can write, such as the checkout."""
    pw = pwd.getpwnam("postgres")
    return subprocess.run(
        ["unshare", "--user", f"--map-user={pw.pw_uid}", f"--map-group={pw.pw_gid}",
         os.path.join(_pg_bindir(), args[0]), *args[1:]],
        capture_output=True, text=True, timeout=timeout,
    )


class PgCluster:
    """One initdb'd server with its data directory under ``work``, removed
    by ``stop()``."""

    def __init__(self, work: str):
        self.work = work
        os.makedirs(work, exist_ok=True)
        self.data = os.path.join(work, "data")
        self.port = _free_port()

    def start(self) -> "PgCluster":
        r = _as_server_user(["initdb", "-D", self.data, "--auth=trust", "-U", "postgres"])
        if r.returncode != 0:
            raise RuntimeError(f"initdb failed: {r.stderr[-500:]}")
        with open(os.path.join(self.data, "postgresql.conf"), "a") as f:
            f.write(
                "\nwal_level=logical\nmax_replication_slots=8\nmax_wal_senders=8\n"
                f"port={self.port}\nlisten_addresses='127.0.0.1'\n"
                f"unix_socket_directories='{self.work}'\nlogging_collector=off\n"
                "wal_sender_timeout='10s'\n"
            )
        log = os.path.join(self.work, "server.log")
        r = _as_server_user(["pg_ctl", "-D", self.data, "-l", log, "-w", "-t", "60", "start"])
        if r.returncode != 0:
            tail = ""
            if os.path.exists(log):
                with open(log) as f:
                    tail = f.read()[-500:]
            raise RuntimeError(f"pg_ctl start failed: {r.stderr[-300:]} {tail}")
        return self

    def postmaster_pid(self) -> int:
        """The running server's pid (first line of ``postmaster.pid``)."""
        with open(os.path.join(self.data, "postmaster.pid")) as f:
            return int(f.readline())

    def version(self) -> str:
        r = subprocess.run([os.path.join(_pg_bindir(), "postgres"), "--version"],
                           capture_output=True, text=True, timeout=30)
        return r.stdout.strip()

    def stop(self) -> None:
        """Stops the server if one runs (also after a failed start) and
        removes its directory."""
        if os.path.exists(os.path.join(self.data, "postmaster.pid")):
            _as_server_user(["pg_ctl", "-D", self.data, "-m", "immediate", "-w", "-t", "60", "stop"])
        shutil.rmtree(self.work, ignore_errors=True)


class SqlConnection:
    """One non-replication backend connection running simple-protocol
    queries. ``query`` returns the rows of the last result set as lists of
    text values (``None`` for SQL NULL); ``tags`` holds the command tags of
    the last call (``"UPDATE 20000"``)."""

    def __init__(self, port: int, database: str = "postgres", user: str = "postgres"):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=60)
        self.file = self.sock.makefile("rb", buffering=0)
        self.sock.sendall(startup_message(user, database, replication="false"))
        while True:
            t, body = read_frame(self.file)
            if not t:
                raise RuntimeError("connection closed during startup")
            if t == b"E":
                raise RuntimeError(f"startup failed: {parse_error_response(body)}")
            if t == b"Z":
                return

    def query(self, sql: str) -> list[list]:
        self.sock.sendall(query_message(sql))
        self.tags: list[str] = []
        rows: list[list] = []
        err = None
        while True:
            t, body = read_frame(self.file)
            if not t:
                raise RuntimeError("connection closed mid-query")
            if t == b"T":
                rows = []
            elif t == b"D":
                rows.append(_parse_data_row(body))
            elif t == b"C":
                self.tags.append(body.rstrip(b"\x00").decode())
            elif t == b"E":
                err = parse_error_response(body)
            elif t == b"Z":
                break
        if err is not None:
            raise RuntimeError(f"query failed: {err.get('M')} ({err.get('C')}): {sql[:200]}")
        return rows

    def rows_changed(self) -> int:
        """Rows written by the last ``query`` (sum over INSERT/UPDATE/DELETE
        tags)."""
        return sum(int(t.split()[-1]) for t in self.tags
                   if t.split()[0] in ("INSERT", "UPDATE", "DELETE"))

    def close(self) -> None:
        try:
            self.sock.sendall(b"X\x00\x00\x00\x04")
        except OSError:
            pass
        self.file.close()
        self.sock.close()


def _parse_data_row(body: bytes) -> list:
    n = int.from_bytes(body[0:2], "big")
    pos = 2
    out = []
    for _ in range(n):
        ln = int.from_bytes(body[pos:pos + 4], "big", signed=True)
        pos += 4
        if ln < 0:
            out.append(None)
        else:
            out.append(body[pos:pos + ln].decode())
            pos += ln
    return out

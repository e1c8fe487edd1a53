"""A throwaway PostgreSQL server that lives inside one benchmark run.

The server is ``initdb``-ed into a directory the caller owns, listens
on a free loopback TCP port only (no unix socket, so the data path
may be any length), and runs as a direct child of this process, so
its memory and CPU count towards the run's process tree and ``stop``
can wait for it to end.

When the benchmark runs as root, PostgreSQL refuses to start as root,
so the server runs as the ``postgres`` user with the one capability
it needs to reach a data directory below a root-only parent.
"""

from __future__ import annotations

import os
import pwd
import shutil
import signal
import socket
import subprocess
import time

from procstat import process_cpu_s, tree_pids

_SERVER_SETTINGS = {
    "listen_addresses": "127.0.0.1",
    "unix_socket_directories": "",
    "fsync": "off",
    "synchronous_commit": "off",
    "full_page_writes": "off",
    "max_connections": "20",
    "shared_buffers": "64MB",
    # dynamic shared memory as files in the data directory, not /dev/shm
    "dynamic_shared_memory_type": "mmap",
}


def available() -> str | None:
    """None when a server can be provisioned here, else the reason."""
    for binary in ("initdb", "postgres", "psql"):
        if shutil.which(binary) is None:
            return f"{binary} not on PATH"
    if os.geteuid() == 0:
        try:
            pwd.getpwnam("postgres")
        except KeyError:
            return "running as root and there is no postgres user"
        if shutil.which("setpriv") is None:
            return "running as root and setpriv is missing"
    return None


def _free_port() -> int:
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class PgServer:
    host = "127.0.0.1"

    def __init__(self, root: str):
        self.root = root
        self.data = os.path.join(root, "data")
        self.port = _free_port()
        self.proc: subprocess.Popen | None = None
        self._log = None

    def _as_server_user(self, args: list[str]) -> list[str]:
        if os.geteuid() != 0:
            return args
        return [
            "setpriv", "--reuid=postgres", "--regid=postgres", "--init-groups",
            "--inh-caps=+dac_read_search", "--ambient-caps=+dac_read_search", *args,
        ]

    def start(self, timeout_s: float = 60.0) -> None:
        os.makedirs(self.data, mode=0o700)
        if os.geteuid() == 0:
            pg = pwd.getpwnam("postgres")
            os.chown(self.data, pg.pw_uid, pg.pw_gid)
        subprocess.run(
            self._as_server_user(
                ["initdb", "-D", self.data, "-A", "trust", "-U", "postgres", "-E", "UTF8", "--no-sync"]
            ),
            check=True, capture_output=True, timeout=timeout_s,
        )
        args = ["postgres", "-D", self.data, "-p", str(self.port)]
        for k, v in _SERVER_SETTINGS.items():
            args += ["-c", f"{k}={v}"]
        self._log = open(os.path.join(self.root, "server.log"), "w")
        self.proc = subprocess.Popen(
            self._as_server_user(args), stdout=self._log, stderr=subprocess.STDOUT
        )
        deadline = time.monotonic() + timeout_s
        while True:
            ok = subprocess.run(
                self.psql_args("postgres") + ["-c", "SELECT 1"], capture_output=True
            ).returncode == 0
            if ok:
                return
            if self.proc.poll() is not None or time.monotonic() > deadline:
                raise RuntimeError(f"postgres did not start; see {self._log.name}")
            time.sleep(0.05)

    def psql_args(self, database: str) -> list[str]:
        return ["psql", "-h", self.host, "-p", str(self.port), "-U", "postgres",
                "-d", database, "-X", "-q", "-v", "ON_ERROR_STOP=1"]

    def execute(self, database: str, sql: str, transaction: bool = True) -> None:
        """Run ``sql`` (any number of statements), by default in one
        transaction (``CREATE DATABASE`` must run outside one)."""
        subprocess.run(self.psql_args(database) + (["-1"] if transaction else []), input=sql,
                       text=True, check=True, capture_output=True)

    def cpu_s(self) -> float:
        """CPU seconds of the server: postmaster, live backends, and the
        backends that have already exited (reaped into the postmaster's
        child counters)."""
        if self.proc is None:
            return 0.0
        return sum(process_cpu_s(pid, with_children=(pid == self.proc.pid))
                   for pid in tree_pids(self.proc.pid))

    def stop(self) -> None:
        if self.proc is not None and self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)  # fast shutdown
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        if self._log is not None:
            self._log.close()
        shutil.rmtree(self.root, ignore_errors=True)

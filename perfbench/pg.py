"""Throwaway PostgreSQL server whose data directory lives in the work
directory.

PostgreSQL refuses to run as root.  The server runs under ``unshare
--user``: inside a fresh user namespace its uid reads as unprivileged,
while file access still happens with the caller's credentials, so no
system user or directory outside the work directory is needed.  The
server keeps PostgreSQL's default durability settings (``fsync=on``,
``synchronous_commit=on``); only ``initdb`` skips its one-off sync of
the freshly created cluster files.
"""

from __future__ import annotations

import os
import shutil
import signal
import socket
import subprocess
import time

USER = "bench"
DB = "dwh"


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Postgres:
    def __init__(self, base: str) -> None:
        self.base = base
        self.data = os.path.join(base, "data")
        self.port = _free_port()
        self.proc: subprocess.Popen | None = None

    @property
    def url(self) -> str:
        return f"jdbc:postgresql://127.0.0.1:{self.port}/{DB}"

    def start(self) -> None:
        for tool in ("initdb", "postgres", "psql", "unshare"):
            if shutil.which(tool) is None:
                raise RuntimeError(f"{tool} not found on PATH")
        shutil.rmtree(self.base, ignore_errors=True)
        os.makedirs(self.base)
        subprocess.run(
            ["unshare", "--user", "initdb", "-D", self.data, "-U", USER,
             "--auth=trust", "-E", "UTF8", "--no-sync"],
            check=True, capture_output=True, timeout=120,
        )
        log = open(os.path.join(self.base, "server.log"), "wb")
        self.proc = subprocess.Popen(
            ["unshare", "--user", "postgres", "-D", self.data,
             "-p", str(self.port), "-k", self.base,
             "-c", "listen_addresses=127.0.0.1"],
            stdout=log, stderr=subprocess.STDOUT,
        )
        log.close()
        deadline = time.time() + 60
        while time.time() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError("postgres exited during start-up")
            if self.psql("SELECT 1", db="postgres", check=False) == "1":
                break
            time.sleep(0.2)
        else:
            raise RuntimeError("postgres did not accept connections")
        self.psql(f"CREATE DATABASE {DB}", db="postgres")

    def psql(self, sql: str, db: str = DB, check: bool = True) -> str:
        r = subprocess.run(
            ["psql", "-h", "127.0.0.1", "-p", str(self.port), "-U", USER,
             "-d", db, "-v", "ON_ERROR_STOP=1", "-tA", "-c", sql],
            capture_output=True, text=True, timeout=120,
        )
        if check and r.returncode != 0:
            raise RuntimeError(r.stderr.strip())
        return r.stdout.strip()

    def stop(self) -> None:
        if self.proc is None:
            return
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)  # fast shutdown
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc = None

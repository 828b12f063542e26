"""A throw-away PostgreSQL server inside the benchmark's work directory.

The engine's COPY loader (``etl.postgres_copy``) runs ``psql`` as the
``postgres`` OS user. That client reaches this server over TCP on
127.0.0.1 through ``PGHOST``/``PGPORT``, which ``su`` passes on.

Postgres refuses to run as root, and the ``postgres`` user may not be able
to enter the checkout. So ``initdb``, ``postgres`` and ``pg_ctl`` run in a
new user namespace that maps the calling root user to uid 1000: the server
sees a non-root owner of its data directory and no file outside the work
directory is touched (dynamic shared memory is file-backed, no unix
socket, log in the work directory).
"""

from __future__ import annotations

import os
import shutil
import socket
import subprocess

_USERNS = ("unshare", "--user", "--map-user=1000", "--map-group=1000")


def free_port() -> int:
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class LocalPostgres:
    """One cluster under ``work_dir``; ``start`` re-initializes it."""

    def __init__(self, work_dir: str, port: int):
        self.work_dir = os.path.abspath(work_dir)
        self.data = os.path.join(self.work_dir, "data")
        self.log = os.path.join(self.work_dir, "server.log")
        self.port = port

    def _run(self, *cmd: str) -> None:
        out = subprocess.run([*_USERNS, *cmd], capture_output=True, text=True, timeout=60)
        if out.returncode != 0:
            raise RuntimeError(f"{cmd[0]} failed: {out.stderr.strip() or out.stdout.strip()}")

    def start(self) -> None:
        try:
            self.stop()  # a previous run that was killed may have left one
        except RuntimeError:
            pass  # its pid file was stale: nothing is running
        shutil.rmtree(self.work_dir, ignore_errors=True)
        os.makedirs(self.work_dir)
        self._run("initdb", "-D", self.data, "-U", "postgres", "--auth=trust", "--no-sync")
        opts = (
            f"-c listen_addresses=127.0.0.1 -c port={self.port} -c unix_socket_directories='' "
            "-c dynamic_shared_memory_type=mmap -c fsync=off -c synchronous_commit=off"
        )
        self._run("pg_ctl", "-D", self.data, "-l", self.log, "-w", "-o", opts, "start")

    def stop(self) -> None:
        if os.path.exists(os.path.join(self.data, "postmaster.pid")):
            self._run("pg_ctl", "-D", self.data, "-w", "-m", "fast", "stop")

    def env(self) -> dict[str, str]:
        """Client settings; set before the JVM starts so that executor
        Python workers inherit them."""
        return {"PGHOST": "127.0.0.1", "PGPORT": str(self.port)}

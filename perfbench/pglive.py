"""A throwaway PostgreSQL cluster inside the benchmark's work directory.

``initdb`` + ``postgres`` from ``PATH`` with ``wal_level=logical``,
listening on 127.0.0.1 only.  PostgreSQL refuses to run as root; when the
benchmark runs as root the server runs as ``nobody``, keeping the
directory-access capabilities it needs to reach a work directory under a
root-only path.  The postmaster is this process's child and is stopped
(fast shutdown) and waited for by ``stop()``.
"""

from __future__ import annotations

import os
import pwd
import shutil
import signal
import socket
import subprocess
import time

USER, PASSWORD, DB = "perfbench", "perfbench_pw", "postgres"


def _free_port() -> int:
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


def _die_with_parent() -> None:
    """Child pre-exec hook: SIGINT (fast shutdown) when this process dies,
    so a killed benchmark never leaves a server behind."""
    import ctypes

    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int, ctypes.c_ulong]
    prctl.restype = ctypes.c_int
    prctl(1, signal.SIGINT)  # PR_SET_PDEATHSIG


def _as_server_user(argv: list, server: bool = False) -> list:
    if os.geteuid() != 0:
        return argv
    if shutil.which("setpriv") is None:
        raise RuntimeError("running as root needs setpriv to start PostgreSQL as nobody")
    nobody = pwd.getpwnam("nobody")
    caps = "+dac_override,+dac_read_search"
    return [
        "setpriv", f"--reuid={nobody.pw_uid}", f"--regid={nobody.pw_gid}",
        "--clear-groups", f"--inh-caps={caps}", f"--ambient-caps={caps}",
        # A uid change clears the parent-death signal: set it again.
    ] + (["--pdeathsig", "INT"] if server else []) + argv


def connect(port: int, timeout: float = 10.0):
    """A client connection to the cluster listening on ``port``."""
    from pypgcdc_spark.sources.pgwire import ReplicationClient

    c = ReplicationClient("127.0.0.1", port, USER, DB, PASSWORD, timeout=timeout)
    c.connect()
    return c


class LiveCluster:
    def __init__(self, base: str):
        if shutil.which("initdb") is None or shutil.which("postgres") is None:
            raise RuntimeError("PostgreSQL server binaries (initdb, postgres) not on PATH")
        self.base = base
        self.data = os.path.join(base, "data")
        self.port = _free_port()
        os.makedirs(base, exist_ok=True)
        pwfile = os.path.join(base, "pw")
        with open(pwfile, "w") as f:
            f.write(PASSWORD + "\n")
        r = subprocess.run(
            _as_server_user(
                ["initdb", "-D", self.data, "-U", USER, f"--pwfile={pwfile}",
                 "--auth-host=scram-sha-256", "--auth-local=trust", "-N", "--no-instructions"]
            ),
            capture_output=True, text=True, cwd=base,
        )
        if r.returncode != 0:
            raise RuntimeError(f"initdb failed: {r.stderr[-400:]}")
        with open(os.path.join(self.data, "postgresql.conf"), "a") as f:
            f.write(
                "listen_addresses = '127.0.0.1'\n"
                f"port = {self.port}\n"
                "unix_socket_directories = ''\n"
                "wal_level = logical\n"
                "max_wal_senders = 4\n"
                "max_replication_slots = 4\n"
                "shared_buffers = 32MB\n"
                # A scratch cluster: durability of its WAL is not under test.
                "fsync = off\n"
                "full_page_writes = off\n"
            )
        with open(os.path.join(self.data, "pg_hba.conf"), "a") as f:
            f.write(
                "host all all 127.0.0.1/32 scram-sha-256\n"
                "host replication all 127.0.0.1/32 scram-sha-256\n"
            )
        self.log = open(os.path.join(base, "server.log"), "w")
        self.proc = subprocess.Popen(
            _as_server_user(["postgres", "-D", self.data], server=True),
            stdout=self.log, stderr=subprocess.STDOUT, cwd=base,
            preexec_fn=_die_with_parent,
        )
        self._wait_ready(30)

    def _wait_ready(self, timeout: float) -> None:
        from pypgcdc_spark.sources.pgwire import ProtocolError

        end = time.time() + timeout
        while True:
            if self.proc.poll() is not None:
                raise RuntimeError("postgres exited during start-up")
            try:
                self.connect().close()
                return
            except (OSError, ProtocolError):  # not accepting connections yet
                if time.time() > end:
                    raise
                time.sleep(0.05)

    def connect(self, timeout: float = 10.0):
        return connect(self.port, timeout)

    def sql(self, *statements):
        c = self.connect()
        try:
            out = [c.simple_query(s) for s in statements]
            return out[-1]
        finally:
            c.close()

    def tailer(self, publication: str, slot: str, log_path: str, timeout: float):
        from pypgcdc_spark.sources.pgwire import WireReplicationTailer

        return WireReplicationTailer(
            "127.0.0.1", self.port, USER, DB, publication, slot, log_path,
            password=PASSWORD, timeout=timeout,
        )

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)  # fast shutdown
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.log.close()

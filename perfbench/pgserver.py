"""A private PostgreSQL 15 server for one benchmark run.

The cluster is initdb'd once per checkout into a template directory and
copied for every run, so each run starts from the same empty cluster. The
server listens only on a unix socket inside its data directory. PostgreSQL
refuses to run as root, so as root the server runs as the unprivileged
`pgx` user inside a user namespace that maps `pgx` onto the caller, so the
data may live anywhere the caller can write. Any failure raises; the
benchmark never skips.

Durability policy, the same for source and sink (one server holds both):
fsync, synchronous_commit and full_page_writes are off, WAL is minimal, the
buffer pool holds every table of a run (no eviction mid-merge), and
autovacuum is off because every run resets its tables with an explicit
VACUUM ANALYZE. The benchmark measures the engine, not the disk.
"""

import os
import pwd
import shutil
import subprocess

PG_BIN_DIRS = ["/usr/lib/postgresql/15/bin", "/usr/local/bin", "/usr/bin"]
PG_USER = "pgx"
SERVER_OPTS = ("-c listen_addresses='' -c unix_socket_directories=. "
               "-c fsync=off -c synchronous_commit=off -c full_page_writes=off "
               "-c wal_level=minimal -c max_wal_senders=0 -c wal_buffers=64MB "
               "-c autovacuum=off -c shared_buffers=1GB -c max_wal_size=8GB "
               "-c checkpoint_timeout=1h -c work_mem=256MB -c maintenance_work_mem=512MB "
               "-c max_connections=40")


def _bin(name):
    for d in PG_BIN_DIRS:
        p = os.path.join(d, name)
        if os.access(p, os.X_OK):
            return p
    raise RuntimeError(f"PostgreSQL binary {name} not found in {PG_BIN_DIRS}")


def _wrapper():
    """Command prefix that runs a PostgreSQL binary as a non-root user."""
    if os.geteuid() != 0:
        return []
    try:
        ent = pwd.getpwnam(PG_USER)
    except KeyError as e:
        raise RuntimeError(f"running as root needs a '{PG_USER}' user for PostgreSQL") from e
    ns = ["unshare", "--user", f"--map-user={ent.pw_uid}", f"--map-group={ent.pw_gid}", "--"]
    _run(ns + ["true"], f"entering a user namespace as '{PG_USER}' (needed to run PostgreSQL as root)")
    return ns


def _run(cmd, what):
    proc = subprocess.run(cmd, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    if proc.returncode != 0:
        raise RuntimeError(f"{what} failed ({proc.returncode}): {proc.stdout}{proc.stderr}")


class Server:
    def __init__(self, data_dir, prefix):
        self.data_dir = data_dir
        self.socket_dir = data_dir
        self.user = PG_USER
        self._prefix = prefix
        self._running = False

    def start(self):
        _run(self._prefix + [_bin("pg_ctl"), "-D", self.data_dir, "-l",
                             os.path.join(self.data_dir, "server.log"), "-o", SERVER_OPTS,
                             "-w", "-t", "60", "start"], "pg_ctl start")
        self._running = True

    def stop(self):
        if self._running:
            self._running = False
            _run(self._prefix + [_bin("pg_ctl"), "-D", self.data_dir, "-m", "fast",
                                 "-w", "-t", "60", "stop"], "pg_ctl stop")


def start(work_dir, run_dir):
    """Start a fresh server for one run; the caller must call stop()."""
    prefix = _wrapper()
    template = os.path.join(work_dir, "pg-template")
    if not os.path.exists(os.path.join(template, "PG_VERSION")):
        shutil.rmtree(template, ignore_errors=True)
        os.makedirs(template)
        _run(prefix + [_bin("initdb"), "-D", template, "-A", "trust", "-U", PG_USER,
                       "--locale=C", "-E", "UTF8", "--no-sync"], "initdb")
    data = os.path.join(run_dir, "pg")
    shutil.copytree(template, data, symlinks=True)
    os.chmod(data, 0o700)
    server = Server(data, prefix)
    server.start()
    return server

#!/usr/bin/env python3
"""Benchmark entry point for flacospark's own job: PostgreSQL -> Arrow /
Parquet / Feather through the public `graft.Flaco` API.

    python3 perfbench/run.py --workload pg_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The script

  1. builds the program and the harness from source with sbt (once per
     checkout; the classpath is cached under .bench_build/),
  2. starts a throwaway PostgreSQL cluster on a free local port,
  3. runs the JVM harness (perfbench.Main), which builds the seeded
     fixtures, measures for --seconds and checks every output,
  4. stops the cluster (also on failure) and prints the harness's
     result object as the last line of standard output.

The exit code is 0 only if the harness produced a result.
"""
import argparse
import atexit
import glob
import json
import os
import pwd
import shutil
import signal
import socket
import subprocess
import sys
import tempfile
import threading
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH_FILE = os.path.join(BUILD, "launch-args.txt")
JVM_TIMEOUT_S = 170
# Cluster settings are fixed here so both sides of every comparison run
# with the same durability/caching regime; the harness echoes them back.
PG_SETTINGS = {
    "fsync": "off",
    "synchronous_commit": "off",
    "full_page_writes": "off",
    "shared_buffers": "256MB",
    "max_parallel_workers_per_gather": "0",
    "max_connections": "20",
    "timezone": "UTC",
    "track_counts": "on",
    # No background vacuum or checkpoint competes with the timed passes.
    "autovacuum": "off",
    "checkpoint_timeout": "1h",
    "max_wal_size": "4GB",
}
# Heap for the harness JVM, replacing the program build's -Xmx: a young
# generation large enough that most ops see no collection keeps per-op
# times steady. The JIT keeps the JVM's defaults: C1-only code settled
# sooner but cost 40% more CPU a pass and was no steadier between runs,
# and lower C2 thresholds flooded the compiler threads during the first
# timed passes.
HEAP_OPTS = ["-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC"]

_children = []
_cleanups = []


def log(msg):
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("error: " + msg)
    sys.exit(code)


def _cleanup():
    for p in _children:
        if p.poll() is None:
            p.kill()
        try:
            p.wait(timeout=30)
        except subprocess.TimeoutExpired:
            pass
    while _cleanups:
        try:
            _cleanups.pop()()
        except Exception as e:  # keep cleaning up the rest
            log(f"cleanup: {e}")


def _on_signal(signum, _frame):
    _cleanup()
    sys.exit(128 + signum)


def sources_present():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(HERE, "build.sbt")))


def newest_source_mtime():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile program + harness; returns the cached JVM launch arguments."""
    if not (os.path.isfile(LAUNCH_FILE)
            and os.path.getmtime(LAUNCH_FILE) >= newest_source_mtime()):
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        log("building program and harness with sbt")
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "launchArgs"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=840)
        if out.returncode != 0 or not os.path.isfile(LAUNCH_FILE):
            sys.stderr.write("\n".join(out.stdout.splitlines()[-40:]) + "\n")
            fail("build failed")
    with open(LAUNCH_FILE) as f:
        launch = [line.rstrip("\n") for line in f if line.strip()]
    return [a for a in launch if not a.startswith("-Xmx")] + HEAP_OPTS


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def pg_bindir():
    try:
        d = subprocess.run(["pg_config", "--bindir"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True).stdout.strip()
        if os.path.isfile(os.path.join(d, "initdb")):
            return d
    except OSError:
        pass
    found = sorted(glob.glob("/usr/lib/postgresql/*/bin/initdb"))
    if not found:
        fail("PostgreSQL server binaries (initdb) not found")
    return os.path.dirname(found[-1])


def as_pg_user(cmd):
    """The server refuses to run as root: drop to the postgres account."""
    if os.geteuid() == 0:
        return ["runuser", "-u", "postgres", "--"] + cmd
    return cmd


def pg_data_root():
    """A data directory the server account can reach: inside the checkout
    when the path is traversable for it, otherwise a private temp dir."""
    cand = os.path.join(BUILD, "pg")
    if os.geteuid() != 0:
        os.makedirs(cand, exist_ok=True)
        return cand, False
    os.makedirs(cand, exist_ok=True)
    pw = pwd.getpwnam("postgres")
    os.chown(cand, pw.pw_uid, pw.pw_gid)
    ok = subprocess.run(as_pg_user(["test", "-w", cand]),
                        stderr=subprocess.DEVNULL).returncode == 0
    if ok:
        return cand, False
    tmp = tempfile.mkdtemp(prefix="flacospark-bench-pg-")
    os.chown(tmp, pw.pw_uid, pw.pw_gid)
    return tmp, True


def start_pg():
    bindir = pg_bindir()
    root, is_temp = pg_data_root()
    data = os.path.join(root, f"data-{os.getpid()}")
    sock = root
    if is_temp:
        _cleanups.append(lambda: shutil.rmtree(root, ignore_errors=True))
    else:
        _cleanups.append(lambda: shutil.rmtree(data, ignore_errors=True))
    port = free_port()
    subprocess.run(as_pg_user([os.path.join(bindir, "initdb"), "-D", data, "-U", "postgres",
                               "--auth=trust", "-E", "UTF8", "--no-sync"]),
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.STDOUT,
                   cwd="/")
    opts = f"-p {port} -c listen_addresses=localhost -c unix_socket_directories={sock} "
    opts += " ".join(f"-c {k}={v}" for k, v in PG_SETTINGS.items())
    logf = os.path.join(data, "server.log")
    pg_ctl = os.path.join(bindir, "pg_ctl")

    def stop():
        subprocess.run(as_pg_user([pg_ctl, "-D", data, "-m", "immediate", "-w", "stop"]),
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, cwd="/",
                       timeout=60)
    _cleanups.append(stop)
    subprocess.run(as_pg_user([pg_ctl, "-D", data, "-l", logf, "-w", "-t", "60",
                               "-o", opts, "start"]),
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.STDOUT, cwd="/")
    with open(os.path.join(data, "postmaster.pid")) as f:
        pid = int(f.readline())
    return port, pid


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["pg_ingest", "pagila_sweep"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not sources_present():
        fail("program sources not found next to the benchmark; run from a full checkout")
    pagila = os.path.join(ROOT, "scripts", "pagila_shaped.sql")
    if not os.path.isfile(pagila):
        fail("scripts/pagila_shaped.sql not found")

    atexit.register(_cleanup)
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)

    jvm_args = build()
    port, pg_pid = start_pg()
    log(f"postgres up on port {port}")
    work = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=BUILD)
    _cleanups.append(lambda: shutil.rmtree(work, ignore_errors=True))
    report = os.path.join(BUILD, f"report-{args.workload}-seed{args.seed}-trace{args.trace}.json")

    cmd = (["java"] + jvm_args
           + [f"-Djava.io.tmpdir={work}", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--pg-url", f"jdbc:postgresql://localhost:{port}/postgres?user=postgres",
              "--pagila-sql", pagila, "--reference", os.path.join(HERE, "provenance.json"),
              "--work-dir", work, "--report", report,
              "--process-start-ms", str(int(T0 * 1000)), "--pg-pid", str(pg_pid)])
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = work
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    _children.append(proc)
    watchdog = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    watchdog.daemon = True
    watchdog.start()
    result = None
    for line in proc.stdout:
        line = line.rstrip("\n")
        if line.startswith("PERFBENCH_RESULT "):
            result = line[len("PERFBENCH_RESULT "):]
        else:
            print(line, file=sys.stderr)
    rc = proc.wait()
    watchdog.cancel()
    _cleanup()
    if rc != 0 or result is None:
        fail(f"harness exited with {rc} and {'a' if result else 'no'} result")
    json.loads(result)
    print(result, flush=True)


if __name__ == "__main__":
    main()

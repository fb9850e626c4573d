#!/usr/bin/env python3
"""graft benchmark: one workload in a fresh JVM, metrics on the last line.

    python3 perfbench/run.py --workload serve-mixed --seed 1 --seconds 25 --trace 0

Run from the repository root. The first run builds the harness (and
graft, from source) with sbt; later runs reuse the build while the
sources are unchanged. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import speed  # noqa: E402

WORK = os.path.join(HERE, "target")
HARNESS = os.path.join(HERE, "harness")
# the source tables of every workload: the repository's sf0.001 test
# tables (TESTDATA.md), copied here so a run reads only its checkout
DATA = os.path.join(HERE, "data", "sf0.001")
WORKLOADS = ("serve-mixed", "batch-cold")
CORES = metrics.CORES
HEAP = "-Xmx3g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


class Refused(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def _source_stamp(root):
    h = hashlib.sha256()
    for base in ("src/main", "project/build.properties", "build.sbt",
                 "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
                 "perfbench/harness/src"):
        path = os.path.join(root, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile graft and the harness; returns (classpath, jvm flags)."""
    launch = os.path.join(HARNESS, "target", "launch.txt")
    stamp_file = os.path.join(HARNESS, "target", "launch.stamp")
    stamp = _source_stamp(root)
    if not (os.path.exists(launch) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts = ["-Dsbt.override.build.repos=true",
                        f"-Dsbt.repository.config={repos}"] + opts
            env["SBT_OPTS"] = " ".join(opts)
        log("building graft and the harness (sbt)")
        t0 = time.monotonic()
        r = _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"], HARNESS, env,
                 os.path.join(WORK, "build.log"), BUILD_TIMEOUT_S)
        if r != 0:
            raise RuntimeError(f"build failed (exit {r}); see {WORK}/build.log")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built in {time.monotonic() - t0:.0f}s")
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def _run(cmd, cwd, env, log_path, timeout):
    """Run a child in its own process group; kill the group on timeout
    and always wait for it."""
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError(f"{cmd[0]} timed out after {timeout}s; see {log_path}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


# ---- inputs and isolation --------------------------------------------------

# State a graft JVM leaves behind that a later run would reuse instead
# of rebuilding: cwd-relative derived layouts and indexes, the graph
# cache root, and stores (a store with a matching checksum.txt makes
# `Main.create` skip the build).
STATEFUL = ["target/graph-cache", "target/graft-sigidx", "target/ftstore-*",
            "target/dmlstore-*", "target/docstore-*", "graph-cache", "stores/*"]


def stale_state(run_dir):
    return sorted(p for pat in STATEFUL for p in glob.glob(os.path.join(run_dir, pat)))


KEEP_RUNS = 30


def fresh_run_dir(label):
    runs = os.path.join(WORK, "runs")
    if os.path.isdir(runs):  # keep the newest finished runs for inspection
        old = sorted(os.listdir(runs), key=lambda n: os.path.getmtime(os.path.join(runs, n)))
        for name in old[:-KEEP_RUNS]:
            shutil.rmtree(os.path.join(runs, name), ignore_errors=True)
    d = os.path.join(runs, f"{label}-{os.getpid()}-{time.time_ns()}")
    if os.path.exists(d):
        raise Refused(f"run directory {d} already exists")
    os.makedirs(d)
    return d


def launch_harness(cp, flags, run_dir, args, timeout):
    """One harness JVM, fresh working directory and cache roots."""
    state = stale_state(run_dir)
    if state:
        raise Refused(f"refusing to run: {run_dir} holds state: {state}")
    for sub in ("tmp", "spark-local", "stores", "out"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env = dict(os.environ, SPARK_MASTER=f"local[{CORES}]", SPARK_GRAFT_CPUS=str(CORES),
               SPARK_GRAFT_GRAPH_CACHE=os.path.join(run_dir, "graph-cache"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    cmd = (["java"] + flags + [HEAP, f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp,
                               "graftbench.Harness", "--out", os.path.join(run_dir, "out"),
                               "--stores", os.path.join(run_dir, "stores")] + args)
    with speed.Probe() as probe:
        spawn_ns = time.monotonic_ns()
        r = _run(cmd, run_dir, env, os.path.join(run_dir, "jvm.log"), timeout)
    probe.dump(os.path.join(run_dir, "out", "probe.json"), spawn_ns)
    if r != 0:
        raise RuntimeError(f"harness exited {r}; see {run_dir}/jvm.log")
    return os.path.join(run_dir, "out")


def cleanup(run_dir):
    """Drop the bulky state of a finished run; keep its samples and traces."""
    for sub in ("stores", "graph-cache", "spark-local", "tmp", "target", "spark-warehouse",
                "out/results"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)


# ---- workloads -------------------------------------------------------------

def run_serve(a, cp, flags, deadline):
    data = DATA
    streams = gen.request_streams(
        a.seed, pq.read_metadata(os.path.join(data, "customer.parquet")).num_rows)
    run_dir = fresh_run_dir(f"{a.workload}-s{a.seed}")
    req_path = os.path.join(run_dir, "requests.jsonl")
    with open(req_path, "w") as f:
        for stream in streams:
            for r in stream:
                f.write(json.dumps(r) + "\n")
    try:
        out = launch_harness(cp, flags, run_dir, [
            "--workload", a.workload, "--data", data, "--requests", req_path,
            "--seconds", str(a.seconds), "--trace", str(a.trace)],
            deadline - time.monotonic())
        requests = {(r["client"], r["seq"]): r for s in streams for r in s}
        cache = os.path.join(WORK, "expected", check.fingerprint(data))
        return metrics.serve(out, data, requests, check.expected_reads(data, cache), a.trace)
    finally:
        cleanup(run_dir)


def run_batch(a, cp, flags, deadline, root):
    data = DATA
    cache = os.path.join(WORK, "expected", check.fingerprint(data))
    run_dir = fresh_run_dir(f"batch-cold-s{a.seed}")
    try:
        out = launch_harness(cp, flags, run_dir, [
            "--workload", "batch-cold", "--data", data,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--phases", ";".join(f"{p}:{','.join(qs)}" for p, qs in metrics.BATCH_PHASES)],
            deadline - time.monotonic())
        with open(os.path.join(out, "oracle_sql.json")) as f:
            oracle = json.load(f)
        bad = check.check_batch(root, data, cache, os.path.join(out, "results"), oracle,
                                [q for _, qs in metrics.BATCH_PHASES for q in qs])
        return metrics.batch(out, bad, a.trace)
    finally:
        cleanup(run_dir)


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(root, "build.sbt"))):
        log("no graft sources here: run from the repository root")
        return 2
    try:
        cp, flags = build(root)
        deadline = time.monotonic() + RUN_TIMEOUT_S
        if a.workload == "batch-cold":
            result = run_batch(a, cp, flags, deadline, root)
        else:
            result = run_serve(a, cp, flags, deadline)
    except Refused as e:
        log(str(e))
        return 3
    except Exception as e:  # noqa: BLE001 — any failure: no result line, exit non-zero
        log(f"run failed: {e}")
        return 1
    for problem in result.pop("problems"):
        log(f"CHECK FAILED: {problem}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

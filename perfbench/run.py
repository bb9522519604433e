#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft and the
benchmark from source with sbt (perfbench/build.sbt depends on the
checkout's own build); later runs reuse the build while the sources are
unchanged. Each run gets a fresh scratch root under .bench_build/perfbench,
deleted when the run ends. Workloads: datamart_reports, ingest_nights,
index_queries.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(WORK, "build.stamp")
WORKLOADS = ("datamart_reports", "ingest_nights", "index_queries")
BUILD_TIMEOUT_S = 780
RUN_TIMEOUT_S = 170
DEADLINE_S = 172        # one run, retry included, ends within this
RETRY_BEFORE_S = 85     # a retry starts only if the first attempt ended by then
CONTENDED_CORES = 0.35  # CPU others took during the measured loop (of nproc)
HEAP = "-Xmx3g"


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    return env


def build():
    stamp = source_stamp()
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    t0 = time.time()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "launchFile"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        killed_with(proc)
        code = wait(proc, BUILD_TIMEOUT_S)
    if code != 0 or not os.path.isfile(LAUNCH):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("build failed (exit %s)" % code)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    print("perfbench: built in %.1f s" % (time.time() - t0), file=sys.stderr)


def wait(proc, timeout):
    """Wait for a process group; kill it (and wait) if it overruns."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill(proc)
        return None


def kill(proc):
    os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()


def killed_with(proc):
    """On SIGTERM/SIGINT, take the child's process group down with us."""
    def handler(signum, _frame):
        kill(proc)
        raise SystemExit(128 + signum)
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, handler)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources next to %s: run from the root of a full checkout" % HERE)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sql_dir = os.path.join(ROOT, "sql", "service_summary")
    if not os.path.isdir(sql_dir):
        fail("missing %s" % sql_dir)
    os.makedirs(WORK, exist_ok=True)
    build()

    with open(LAUNCH) as fh:
        lines = [x for x in fh.read().splitlines() if x]
    classpath, jvm_opts = lines[0], [o for o in lines[1:] if not o.startswith("-Xmx")]
    t0 = time.time()
    try:
        record = attempt(a, classpath, jvm_opts, sql_dir, RUN_TIMEOUT_S)
    except RunFailed as e:
        fail(str(e))
    # Other tenants stealing this machine's CPU slow a run down by up to
    # ~1.8x. An untraced run that measured under such load is made once more
    # in a fresh process when there is time; the retry's record keeps the
    # first attempt's figures, and a failed retry falls back to the first.
    if (not a.trace and record["external_load_cores"] > CONTENDED_CORES
            and time.time() - t0 < RETRY_BEFORE_S):
        first = {k: record[k] for k in ("run_id", "external_load_cores", "end_to_end")}
        print("perfbench: contended run (%.2f cores taken by others), measuring again"
              % record["external_load_cores"], file=sys.stderr)
        try:
            record = attempt(a, classpath, jvm_opts, sql_dir, DEADLINE_S - (time.time() - t0))
            record["contended_attempt"] = first
        except RunFailed as e:
            print("perfbench: retry failed, keeping the first attempt: %s" % e, file=sys.stderr)
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, record["run_id"] + ".json"), "w") as fh:
        json.dump(record, fh)

    # the result line carries exactly BENCHMARK.json's metrics, in its units
    wanted, measured = ((spec["per_layer"], record["layers"]) if a.trace
                        else (spec["end_to_end"], record["end_to_end"]))
    metrics = {}
    for m in wanted:
        value = measured.get(m["name"])
        if value is None:
            fail("run did not measure %s (record: %s)" % (m["name"], rec_dir))
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print("perfbench-record " + json.dumps(record))
    print(json.dumps({"correct": record["correct"], "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))


class RunFailed(Exception):
    pass


def attempt(a, classpath, jvm_opts, sql_dir, timeout):
    """One JVM run in a fresh scratch root; returns its record."""
    run_id = "%s-%d-%d-%s" % (a.workload, a.seed, a.trace, uuid.uuid4().hex[:8])
    run_root = os.path.join(WORK, "runs", run_id)
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp)
    cmd = (["java", HEAP, "-XX:+UseParallelGC", "-Djava.io.tmpdir=" + tmp] + jvm_opts +
           ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", run_root, "--sql-dir", sql_dir])
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "spark-local")
    log_path = os.path.join(WORK, "logs", run_id + ".log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    try:
        with open(log_path, "w") as err:
            proc = subprocess.Popen(cmd, cwd=run_root, env=env, stdout=subprocess.PIPE,
                                    stderr=err, stdin=subprocess.DEVNULL,
                                    start_new_session=True, text=True)
            killed_with(proc)
            try:
                out, _ = proc.communicate(timeout=timeout)
            except subprocess.TimeoutExpired:
                kill(proc)
                raise RunFailed("run exceeded %d s (log: %s)" % (timeout, log_path))
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    line = next((x for x in out.splitlines() if x.startswith("perfbench-record ")), None)
    if proc.returncode != 0 or line is None:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RunFailed("run failed (exit %s, log: %s)" % (proc.returncode, log_path))
    record = json.loads(line[len("perfbench-record "):])
    record["run_id"] = run_id
    return record


if __name__ == "__main__":
    main()

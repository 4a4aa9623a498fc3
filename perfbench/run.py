#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 18 --trace 0

Run from the root of a checkout of the repository. The first run builds
the program and the benchmark from source with sbt (offline) and writes
the input tables; later runs reuse both while the sources are unchanged.
Everything the benchmark writes stays under ``perfbench/.build`` and
``perfbench/.work``. See ``perfbench/README.md`` for the workloads and
metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("serve_mixed", "batch_cold")
# scale of the tables each workload measures (see README.md, "Sizing")
SERVE_SF = 0.01
BATCH_SF = 0.001
SERVE_BLOCKS = 40  # 640 requests, far more than a run sends
SERVE_WARMUP_BLOCKS = 1  # sent before the clock starts
BATCH_WARMUP_PASSES = 2  # run before the clock starts
HEAP = "6g"  # at most half of a 15 GB machine, with room for off-heap
RUN_LIMIT_S = 170
# query orders generated for the batch passes; pass i uses order i % this
BATCH_ORDERS = 64
BATCH_QUERIES = [
    "q65_kcore",            # GraphOps / GraphAlgos: the iterative k-core peel
    "q28_cosine_topk",      # SimilarityOps: cosine top-k over the embeddings
    "q21_token_count",      # TextOps: tokenise the documents and count
    "q01_scan_filter",      # RelationalOps: a plain scan and filter
]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every file the build reads, so a changed program or
    benchmark is rebuilt and an unchanged one is not."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the runtime classpath
    and whether a build ran."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not in "
             "this checkout; run from the root of a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if (os.path.isfile(cp_file) and os.path.isfile(stamp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
            text=True, timeout=840)
        fh.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"build failed (see {log})")
    lines = [ln for ln in proc.stdout.splitlines()
             if ".jar" in ln and not ln.startswith("[")]
    if not lines:
        fail(f"build printed no classpath (see {log})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip(), True


def data_dir(sf):
    return gen.write_tables(sf, os.path.join(WORK, "data", f"sf{sf}"))


def write_inputs(workload, seed, run_dir):
    """Generate the workload's request stream or query orders from the seed."""
    if workload == "serve_mixed":
        jobs = gen.job_stream(seed, SERVE_BLOCKS, gen.tables_counts(SERVE_SF)["customer"])
        data = data_dir(SERVE_SF)
        expected = iter(gen.expected_answers(data, [r for job in jobs for r in job]))
        path = os.path.join(run_dir, "requests.tsv")
        with open(path, "w") as fh:
            for j, job in enumerate(jobs):
                for r in job:
                    fh.write(gen.request_line(j, r, next(expected)) + "\n")
        return ["--requests", path, "--data", data,
                "--warmup-jobs", str(SERVE_WARMUP_BLOCKS * gen.BLOCK_JOBS)]
    orders = gen.query_orders(seed, BATCH_QUERIES, BATCH_ORDERS)
    path = os.path.join(run_dir, "orders.txt")
    with open(path, "w") as fh:
        fh.write("\n".join(",".join(o) for o in orders) + "\n")
    return ["--orders", path, "--data", data_dir(BATCH_SF),
            "--warmup-passes", str(BATCH_WARMUP_PASSES)]


def run_jvm(classpath, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.BenchMain"] + args
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=fh,
                                start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("stopped", 1)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("the run did not finish in time", 1)
    if code != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM exited with {code}", 1)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    start = time.monotonic()
    classpath, built = build()
    # a run that had to build gets its full limit after the build
    deadline = (time.monotonic() if built else start) + RUN_LIMIT_S
    # a failed run leaves its directory (inputs, JVM log) for inspection
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = write_inputs(a.workload, a.seed, run_dir)
    t_jvm = time.monotonic()
    out = os.path.join(run_dir, "raw.json")
    run_jvm(classpath, args + [
        "--workload", a.workload, "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", run_dir, "--out", out], run_dir, deadline)
    with open(out) as fh:
        raw = json.load(fh)
    checks = stats.load_checksums(os.path.join(HERE, "checksums.json"))
    # the untraced result a traced run of the same sources, seed and run
    # length measures its tracing overhead against
    twin = os.path.join(WORK, "untraced", f"{a.workload}-{a.seed}.json")
    key = {"stamp": source_stamp(), "seconds": a.seconds}
    untraced = None
    if a.trace and os.path.isfile(twin):
        with open(twin) as fh:
            kept = json.load(fh)
        if kept["key"] == key:
            untraced = kept["result"]
    result, diag = stats.summarise(raw, a.trace == 1, checks, untraced)
    if not a.trace:
        os.makedirs(os.path.dirname(twin), exist_ok=True)
        with open(twin, "w") as fh:
            json.dump({"key": key, "result": result}, fh)
    diag["wall_s"] = round(time.monotonic() - start, 1)
    diag["jvm_s"] = round(time.monotonic() - t_jvm, 1)
    print(json.dumps(diag), file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

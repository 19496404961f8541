#!/usr/bin/env python3
"""graft's benchmark: one run of one workload, from empty state.

    python3 perfbench/run.py --workload explorer_http --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. The first run builds the program and
the benchmark's JVM code with sbt (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. Each run makes its inputs from --seed,
starts one JVM with a fresh index root, store and Spark local dirs under
.bench_build/perfbench/, removes them afterwards, and prints one JSON
result object as the last line of stdout. Progress and every figure, by
name and unit, go to stderr.

Extra flags: --scale tiny (small inputs, for the benchmark's own tests),
--corrupt 1 (off-by-one expectations, which must raise failed),
--record-expected (rewrite catalog_expected.json from this program).
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
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("explorer_http", "ingest_serve", "catalog")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# corpus scale per workload; the catalog corpus is fixed so its row counts can be pinned
EXPLORER_SCALE = {"full": 0.1, "tiny": 0.001}
CATALOG_SCALE = {"full": 0.01, "tiny": 0.001}
CATALOG_CORPUS_SEED = 20240101
EXPECTED = os.path.join(HERE, "catalog_expected.json")
HEAP = "-Xmx4g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed program rebuilds."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(path)
            if "target" not in d.split(os.sep) and "project/project" not in d for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(stamp):
    """Compile the program and the benchmark once per source state; return (classpath, jvm options)."""
    spec = os.path.join(STATE, "launch.txt")
    stamp_file = os.path.join(STATE, "stamp")
    if os.path.exists(spec) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        lines = open(spec).read().splitlines()
        return lines[0], lines[1:]
    log("building the program and the benchmark with sbt")
    t0 = time.time()
    # resolve offline from the toolchain's own caches, as the project's tests do
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                          cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        raise SystemExit(f"build failed with code {proc.returncode}")
    os.makedirs(STATE, exist_ok=True)
    shutil.copy(os.path.join(HERE, "target", "launch.txt"), spec)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.1f}s")
    lines = open(spec).read().splitlines()
    return lines[0], lines[1:]


def make_corpus(workload, scale_name, seed, out):
    sys.path.insert(0, HERE)
    import corpus
    if workload == "explorer_http":
        corpus.generate(out, EXPLORER_SCALE[scale_name], seed)
    elif workload == "catalog":
        corpus.generate(out, CATALOG_SCALE[scale_name], CATALOG_CORPUS_SEED)
    else:  # ingest_serve generates its wire feed in the JVM; the store starts empty
        os.makedirs(out)


def run_jvm(args, classpath, jvm_opts, run_dir, corpus_dir):
    env = dict(os.environ)
    env["GRAFT_INDEX_DIR"] = os.path.join(run_dir, "index")
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    for d in ("index", "spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = ["java"] + jvm_opts + [
        HEAP,
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"-Dderby.system.home={os.path.join(run_dir, 'tmp')}",
        "-Dspark.log.level=ERROR",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--corpus", corpus_dir, "--expected", EXPECTED,
        "--scale", args.scale, "--corrupt", "1" if args.corrupt else "0",
        "--record", "1" if args.record_expected else "0"]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"run exceeded {JVM_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        raise SystemExit(f"run failed with code {proc.returncode}")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        raise SystemExit("run printed no result")
    return json.loads(lines[-1])


def tracing_overhead(args, stamp, result):
    """Keep each untraced run's end-to-end metrics under its program, workload,
    scale, length and seed; a traced run logs its gap to the matching
    untraced run, when there is one, as the tracing overhead."""
    keep = os.path.join(STATE, "untraced", f"{stamp[:16]}-{args.workload}-{args.scale}-"
                        f"{args.seconds}s-seed{args.seed}.json")
    if not args.trace:
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        with open(keep, "w") as fh:
            json.dump(result["metrics"], fh)
        return
    traced = result.pop("end_to_end", {})
    if not os.path.exists(keep):
        log("tracing overhead: not measured, no untraced run of this program, workload and seed")
        return
    base = json.load(open(keep))
    for name, m in traced.items():
        if base.get(name, {}).get("value"):
            gap = 100.0 * (m["value"] - base[name]["value"]) / base[name]["value"]
            log(f"tracing overhead: {name} {gap:+.1f}% (traced vs untraced, same seed)")


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--scale", default="full", choices=("full", "tiny"))
    p.add_argument("--corrupt", type=int, default=0, choices=(0, 1))
    p.add_argument("--record-expected", action="store_true")
    args = p.parse_args()
    # a terminated run still stops its JVM and removes its state (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} is missing: run from the root of a graft checkout")
            return 2
    log(f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
        f"scale={args.scale}")
    stamp = source_stamp()
    classpath, jvm_opts = build(stamp)
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        corpus_dir = os.path.join(run_dir, "corpus")
        t0 = time.time()
        make_corpus(args.workload, args.scale, args.seed, corpus_dir)
        log(f"inputs generated in {time.time() - t0:.1f}s")
        result = run_jvm(args, classpath, jvm_opts, run_dir, corpus_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    log(f"run finished in {time.time() - t0:.1f}s")
    tracing_overhead(args, stamp, result)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

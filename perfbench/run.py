#!/usr/bin/env python3
"""Benchmark runner: builds the engine and the benchmark from source, runs
one workload in a fresh JVM and prints its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload disagg --seed 1 --seconds 10 --trace 0

Workloads: disagg, pipeline.
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones. Each metric is printed as "name value unit"; the last line
is one JSON object {correct, attempted, failed, metrics}.

The first run in a checkout builds with sbt (offline) into target/ and
.bench_build/; later runs reuse the build while the sources are unchanged.
Everything the benchmark writes stays under the checkout.
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
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "launch.txt")
STAMP = os.path.join(BUILD, "sources.sha256")
WORKLOADS = ("disagg", "pipeline")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# a fixed heap, touched at JVM start: its size does not drift with the
# collector's resizing, and no page is first touched inside a timed loop
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found next to perfbench/", 2)
    digest = sources_digest()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sbt_opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
                "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(LAUNCH):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"build failed (exit {rc}); see {log}", 3)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def run_jvm(args, work):
    with open(LAUNCH) as fh:
        lines = [ln.rstrip("\n") for ln in fh if ln.strip()]
    classpath, java_opts = lines[0], lines[1:]
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + java_opts +
           HEAP + ["-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work", work,
            "--data", os.path.join(HERE, "data"),
            "--expected", os.path.join(HERE, "expected", "pipeline.json")])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    if proc.returncode != 0:
        die(f"benchmark JVM exited with {proc.returncode}", 5)
    # stdout carries only the metric lines and the result: anything else the
    # JVM printed goes to stderr
    results = [ln for ln in out.splitlines() if ln.startswith("RESULT ")]
    sys.stderr.write("".join(ln + "\n" for ln in out.splitlines() if not ln.startswith("RESULT ")))
    if not results:
        die("benchmark JVM printed no result", 5)
    return json.loads(results[-1][len("RESULT "):])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also append the result, tagged with workload, seed and trace, "
                    "to this JSON-lines file (the input of perfbench/compare.py)")
    args = ap.parse_args()

    end_to_end, per_layer = declared()
    build()
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    try:
        res = run_jvm(args, work)
    finally:
        # keep the span file of a traced run; drop the generated inputs
        for name in os.listdir(work) if os.path.isdir(work) else []:
            if not name.startswith("spans-"):
                p = os.path.join(work, name)
                shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)

    units = per_layer if args.trace else end_to_end
    got = res["metrics"]
    if set(got) != set(units):
        die(f"metric names differ from BENCHMARK.json: {sorted(set(got) ^ set(units))}", 6)
    bad = [k for k, v in got.items() if not isinstance(v, (int, float)) or isinstance(v, bool)]
    if bad:
        die(f"metrics without a value: {bad}", 6)
    metrics = {k: {"value": got[k], "unit": units[k]} for k in units}
    for k, m in metrics.items():
        print(f"{k} {m['value']} {m['unit']}")
    print(f"perfbench: {args.workload} run took {time.time() - t0:.1f} s", file=sys.stderr)
    result = {"correct": bool(res["correct"]) and res["failed"] == 0,
              "attempted": int(res["attempted"]), "failed": int(res["failed"]),
              "metrics": metrics}
    if args.out:
        with open(args.out, "a") as fh:
            fh.write(json.dumps(dict(workload=args.workload, seed=args.seed, trace=args.trace,
                                     **result)) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one workload of the graft CDC lakehouse benchmark.

    python3 perfbench/run.py --workload cow_ingest --seed 1 --seconds 16 --trace 0

Run from the repository root. The first run compiles the benchmark and the
graft library with sbt (perfbench/build.sbt) and caches the JVM launch line;
later runs start the JVM directly. Progress and the end-to-end report go to
stdout; the last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}, whose metrics are the
end_to_end (or, traced, the per_layer) metrics BENCHMARK.json names. The
exit code is 0 only when every answer matched the reference model.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")
WORKLOADS = ("cow_ingest", "mor_serve", "query_mix")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every build input's path, size and mtime, and of the
    environment the build bakes into the launch line."""
    h = hashlib.sha256()
    for var in ("SPARK_DRIVER_MEM", "GRAFT_EXTRA_JVM"):
        h.update(f"{var}={os.environ.get(var, '')}\n".encode())
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def launch_line():
    """JVM options and classpath from the sbt build, rebuilt when stale."""
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")  # the heap the launch line gets
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                with open(LAUNCH) as g:
                    return [line for line in g.read().splitlines() if line]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve only from the local repositories file, never the network
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true")
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    print("perfbench: building (sbt benchLaunch)", flush=True)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                 "benchLaunch"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(LAUNCH):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        die(3, f"build failed (exit {rc}); log in {log}")
    with open(STAMP, "w") as f:
        f.write(stamp)
    with open(LAUNCH) as g:
        return [line for line in g.read().splitlines() if line]


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(2, f"no graft sources under {ROOT}: run from a checkout of the repository")

    opts = launch_line()
    tag = f"{a.workload}-{a.seed}-trace{a.trace}"
    work = os.path.join(HERE, "work", tag)
    outdir = os.path.join(HERE, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(outdir, exist_ok=True)
    result = os.path.join(outdir, f"result-{tag}.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = (["java"] + opts + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                              "perfbench.Main",
                              "--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--work", work, "--out", result])
    log = os.path.join(outdir, f"jvm-{tag}.log")
    with open(log, "w") as out:
        # Spark's scratch space stays in the work dir even if the caller's
        # environment points it elsewhere
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if rc is None:
            shutil.rmtree(work, ignore_errors=True)
            die(4, f"{a.workload} did not finish in {JVM_TIMEOUT_S} s; log in {log}")
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        die(5, f"{a.workload} exited {rc} without a result; log in {log}")
    with open(result) as f:
        r = json.load(f)

    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}")
    for name, m in r["report"].items():
        n = f"  (n={m['n']}, p{m['pct']:g})" if "n" in m else ""
        print(f"  {name:<24} {m['value']!s:>22} {m['unit']}{n}")
    for msg in r["failures"]:
        print(f"  FAIL {msg}")
    # BENCHMARK.json names the metrics of the result line: the gated
    # end-to-end ones from the report, or the per-layer ones when tracing
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
    source = r["metrics"] if a.trace else r["report"]
    metrics = {n: {"value": source[n]["value"], "unit": source[n]["unit"]}
               for n in names if n in source}
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    sys.exit(0 if r["correct"] else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Ingest-and-serve benchmark for the archive pipeline.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the program's main
sources together with the benchmark (sbt, offline) into perfbench/target;
later runs reuse that build while no source file has changed.

Each workload run prints one JSON object as the last line of standard
output and also writes it to perfbench/target/results/, appending it to
perfbench/target/results.jsonl. The exit code is non-zero when an output
check failed or the run could not complete. `--workload all` runs every
workload in turn and prints every metric by name with its unit.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ["stream_backfill", "collect_catchup", "serve"]
RUN_TIMEOUT_S = 170
# the names each workload's end-to-end metrics also go by
ALIASES = {
    "stream_backfill": {"throughput_per_s": "ledgers_per_s"},
    "collect_catchup": {"throughput_per_s": "ledgers_per_s", "latency_p50_ms": "ck_commit_p50_ms"},
    "serve": {"throughput_per_s": "req_per_s"},
}
# the module options Spark needs on JDK 17 when started outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        sys.exit("perfbench: no Spark installation found (set SPARK_HOME)")
    return jars


def source_files():
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for tree in trees:
        for dirpath, _, names in os.walk(tree):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def build():
    """Compile when sources changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: the program's sources (src/main/scala) are not in this checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building (sbt compile)")
    t0 = time.time()
    tmp = scratch_dir()
    # sbt's global state (boot, logs, zinc) and temporary files stay in the checkout
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(TARGET, 'sbt-global')}", f"-Djna.tmpdir={tmp}",
           f"-J-Djava.io.tmpdir={tmp}", f"-Dperfbench.sparkJars={spark_jars()}",
           "compile", "export Runtime/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"),
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-6000:])
        sys.exit(f"perfbench: build failed (exit {p.returncode})")
    cps = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not cps:
        sys.exit("perfbench: build printed no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cps[-1].strip()


def scratch_dir():
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return tmp


def java(cp, main, args):
    tmp = scratch_dir()
    opts = [o for p in ADD_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap: the garbage collector's heap resizing would otherwise add to the
    # warm-up the measured windows still sit on
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}"] + opts + ["-cp", cp, main] + args)
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        log(f"{main} did not finish within {RUN_TIMEOUT_S} s")
        return 124


def run_workload(cp, name, seed, seconds, trace):
    work = os.path.join(TARGET, "work", f"{name}-{os.getpid()}")
    out = os.path.join(TARGET, "results", f"{name}-seed{seed}-trace{trace}.json")
    if os.path.exists(out):
        os.remove(out)
    try:
        code = java(cp, "perfbench.Main", ["--workload", name, "--seed", str(seed),
                                           "--seconds", str(seconds), "--trace", str(trace),
                                           "--work", work, "--out", out])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        sys.exit(f"perfbench: workload {name} failed (exit {code})")
    with open(out) as fh:
        res = json.load(fh)
    with open(os.path.join(TARGET, "results.jsonl"), "a") as fh:
        fh.write(json.dumps({"workload": name, "seed": seed, "trace": trace, **res}) + "\n")
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload not in WORKLOADS + ["all"]:
        ap.error(f"--workload must be one of {WORKLOADS + ['all']}")
    cp = build()
    if a.selftest:
        sys.exit(java(cp, "perfbench.SelfTest", [os.path.join(TARGET, "work", f"selftest-{os.getpid()}")]))
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = {n: run_workload(cp, n, a.seed, a.seconds, a.trace) for n in names}
    if a.workload == "all":
        for n, res in results.items():
            for m, v in res["metrics"].items():
                alias = ALIASES[n].get(m)
                print(f"{n:16} {m:30} {v['value']:>14.4f} {v['unit']:6}" + (f"  ({alias})" if alias else ""))
        res = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {f"{n}.{m}": v for n, r in results.items() for m, v in r["metrics"].items()}}
    else:
        res = results[a.workload]
    print(json.dumps(res), flush=True)
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one workload of the repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the program from
`src/main` together with the benchmark's own sources (an sbt project in this
directory, compiled offline against the same Spark jars as the root build) and
caches the classpath under `.bench_build/`, keyed by a hash of every source.
Each run is one JVM (Spark `local[nproc]`); its scratch files live under
`.bench_build/work/` and are removed when it ends.

The last line of stdout is the result: `correct`, `attempted`, `failed` and
`metrics` — the end-to-end metrics of BENCHMARK.json with `--trace 0`, its
per-layer metrics with `--trace 1`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def classpath():
    """Compile (when the sources changed) and return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail("no program sources under src/main/scala: run from a checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    cp_file = os.path.join(BUILD, f"classpath-{h.hexdigest()[:16]}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
        " -Dsbt.offline=true -Xmx3g"))
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def layer_of(metric):
    """`self.<layer>_s` belongs to <layer>; any other metric to the part of
    its name before the first dot."""
    if metric.startswith("self.") and metric.endswith("_s"):
        return metric[len("self."):-len("_s")]
    return metric.split(".", 1)[0]


def run_jvm(args):
    cp = classpath()
    work = os.path.join(BUILD, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx4g", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--bench", BENCH, "--work", work,
            "--traces", os.path.join(BUILD, "traces")] + args
    try:
        proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")
    return proc.stdout.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-goldens", action="store_true",
                    help="write the catalog goldens from this checkout")
    a = ap.parse_args()
    if a.record_goldens:
        run_jvm(["--workload", "catalog", "--seed", "0", "--seconds", "0",
                 "--trace", "0", "--record", "1"])
        return
    if a.selftest:
        out = run_jvm(["--selftest", "1"])
        if "PERFBENCH_SELFTEST ok" not in out:
            fail("self-test did not pass")
        print("selftest ok")
        return
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(BENCH, "workloads.json")) as fh:
        workload = json.load(fh)["workloads"].get(a.workload)
    if workload is None:
        fail(f"unknown workload {a.workload!r}")
    out = run_jvm(["--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace)])
    tagged = [l for l in out if l.startswith("PERFBENCH_RESULT ")]
    if not tagged:
        fail("the benchmark JVM printed no result")
    res = json.loads(tagged[-1][len("PERFBENCH_RESULT "):])
    if a.trace == 0:
        wanted = spec["end_to_end"]
        values = dict(res["end_to_end"], setup_s=res["setup_s"])
    else:
        # a metric of a layer the workload exercises must come out of the
        # run; one of a layer it does not exercise (the catalog's modules on
        # cdc_catchup, the stream's layers on the catalog) reports 0
        wanted = spec["per_layer"]
        values = {m["name"]: 0.0 for m in wanted
                  if layer_of(m["name"]) not in workload["layers"]}
        values.update(res["per_layer"])
    missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Self-test for tools/perfdiff.py per-segment normalization, by replaying
synthetic BENCH_FULL-shaped JSONs (no Spark run needed):

 1. uniform host drift (both passes 2x slower, series says so)  -> clean
 2. MID-RUN drift (pass 2 only 2x slower — the r7 pathology)    -> clean
 3. a real per-query regression under a clean host              -> flagged
 4. legacy new-doc without series fields                        -> old path
 5. counters mode over perfbench `--trace 1` result lines: exact counts,
    0.03 % on bytes, time metrics ignored, a missing counter flagged
 6. the command line: `--help` prints the usage (exit 0); no arguments
    or a short `--counters` print it to stderr (exit 2), no traceback

Run: python3 tools/test_perfdiff.py   (exit 0 = all behaviors correct)
"""
import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import perfdiff  # noqa: E402

QS = [f"q{i:02d}" for i in range(8)]  # run order = sorted names
EVERY = 4  # 2 segments per pass


def doc(queries, cold_q=None, p2=None, cal=None, series=None):
    d = {"metric": "total", "value": sum(queries.values()), "unit": "sec",
         "n_queries": len(queries), "queries": queries,
         "cold_total": sum((cold_q or queries).values()),
         "sf": "/tmp/sf"}
    if cold_q is not None:
        d["cold_queries"] = cold_q
    if p2 is not None:
        d["pass2_queries"] = p2
    if cal is not None:
        d["calibration"] = cal
    if series is not None:
        d["calibration_series"] = series
        d["calibration_every"] = EVERY
    return d


def run(old, new, ratio=2.0):
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as fo, \
         tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as fn:
        json.dump(old, fo)
        json.dump(new, fn)
    try:
        return perfdiff.main(fo.name, fn.name, ratio)
    finally:
        os.unlink(fo.name)
        os.unlink(fn.name)


def result_line(values):
    """A perfbench `--trace 1` result line over every per-layer metric of
    BENCHMARK.json: `values` overrides, every other metric reads 1.0."""
    with open(perfdiff.BENCHMARK) as fh:
        spec = json.load(fh)["per_layer"]
    metrics = {m["name"]: {"value": values.get(m["name"], 1.0),
                           "unit": m["unit"]} for m in spec}
    return json.dumps({"correct": True, "attempted": 12, "failed": 0,
                       "metrics": metrics})


def run_counters(old_values, new_values, drop=None):
    """perfdiff --counters over two fixture files; `drop` removes one
    metric from the new side. The new file carries log lines before its
    result line, as a captured run does."""
    new_line = json.loads(result_line(new_values))
    if drop:
        del new_line["metrics"][drop]
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as fo, \
         tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as fn:
        fo.write(result_line(old_values) + "\n")
        fn.write("[perfbench] building\nnot json\n" + json.dumps(new_line) + "\n")
    try:
        return perfdiff.counters(fo.name, fn.name)
    finally:
        os.unlink(fo.name)
        os.unlink(fn.name)


def counter_scenarios(failures):
    base = {"LakeSink.jobs_per_batch": 5.1667,
            "LakeSink.tasks_per_batch": 11.0833,
            "LakeFormat.bytes_added_per_batch": 434000.0,
            "LakeSink.apply_ms_p50": 790.0}
    if run_counters(base, dict(base)) != 0:
        failures.append("counters: identical runs flagged")
    # 0.023 % byte drift is inside the tolerance; a 2x slower apply is a
    # time metric and never compared here
    if run_counters(base, dict(base, **{
            "LakeFormat.bytes_added_per_batch": 434100.0,
            "LakeSink.apply_ms_p50": 1580.0})) != 0:
        failures.append("counters: in-tolerance drift or a time metric flagged")
    if run_counters(base, dict(base, **{
            "LakeFormat.bytes_added_per_batch": 434200.0})) != 1:
        failures.append("counters: 0.046 % byte drift NOT flagged")
    if run_counters(base, dict(base, **{
            "LakeSink.jobs_per_batch": 5.25})) != 1:
        failures.append("counters: one more job per 12 batches NOT flagged")
    if run_counters(base, dict(base, **{
            "LakeSink.tasks_per_batch": 11.1667})) != 1:
        failures.append("counters: one more task per 12 batches NOT flagged")
    if run_counters(base, dict(base),
                    drop="LakeFormat.files_removed_per_batch") != 1:
        failures.append("counters: a missing counter NOT flagged")


def usage_scenarios(failures):
    def run_cli(*args):
        return subprocess.run([sys.executable, perfdiff.__file__, *args],
                              capture_output=True, text=True)
    r = run_cli("--help")
    if r.returncode != 0 or "Usage:" not in r.stdout:
        failures.append(f"--help: exit {r.returncode}, no usage printed")
    for args in ([], ["--counters", "old.json"]):
        r = run_cli(*args)
        if r.returncode != 2 or "Usage:" not in r.stderr \
                or "Traceback" in r.stderr:
            failures.append(f"bad usage {args}: exit {r.returncode}")


def main():
    base = {q: 1.0 for q in QS}
    old = doc(dict(base), cal=0.5)
    failures = []

    # 1. uniform drift: every query 2x slower in both passes; series
    # reports the 2x-slower host in every segment -> nothing flagged
    slow = {q: 2.0 for q in QS}
    new1 = doc(dict(slow), cold_q=dict(slow), p2=dict(slow), cal=1.0,
               series=[[1.0, 1.0], [1.0, 1.0]])
    if run(old, new1) != 0:
        failures.append("uniform drift was flagged")

    # 2. MID-RUN drift: pass 1 clean (1.0s at cal 0.5), pass 2 on a
    # 2x-degraded host (2.0s at cal 1.0). A global min-of-passes
    # calibration would normalize pass-2 times by the FAST sample and
    # flag them; per-segment normalization must stay clean.
    new2 = doc(dict(base), cold_q=dict(base), p2=dict(slow), cal=0.5,
               series=[[0.5, 0.5], [1.0, 1.0]])
    if run(old, new2) != 0:
        failures.append("mid-run drift was flagged")

    # 2b. drift INSIDE a pass (the exact r7 shape: second half of the run
    # degraded): queries in the slow segments take 2x, their segment
    # samples say 2x -> clean
    half = {q: (1.0 if i < 4 else 2.0) for i, q in enumerate(QS)}
    new2b = doc(dict(half), cold_q=dict(half), p2=dict(half), cal=0.5,
                series=[[0.5, 1.0], [0.5, 1.0]])
    if run(old, new2b) != 0:
        failures.append("intra-pass drift was flagged")

    # 3. real regression: q03 is 3x slower in BOTH passes on a clean host
    reg = dict(base, q03=3.0)
    new3 = doc(dict(reg), cold_q=dict(reg), p2=dict(reg), cal=0.5,
               series=[[0.5, 0.5], [0.5, 0.5]])
    if run(old, new3) != 1:
        failures.append("real regression NOT flagged under series")

    # 3b. calibration kernel failed (-1) in a query's segment in BOTH
    # passes: the query still SUCCEEDED — it must fall back to the
    # global-scale normalization, not be reported FAILED (exit 1)
    new3b = doc(dict(base), cold_q=dict(base), p2=dict(base), cal=0.5,
                series=[[0.5, -1.0], [0.5, -1.0]])
    if run(old, new3b) != 0:
        failures.append("failed-calibration segment misreported as FAILED")

    # 4. legacy docs without series: global normalization still applies
    new4 = doc(dict(slow), cal=1.0)
    if run(old, new4) != 0:
        failures.append("legacy uniform drift was flagged")
    new5 = doc(dict(reg), cal=0.5)
    if run(old, new5) != 1:
        failures.append("legacy real regression NOT flagged")

    counter_scenarios(failures)
    usage_scenarios(failures)

    if failures:
        print("FAIL:", "; ".join(failures))
        return 1
    print("perfdiff self-test: all 16 scenarios behave correctly")
    return 0


if __name__ == "__main__":
    sys.exit(main())

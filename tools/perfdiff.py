#!/usr/bin/env python3
"""Driver-side tooling: diff two BENCH_FULL.json lines and flag per-query
regressions (new/removed queries, slowdowns past a ratio threshold).

When both files carry a `calibration` value (the fixed host-speed kernel
graft.Bench emits), new-run times are normalized by the host-speed ratio
new_cal/old_cal before flagging — a uniformly-slower host (the ~1.4x drift
BASELINE.md documents) then produces zero false regressions, while a real
code regression (query-specific) still trips the threshold.

When the new run additionally carries `calibration_series` (per-pass
kernel samples interleaved every `calibration_every` queries) plus the
per-pass raw times (`cold_queries` / `pass2_queries`), normalization is
PER SEGMENT: each pass's raw time divides by the host-speed ratio of the
segment it actually ran in, and the reported time is the min of the two
normalized passes. This catches the r7 failure mode where the host
degraded ~2x mid-run — a global min-of-passes calibration said "fast
host" while half the queries ran on the slow one, manufacturing a
fictitious regression.

Usage: python3 tools/perfdiff.py <old.json> <new.json> [ratio=2.0]
Exit 1 if any query regressed past the threshold (after normalization).

COUNTERS MODE compares two result lines of the repo benchmark run traced
(`python3 perfbench/run.py --workload <w> --seed <n> --trace 1`, each saved
to a file; the last line of the file that parses as JSON is read). Every
per-layer metric whose `unit` in BENCHMARK.json is `count` or `bytes` is
compared: counts must match exactly (jobs and tasks per batch are
deterministic for one seed), while byte metrics and any count of rows may
move by 0.03 % — the drift measured between two runs of one seed.

Usage: python3 tools/perfdiff.py --counters <old.json> <new.json>
Exit 1 if a metric moved past its tolerance or is missing from a side.

`--help` prints this text; bad usage prints it to stderr and exits 2.
"""
import json
import os
import sys

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "BENCHMARK.json")
COUNTER_UNITS = ("count", "bytes")
DRIFT = 0.0003  # relative tolerance of byte and row metrics


def tolerance(name, unit):
    """Relative tolerance of a counter: DRIFT for bytes and rows, else 0."""
    return DRIFT if unit == "bytes" or "rows" in name else 0.0


def last_result(path):
    """The `metrics` map of the last line of `path` that parses as JSON."""
    with open(path) as fh:
        lines = [l for l in fh.read().splitlines() if l.strip()]
    for line in reversed(lines):
        try:
            return json.loads(line)["metrics"]
        except (ValueError, KeyError, TypeError):
            continue
    raise SystemExit(f"no benchmark result line in {path}")


def counters(old_path, new_path, bench_path=BENCHMARK):
    with open(bench_path) as fh:
        units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    old, new = last_result(old_path), last_result(new_path)
    bad = []
    for name, unit in units.items():
        if unit not in COUNTER_UNITS:
            continue
        if name not in old or name not in new:
            bad.append(name)
            print(f"MISSING {name}")
            continue
        o, n = old[name]["value"], new[name]["value"]
        tol = tolerance(name, unit)
        moved = abs(n - o) > tol * abs(o)
        if moved:
            bad.append(name)
        print(f"{'MOVED' if moved else 'same '} {name} ({unit}, "
              f"tol {tol * 100:g} %): {o} -> {n}")
    print(f"{len(bad)} counter(s) moved" if bad else "no counter moved")
    return 1 if bad else 0


def seg_normalized(new_doc, cal_o):
    """Per-query min-of-normalized-passes, or None when the new doc lacks
    the series fields. Times are expressed on the OLD doc's host-speed
    scale (divide by seg_cal/cal_o), so they compare directly to old raw
    times."""
    series = new_doc.get("calibration_series")
    p1 = new_doc.get("cold_queries")
    p2 = new_doc.get("pass2_queries")
    every = new_doc.get("calibration_every", 25)
    if not (series and len(series) == 2 and p1 and p2 and cal_o and cal_o > 0):
        return None
    names = sorted(set(p1) | set(p2))
    out = {}
    for i, q in enumerate(names):
        cands = []
        for times, cals in ((p1, series[0]), (p2, series[1])):
            t = times.get(q, -1.0)
            if t <= 0 or not cals:
                continue
            seg = cals[min(i // every, len(cals) - 1)]
            if seg > 0:
                cands.append(t / (seg / cal_o))
        # no usable segment sample (kernel run failed in both passes):
        # leave the query OUT so main() falls back to the global-scale
        # normalization — a -1 here would misreport a query that actually
        # SUCCEEDED as FAILED, contradicting Bench's contract that a
        # calibration failure must never abort the comparison
        if cands:
            out[q] = min(cands)
    return out


def main(old_path, new_path, ratio=2.0):
    old_doc = json.load(open(old_path))
    new_doc = json.load(open(new_path))
    old, new = old_doc["queries"], new_doc["queries"]
    cal_o = old_doc.get("calibration", 0)
    cal_n = new_doc.get("calibration", 0)
    scale = cal_n / cal_o if cal_o and cal_n and cal_o > 0 and cal_n > 0 else 1.0
    seg = seg_normalized(new_doc, cal_o)
    if seg is not None:
        s = new_doc["calibration_series"]
        print(f"calibration: {cal_o:.3f}s -> series "
              f"p1={['%.3f' % v for v in s[0]]} p2={['%.3f' % v for v in s[1]]} "
              "(per-segment normalization)")
    elif scale != 1.0:
        print(f"calibration: {cal_o:.3f}s -> {cal_n:.3f}s "
              f"(host {scale:.2f}x; new times normalized by /{scale:.2f})")
    elif not (cal_o and cal_n):
        print("calibration: absent in one or both files; comparing raw times")
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    if added:
        print(f"added ({len(added)}):", ", ".join(added))
    if removed:
        print(f"REMOVED ({len(removed)}):", ", ".join(removed))
    bad = []
    for q in sorted(set(old) & set(new)):
        o, n = old[q], new[q]
        if seg is not None and q in seg:
            n_norm = seg[q]
        else:
            n_norm = n / scale if n > 0 else n
        if n < 0 or n_norm < 0:
            bad.append((q, o, n_norm, "FAILED"))
        elif o > 0.05 and n_norm > ratio * o:  # ignore sub-50ms noise
            bad.append((q, o, n_norm, f"{n_norm / o:.1f}x"))
    for q, o, n, tag in sorted(bad, key=lambda x: -(x[2] / max(x[1], 1e-9))):
        print(f"REGRESSED {q}: {o:.3f}s -> {n:.3f}s(norm) ({tag})")
    tot_o = sum(v for v in old.values() if v > 0)
    tot_n = sum(v for v in new.values() if v > 0)
    tot_norm = (sum(seg.get(q, n / scale) for q, n in new.items() if n > 0)
                if seg is not None else tot_n / scale)
    print(f"total: {tot_o:.1f}s -> {tot_n:.1f}s raw"
          + (f", {tot_norm:.1f}s normalized" if abs(tot_norm - tot_n) > 1e-9 else "")
          + f" ({len(old)} -> {len(new)} queries)")
    # cold anomaly naming: when the new run's cold is far above its steady,
    # name the pass-1 offenders (the host IO-stall signature is a
    # single-query cold_queries spike with a normal steady — see
    # BASELINE.md "Cold-pass pathology")
    cold = new_doc.get("cold_total", 0)
    cq = new_doc.get("cold_queries", {})
    if cq and cold > 2 * tot_n:
        spikes = [(q, t) for q, t in cq.items()
                  if t > 5 and t > 10 * max(new.get(q, 0), 0.01)]
        if spikes:
            spikes.sort(key=lambda x: -x[1])
            print(f"COLD ANOMALY: cold {cold:.1f}s vs steady {tot_n:.1f}s; "
                  "pass-1 spikes (steady in parens): "
                  + ", ".join(f"{q} {t:.1f}s ({new.get(q, 0):.2f}s)"
                              for q, t in spikes[:5]))
    return 1 if bad or removed else 0


def cli(args):
    """Dispatch the command line: `--help` prints the usage and exits 0;
    a wrong argument count or a non-numeric ratio prints it to stderr and
    exits 2."""
    if args in (["--help"], ["-h"]):
        print(__doc__)
        return 0
    if len(args) == 3 and args[0] == "--counters":
        return counters(args[1], args[2])
    if len(args) in (2, 3) and not args[0].startswith("-"):
        try:
            ratio = float(args[2]) if len(args) == 3 else 2.0
        except ValueError:
            ratio = None
        if ratio is not None:
            return main(args[0], args[1], ratio)
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(cli(sys.argv[1:]))

#!/usr/bin/env python3
"""Steadiness and trace report for the graft CDC lakehouse benchmark.

    python3 perfbench/steady.py                      # every workload, seeds 1-10
    python3 perfbench/steady.py --workloads query_mix --seeds 1-5
    python3 perfbench/steady.py --trace-check        # + two same-seed traced runs
    python3 perfbench/steady.py --record perfbench/out/steady.json

Run from the repository root. For each workload it runs perfbench/run.py
once per seed, then prints each end-to-end metric's median, quartiles and
spread (inter-quartile range / median) against the bound in BENCHMARK.json.
With --trace-check it also runs the traced mode twice on the first seed,
marks the per-layer counts that repeat exactly, names the layer with the
most wall time and the most self time, and states the tracing overhead
(median traced cycle / median untraced cycle on the same seed).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAYERS = ("cdc", "lake.upsert", "lake.changes", "lake.mv_refresh", "lake.read",
          "lake.compact", "lake.commitlog", "sql")


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stdout.write(p.stdout)
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    with open(os.path.join(HERE, "out", f"result-{workload}-{seed}-trace{trace}.json")) as f:
        full = json.load(f)
    return json.loads(lines[-1]), full


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace-check", action="store_true")
    ap.add_argument("--record", help="write every figure to this JSON file")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = seeds_of(a.seeds)
    record = {"seconds": a.seconds, "seeds": seeds, "workloads": {}}
    ok = True

    for w in a.workloads.split(","):
        runs = []
        for s in seeds:
            last, full = run(w, s, a.seconds, 0)
            runs.append(full)
            print(f"{w} seed {s}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
        rec = {"end_to_end": {}, "report": {}}
        print(f"\n{w}: {len(runs)} runs, spread = (q3 - q1) / median")
        print(f"  {'metric':<22} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>8} "
              f"{'bound':>6}  verdict")
        for name, bound in bounds.items():
            if name not in runs[0]["report"]:
                continue  # not a metric of this workload
            med, q1, q3, sp = spread([r["report"][name]["value"] for r in runs])
            verdict = ("steady" if sp < bound / 3 else
                       "within bound" if sp <= bound else "TOO NOISY")
            if sp > bound:
                ok = False
            unit = runs[0]["report"][name]["unit"]
            print(f"  {name:<22} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} {sp:>8.3f} "
                  f"{bound:>6}  {verdict}")
            rec["end_to_end"][name] = {"unit": unit, "median": med, "q1": q1, "q3": q3,
                                       "spread": sp, "bound": bound}
        print("  other report metrics (not gated):")
        for name in [n for n in runs[0]["report"] if n not in bounds]:
            vals = [r["report"][name]["value"] for r in runs if name in r["report"]]
            vals = [v for v in vals if v is not None]
            if len(vals) < 2:
                continue
            med, q1, q3, sp = spread(vals)
            print(f"    {name:<22} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} {sp:>8.3f}")
            rec["report"][name] = {"unit": runs[0]["report"][name]["unit"], "median": med,
                                   "q1": q1, "q3": q3, "spread": sp}
        if a.trace_check:
            rec["trace"] = trace_check(w, seeds[0], a.seconds, runs[0])
        record["workloads"][w] = rec
        print(flush=True)

    if a.record:
        with open(a.record, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    sys.exit(0 if ok else 1)


def trace_check(w, seed, seconds, untraced):
    (l1, f1), (l2, f2) = run(w, seed, seconds, 1), run(w, seed, seconds, 1)
    m1, m2 = l1["metrics"], l2["metrics"]
    exact = sorted(k for k in m1 if m1[k]["value"] == m2[k]["value"] and m1[k]["value"] != 0
                   and m1[k]["unit"] in ("count", "bytes"))
    walls = {L: m1[f"{L}.wall_ms"]["value"] for L in LAYERS}
    selfs = {L: m1[f"{L}.gap_ms"]["value"] for L in LAYERS}
    overhead = statistics.median(f1["cycles_s"]) / statistics.median(untraced["cycles_s"])
    print(f"  traced seed {seed}, per cycle (first run | second run, * = exact repeat):")
    for k in m1:
        if m1[k]["value"] or m2[k]["value"]:
            mark = "*" if k in exact else " "
            print(f"   {mark} {k:<40} {m1[k]['value']:>14.6g} | {m2[k]['value']:<14.6g} "
                  f"{m1[k]['unit']}")
    top_wall = max(walls, key=walls.get)
    top_self = max(selfs, key=selfs.get)
    print(f"  top layer by wall time: {top_wall} ({walls[top_wall]:.0f} ms/cycle); "
          f"by self time: {top_self} ({selfs[top_self]:.0f} ms/cycle)")
    print(f"  tracing overhead: {overhead:.3f} (median traced cycle / median untraced cycle)")
    return {"per_layer": {k: v["value"] for k, v in m1.items()}, "exact": exact,
            "top_layer_wall": top_wall, "top_layer_self": top_self, "overhead": overhead}


if __name__ == "__main__":
    main()

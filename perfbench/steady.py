#!/usr/bin/env python3
"""Steadiness record: run every workload of BENCHMARK.json over several seeds,
in two sets of the same code, and write each end-to-end metric's median and
quartiles next to its bound, plus how far the second set's median moved.

    python3 perfbench/steady.py --seeds 10 --sets 2 --traced 2 \
        --out perfbench/results/steadiness.json

Run from the repository root. Set s runs seeds 101 + s*seeds onward.
Spread = (Q3 - Q1) / median over a set's seeds, with quartiles as Python's
statistics.quantiles(values, n=4) gives them. Shift = how much worse the
second set's median is than the first's, as a share of the first (negative
when it is better). Untraced runs alternate between workloads so that a
change in host load lands on all of them. The tracing overhead per workload
is the traced run's unit p50 (trace.p50_ms) minus the untraced p50_ms.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIRST_SEED = 101


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    rec = {"seed": seed, "trace": trace, "result": json.loads(lines[-1]),
           "env": {}, "phase_s": {}, "properties": {}, "named": {}, "failures": []}
    for ln in lines[:-1]:
        head, _, rest = ln.partition(" ")
        if head in ("env", "phase_s"):
            rec[head] = dict(kv.split("=", 1) for kv in rest.split())
        elif head == "property":
            k, v = rest.split()
            rec["properties"][k] = float(v)
        elif head == "metric":
            _, k, v, unit = rest.split()
            rec["named"][k] = {"value": float(v), "unit": unit}
        elif head == "failure":
            rec["failures"].append(rest)
        elif head == "wall_s":
            rec["wall_s"] = float(rest)
    return rec


def summary(values, bound=None):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    spread = (q3 - q1) / med if med else 0.0
    out = {"median": med, "q1": q1, "q3": q3, "spread": spread, "values": values}
    if bound is not None:
        out.update(bound=bound, within_bound=spread <= bound,
                   below_third_of_bound=spread < bound / 3)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10, help="seeds per set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--traced", type=int, default=2, help="traced runs per workload")
    ap.add_argument("--out", default=os.path.join(HERE, "results", "steadiness.json"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    spec = {m["name"]: m for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    sets = [{w: [] for w in workloads} for _ in range(a.sets)]
    for s in range(a.sets):
        for i in range(a.seeds):
            seed = FIRST_SEED + a.seeds * s + i
            for w in workloads:
                r = run(w, seed, seconds, 0)
                sets[s][w].append(r)
                print(f"set {s} {w} seed {seed}: " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in r["result"]["metrics"].items())
                    + f" wall={r.get('wall_s')}", flush=True)
    traced = {w: [run(w, FIRST_SEED + i, seconds, 1) for i in range(a.traced)] for w in workloads}

    report = {"run_seconds": seconds, "seeds_per_set": a.seeds, "sets": a.sets, "workloads": {}}
    for w in workloads:
        per_set = []
        for s in range(a.sets):
            un = sets[s][w]
            per_set.append({
                "seeds": [r["seed"] for r in un],
                "end_to_end": {k: summary([r["result"]["metrics"][k]["value"] for r in un],
                                          spec[k]["bound"] if k in spec else None)
                               for k in un[0]["result"]["metrics"]},
                "named": {k: dict(summary([r["named"][k]["value"] for r in un]), unit=v["unit"])
                          for k, v in un[0]["named"].items()},
                "properties": {k: summary([r["properties"][k] for r in un])
                               for k in un[0]["properties"]},
                "phase_s": {k: summary([float(r["phase_s"][k]) for r in un])
                            for k in un[0]["phase_s"]},
                "wall_s": summary([r.get("wall_s", 0.0) for r in un]),
                "attempted": sum(r["result"]["attempted"] for r in un),
                "failed": sum(r["result"]["failed"] for r in un),
                "failures": [f for r in un for f in r["failures"]],
                "env": [r["env"] for r in un],
            })
        entry = {"sets": per_set}
        if a.sets > 1:
            agree = {}
            for k, first in per_set[0]["end_to_end"].items():
                m1, m2 = first["median"], per_set[1]["end_to_end"][k]["median"]
                worse = (m2 - m1) if spec[k]["better"] == "lower" else (m1 - m2)
                shift = worse / m1 if m1 else 0.0
                agree[k] = {"median_1": m1, "median_2": m2, "shift": shift,
                            "bound": spec[k]["bound"], "within_bound": shift <= spec[k]["bound"]}
            entry["second_set_vs_first"] = agree
        tr = traced[w]
        if tr:
            tp50 = statistics.median(r["result"]["metrics"]["trace.p50_ms"]["value"] for r in tr)
            p50 = per_set[0]["end_to_end"]["p50_ms"]["median"]
            entry["tracing_overhead_ms"] = tp50 - p50
            entry["traced_p50_ms"] = tp50
            entry["traced_wall_s"] = [r.get("wall_s") for r in tr]
            entry["per_layer_median"] = {
                k: statistics.median(r["result"]["metrics"][k]["value"] for r in tr)
                for k in tr[0]["result"]["metrics"]}
        report["workloads"][w] = entry
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")
    for w, e in report["workloads"].items():
        print(f"\n{w}" + (f": tracing overhead {e['tracing_overhead_ms']:.0f} ms"
                          if "tracing_overhead_ms" in e else ""))
        for s, st in enumerate(e["sets"]):
            print(f" set {s}: attempted {st['attempted']} failed {st['failed']}"
                  f" wall median {st['wall_s']['median']:.1f}s")
            for k, x in st["end_to_end"].items():
                print(f"  {k:20s} median {x['median']:.5g}  q1 {x['q1']:.5g}  q3 {x['q3']:.5g}"
                      f"  spread {x['spread']:.4f}  bound {x.get('bound')}")
            for k, x in st["named"].items():
                print(f"  {w} {k} {x['median']:.5g} {x['unit']}")
        for k, x in e.get("second_set_vs_first", {}).items():
            print(f"  {k:20s} second set shift {x['shift']:+.4f}  bound {x['bound']}")


if __name__ == "__main__":
    main()

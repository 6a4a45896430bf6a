#!/usr/bin/env python3
"""Two sets of runs of one commit, and whether they agree.

    python3 perfbench/compare.py                        # every workload, 2 sets of 10 seeds
    python3 perfbench/compare.py --workloads feed-ingest --runs 5 --sets 1
    python3 perfbench/compare.py --traced               # also 2 traced runs + local[1] catch-up

For each workload and end-to-end metric it prints the median and the
quartiles of each set, the spread (interquartile distance over the
median) and whether the sets agree within BENCHMARK.json's bound: every
set's spread is within the bound, and the two medians differ by no more
than the bound (as a share of the first), in either direction. ``--traced`` adds two
traced runs per workload on one seed: their count metrics must repeat
exactly, and the traced end-to-end numbers minus the untraced medians
are the tracing overhead. For feed-ingest it also runs the catch-up on
local[1] as the single-threaded baseline. Every run's output is kept
under perfbench/.work/out.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: int, trace: int = 0, cpus: int | None = None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if cpus:
        cmd += ["--cpus", str(cpus)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}: {p.stderr[-2000:]}")
    detail = next((json.loads(x[len("detail "):]) for x in lines if x.startswith("detail ")), {})
    return {"workload": workload, "seed": seed, "trace": trace, "cpus": cpus,
            "wall_s": time.perf_counter() - t0, "result": json.loads(lines[-1]), "detail": detail}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def summarize(sets: list[list[dict]], spec: dict) -> list[dict]:
    rows = []
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        stats = []
        for runs in sets:
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            q1, med, q3 = quartiles(vals)
            stats.append({"median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med if med else float("inf")})
        ok = all(s["spread"] <= bound for s in stats)
        if len(stats) == 2:
            a, b = stats[0]["median"], stats[1]["median"]
            ok = ok and abs(b - a) / a <= bound
        rows.append({"metric": name, "unit": m["unit"], "bound": bound, "sets": stats, "agree": ok})
    return rows


def main() -> int:
    sys.stdout.reconfigure(line_buffering=True)
    spec = bench_spec()
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=names, choices=names)
    ap.add_argument("--runs", type=int, default=10, help="runs per set, one seed each")
    ap.add_argument("--sets", type=int, default=2, choices=(1, 2))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    out_dir = os.path.join(HERE, ".work", "out")
    os.makedirs(out_dir, exist_ok=True)
    report: dict = {"runs": [], "workloads": {}}
    seed = args.first_seed
    all_ok = True
    for w in args.workloads:
        sets = []
        for _ in range(args.sets):
            runs = [run_once(w, s, args.seconds) for s in range(seed, seed + args.runs)]
            seed += args.runs
            sets.append(runs)
            report["runs"] += runs
        rows = summarize(sets, spec)
        entry = {"metrics": rows,
                 "failed": sum(r["result"]["failed"] for s in sets for r in s),
                 "attempted": sum(r["result"]["attempted"] for s in sets for r in s)}
        print(f"\n== {w}: {entry['failed']} of {entry['attempted']} operations failed")
        for row in rows:
            cells = "  ".join(f"median {s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] "
                              f"spread {s['spread']:.3f}" for s in row["sets"])
            print(f"  {row['metric']:<18} {row['unit']:<5} bound {row['bound']:<5} {cells}  "
                  f"{'agree' if row['agree'] else 'DISAGREE'}")
            all_ok &= row["agree"]
        if args.traced:
            traced = [run_once(w, args.first_seed, args.seconds, trace=1) for _ in range(2)]
            report["runs"] += traced
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            m0, m1 = (t["result"]["metrics"] for t in traced)
            diff = [k for k, u in units.items() if u == "count" and m0[k]["value"] != m1[k]["value"]]
            untraced = {row["metric"]: row["sets"][0]["median"] for row in rows}
            overhead = {k: statistics.median(t["detail"]["traced_e2e"][k] for t in traced) - v
                        for k, v in untraced.items()}
            entry["traced"] = {"counts_repeat": not diff, "counts_differ": diff, "overhead": overhead,
                               "layers": {k: v["value"] for k, v in m0.items()}}
            print(f"  traced: counts repeat exactly: {not diff} {diff or ''}")
            for k, v in overhead.items():
                print(f"  tracing overhead {k}: {v:+.4g}")
            all_ok &= not diff
            if w == "feed-ingest":
                base = run_once(w, args.first_seed, args.seconds, cpus=1)
                report["runs"].append(base)
                entry["local1_catchup_events_per_s"] = base["detail"]["catchup_events_per_s"]
                print(f"  local[1] baseline catch-up: {entry['local1_catchup_events_per_s']:.4g} events/s")
        report["workloads"][w] = entry
    path = os.path.join(out_dir, f"compare-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"\n{'all sets agree' if all_ok else 'sets DISAGREE'}; runs kept in {path}")
    return 0 if all_ok else 1


if __name__ == "__main__":
    with procs.owned_processes():
        sys.exit(main())

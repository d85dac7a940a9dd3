"""Record the benchmark's baseline: for each workload, untraced runs on
seeds 1..N (medians and quartiles of every end-to-end metric, and the
spread (q3 - q1) / median beside the metric's bound) plus one traced
run (the per-layer table). With ``--sets 2`` a second set of untraced
runs on seeds N+1..2N follows, and the record gives, per metric, how
much worse its second median is than its first, as a share of the
first. Entries for the workloads run replace those already in the
output file; the others are kept.

    python3 perfbench/record.py --seeds 10 --sets 2
    python3 perfbench/record.py --seeds 3 --workloads harvest_recrawl frontier_sparse
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def summarize(runs: list[dict], bounds: dict) -> dict:
    out = {}
    for name, m in runs[0]["metrics"].items():
        values = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4)
        out[name] = {"unit": m["unit"], "median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med, "bound": bounds.get(name),
                     "values": values}
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()
    out = os.path.join(HERE, "baseline.json")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    lower = {m["name"]: m["better"] == "lower" for m in spec["end_to_end"]}
    record = {}
    if os.path.exists(out):
        with open(out) as f:
            record = json.load(f)
    record["run_seconds"] = spec["run_seconds"]
    for w in args.workloads:
        runs = [_run(w, s, spec["run_seconds"], 0) for s in range(1, args.seeds + 1)]
        traced = _run(w, 1, spec["run_seconds"], 1)
        entry = record.setdefault("workloads", {})[w] = {
            "seeds": args.seeds,
            "sets": args.sets,
            "attempted": sum(r["attempted"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "end_to_end": summarize(runs, bounds),
            "traced": {"correct": traced["correct"],
                       "layers": {n: m["value"] for n, m in traced["metrics"].items()}},
        }
        for name, s in entry["end_to_end"].items():
            print(f"{w:16} {name:20} median {s['median']:12.4f} {s['unit']:6} "
                  f"spread {s['spread']:.3f} (bound {s['bound']})", flush=True)
        if args.sets == 2:
            runs = [_run(w, s, spec["run_seconds"], 0)
                    for s in range(args.seeds + 1, 2 * args.seeds + 1)]
            entry["attempted"] += sum(r["attempted"] for r in runs)
            entry["failed"] += sum(r["failed"] for r in runs)
            second = entry["second_set"] = summarize(runs, bounds)
            entry["second_median_worse_by"] = worse = {}
            for name, s in second.items():
                first = entry["end_to_end"][name]["median"]
                change = (s["median"] - first) / first
                worse[name] = change if lower.get(name, True) else -change
                print(f"{w:16} {name:20} set 2 median {s['median']:12.4f} "
                      f"spread {s['spread']:.3f}, worse by {worse[name]:+.3f} "
                      f"(bound {s['bound']})", flush=True)
        with open(out, "w") as f:  # after every workload, so a cut run keeps the rest
            json.dump(record, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

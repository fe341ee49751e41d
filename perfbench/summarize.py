"""Summarize the runs recorded under ``.perfbench/out``: per workload, the
median and quartiles of every end-to-end metric over the untraced runs, and
the per-layer metrics of the traced runs.

    python3 perfbench/summarize.py [--write perfbench/baseline/nproc4.json]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(os.path.dirname(HERE), ".perfbench", "out")


def cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor()


def summarize() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e_names = [m["name"] for m in bench["end_to_end"]]
    out = {"host": {"nproc": os.cpu_count(), "cpu": cpu_model()},
           "run_seconds": bench["run_seconds"], "workloads": {}}
    for w in (wl["name"] for wl in bench["workloads"]):
        runs = []
        for p in sorted(glob.glob(os.path.join(OUT, f"result-{w}-seed*-trace0.json"))):
            with open(p) as f:
                runs.append(json.load(f))
        traced = []
        for p in sorted(glob.glob(os.path.join(OUT, f"result-{w}-seed*-trace1.json"))):
            with open(p) as f:
                traced.append(json.load(f))
        rec = {"seeds": [r["seed"] for r in runs],
               "all_correct": all(r["correct"] for r in runs + traced), "end_to_end": {}}
        for name in e2e_names + ["error_rate"]:
            xs = [r["e2e"][name] for r in runs]
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            rec["end_to_end"][name] = {"median": statistics.median(xs), "q1": q1, "q3": q3,
                                       "spread": (q3 - q1) / med if med else 0.0}
        if traced:
            rec["traced_seeds"] = [r["seed"] for r in traced]
            rec["per_layer"] = {k: statistics.median(r["layer"][k] for r in traced)
                                for k in traced[0]["layer"]}
            rec["per_layer_extra"] = {k: statistics.median(r["layer_extra"][k] for r in traced)
                                      for k in traced[0]["layer_extra"]}
        out["workloads"][w] = rec
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--write", default=None, help="also write the summary to this file")
    args = ap.parse_args()
    s = summarize()
    for w, rec in s["workloads"].items():
        print(f"{w}: {len(rec['seeds'])} runs, all correct: {rec['all_correct']}")
        for name, m in rec["end_to_end"].items():
            print(f"  {name:12s} median {m['median']:.6g}  quartiles "
                  f"{m['q1']:.6g}..{m['q3']:.6g}  spread {m['spread']:.3f}")
    if args.write:
        with open(args.write, "w") as f:
            json.dump(s, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()

"""Run a workload on several seeds and summarise the run-to-run spread.

    python3 e2ebench/spread.py --workload cdc --seeds 1-10 [--seconds 8]

For each end-to-end metric: the median, the quartile spread
(Q3 - Q1) / median as ``statistics.quantiles(values, n=4)`` gives it, and
the correlation of the metric with the host probe (``host.cpu_probe_s``
measured before the run) and with the host's steal time over the run. Each
run's result line and host record are appended to
``e2ebench/.work/spread-<workload>.jsonl``; ``--summarise`` prints the
summary of that file without running anything.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def _corr(xs, ys) -> float:
    if len(xs) < 3 or statistics.pstdev(xs) == 0 or statistics.pstdev(ys) == 0:
        return 0.0
    return statistics.correlation(xs, ys)


def summarise(runs: list[dict]) -> dict:
    out = {}
    probe = [r["host"]["host.cpu_probe_s.before"] for r in runs]
    steal = [r["host"]["host.steal_s"] for r in runs]
    for name in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med] * 3
        out[name] = {"median": med, "spread": (q[2] - q[0]) / med,
                     "corr_host_probe": _corr(probe, vals),
                     "corr_steal": _corr(steal, vals)}
    out["_failed_share"] = sorted({r["result"]["failed"] / r["result"]["attempted"]
                                   for r in runs})
    out["_correct"] = all(r["result"]["correct"] for r in runs)
    out["_wall_s"] = statistics.median(r["wall_s"] for r in runs)
    out["_steal_s"] = statistics.median(steal)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--summarise", action="store_true")
    a = ap.parse_args()
    log = os.path.join(HERE, ".work", f"spread-{a.workload}.jsonl")
    if a.summarise:
        with open(log) as f:
            print(json.dumps(summarise([json.loads(x) for x in f]), indent=1))
        return 0
    os.makedirs(os.path.dirname(log), exist_ok=True)
    runs = []
    for seed in _seeds(a.seeds):
        t = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", str(a.seconds),
             "--trace", "0"], capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            return 1
        result = json.loads(p.stdout.strip().splitlines()[-1])
        with open(os.path.join(HERE, ".work", "runs.jsonl")) as f:
            host = json.loads(f.readlines()[-1])
        run = {"seed": seed, "wall_s": wall, "result": result,
               "host": {k: v for k, v in host.items() if k.startswith("host")}}
        runs.append(run)
        with open(log, "a") as f:
            f.write(json.dumps(run) + "\n")
        print(f"seed {seed}: {wall:.1f} s "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in result["metrics"].items()), flush=True)
    print(json.dumps(summarise(runs), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py [--workloads a,b] [--seeds 1-10] [--trace 0|1]
                                [--out runs.jsonl] [--baseline earlier.jsonl]

For every workload and metric it prints the median and the spread: the
distance between the first and third quartile as a share of the median.
An end-to-end metric's spread must stay under its `bound` in BENCHMARK.json
(`OVER` otherwise), and the benchmark aims to keep it under a third of the
bound (`OK`; between the two it prints `WIDE`). Runs are sequential; each
one is a full `perfbench/run.py` invocation with the `run_seconds` of
BENCHMARK.json. Raw result lines go to `--out` when given. With
`--baseline` (an earlier `--out` file) it also prints how far each median
moved from that series' median, as a share of it, which a second series of
the same code has to keep within the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import iqr_share, ratio  # noqa: E402


def seeds(spec: str) -> list[int]:
    if "," in spec:
        return [int(s) for s in spec.split(",")]
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10", help="a range like 1-10, or a,b,c")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--baseline", help="an earlier --out file to compare medians with")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    baseline: dict[str, list[dict]] = {}
    if args.baseline:
        with open(args.baseline) as f:
            for line in f:
                rec = json.loads(line)
                if rec["details"]["trace"] == args.trace:
                    baseline.setdefault(rec["details"]["workload"], []).append(rec)

    for wl in args.workloads.split(","):
        results = []
        for seed in seeds(args.seeds):
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
            proc = subprocess.run(cmd, capture_output=True, text=True)
            if proc.returncode != 0:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                return 1
            *_, details, last = proc.stdout.strip().splitlines()
            res = json.loads(last)
            results.append(res)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({**res, "details": json.loads(details[2:])}) + "\n")
            print(f"{wl} seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']}",
                  flush=True)
        for name in results[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in results]
            med = statistics.median(vals)
            spread = iqr_share(vals) if len(vals) > 1 and med else 0.0
            bound = bounds.get(name)
            flag = ""
            if bound is not None:
                flag = f" bound {bound} " + (
                    "OK" if spread < bound / 3 else "WIDE" if spread < bound else "OVER"
                )
            if baseline.get(wl):
                base = statistics.median(r["metrics"][name]["value"] for r in baseline[wl])
                flag += f"  vs baseline median {base:.4f}: {ratio(med - base, base):+.3f}"
            print(f"  {wl:14s} {name:36s} median {med:12.4f}  iqr/median {spread:.3f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

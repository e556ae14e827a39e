"""Steadiness check for the benchmark.

    python3 perfbench/steady.py --workloads shoreline_full corpus_dedup --seeds 1-10

Runs `perfbench/run.py` once per (workload, seed), one run after another,
with the `run_seconds` of BENCHMARK.json, from the root of a checkout.
For each end-to-end metric it prints the median over the seeds, the
spread (first-to-third quartile distance as a share of the median) and
the drift (median of the second half of the runs minus that of the
first half, as a share of the median, signed so that positive is worse).
It also prints the drift inside a run: the last iteration's wall over
the first's, minus one, as a median over the runs.
A spread or drift above a third of the metric's bound is flagged; the
spread of `setup_s` is reported but not held to its bound. `--record`
stores each run's output signature in perfbench/expected.json, which
later runs of those seeds check against. `--out` writes all values as
JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> tuple[dict, dict]:
    """One `run.py` process: (its result line, its run report)."""
    report = os.path.join(HERE, ".work", f"report-{workload}-{seed}-{trace}.json")
    os.makedirs(os.path.dirname(report), exist_ok=True)
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--report", report]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    with open(report) as f:
        rep = json.load(f)
    os.remove(report)
    return json.loads(p.stdout.strip().splitlines()[-1]), rep


def summarize(values: list[float], better: str) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    half = len(values) // 2
    drift = statistics.median(values[half:]) - statistics.median(values[:half])
    sign = 1 if better == "lower" else -1
    return {"median": med, "spread": (q3 - q1) / med, "drift": sign * drift / med, "values": values}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workloads", nargs="+", required=True)
    p.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8")
    p.add_argument("--record", action="store_true", help="store output signatures in expected.json")
    p.add_argument("--out", help="write the values and summaries as JSON here")
    args = p.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    results: dict = {}
    ok = True
    for wl in args.workloads:
        runs = []
        for seed in _seeds(args.seeds):
            res, rep = run_once(wl, seed, bench["run_seconds"])
            walls = [it["wall_s"] for it in rep["iterations"]]
            runs.append({"seed": seed, "result": res, "signature": rep["iterations"][0]["signature"],
                         "iteration_walls": walls, "setup_s": rep["setup_s"], "warmup_s": rep["warmup_s"]})
            vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
            print(f"{wl} seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} {vals}", flush=True)
            ok &= res["correct"]
        summary = {}
        for name, m in metrics.items():
            s = summarize([r["result"]["metrics"][name]["value"] for r in runs], m["better"])
            limit = m["bound"] / 3
            s["flags"] = [k for k in ("spread", "drift") if abs(s[k]) > limit and not (k == "spread" and name == "setup_s")]
            ok &= not s["flags"]
            summary[name] = s
            print(f"  {wl} {name}: median {s['median']:.4g} spread {s['spread']:.3f} drift {s['drift']:+.3f} "
                  f"(a third of the bound: {limit:.3f}) {' '.join(s['flags'])}", flush=True)
        # drift inside a run: last iteration against the first
        in_run = statistics.median(r["iteration_walls"][-1] / r["iteration_walls"][0] - 1 for r in runs)
        summary["in_run_drift"] = in_run
        print(f"  {wl} in-run drift (last iteration / first - 1, median over runs): {in_run:+.3f}", flush=True)
        results[wl] = {"runs": runs, "summary": summary}
        if args.record:
            path = os.path.join(HERE, "expected.json")
            with open(path) as f:
                expected = json.load(f)
            expected.setdefault(wl, {}).update({str(r["seed"]): r["signature"] for r in runs})
            with open(path, "w") as f:
                json.dump(expected, f, indent=1, sort_keys=True)
                f.write("\n")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())

"""Traced profile of every workload, with its tracing overhead.

    python3 perfbench/seed_profile.py --seed 1 --out perfbench/profile_seed.json

For each workload: one untraced run (`--trace 0`) and one traced run
(`--trace 1`) of `perfbench/run.py` with the `run_seconds` of
BENCHMARK.json. The traced run's iteration wall (net of the tracer's
counts and probes, which run between spans and are reported apart as
`probe_s`) minus the untraced `run_s` is the tracing overhead; the traced run also times an untraced
iteration in its own process (`plans.wall_s`), which gives a second,
same-process overhead figure. `accounting` checks that the top-level
span walls, less that overhead, account for the untraced `run_s`: the
remainder is the benchmark's own glue between spans.
"""

from __future__ import annotations

import argparse
import json

from steady import run_once


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    out: dict = {"seed": args.seed, "run_seconds": bench["run_seconds"], "workloads": {}}
    for wl in (w["name"] for w in bench["workloads"]):
        plain, _ = run_once(wl, args.seed, bench["run_seconds"], trace=0)
        traced, report = run_once(wl, args.seed, bench["run_seconds"], trace=1)
        m = {k: v["value"] for k, v in traced["metrics"].items()}
        run_s = plain["metrics"]["run_s"]["value"]
        spans = report["spans"]["top_level_wall_s"]
        overhead = m["trace.run_s"] - run_s
        same_process = m["trace.run_s"] - m["plans.wall_s"]
        out["workloads"][wl] = {
            "cores": report["cores"],
            "driver_memory": report["driver_memory"],
            "untraced": {k: v["value"] for k, v in plain["metrics"].items()},
            "traced_run_s": m["trace.run_s"],
            "overhead_s": overhead,
            "overhead_same_process_s": same_process,
            "top_level_span_wall_s": spans,
            "probe_s": report["spans"]["probe_s"],
            "accounting": {
                "spans_wall_s": sum(spans.values()),
                "spans_minus_overhead_s": sum(spans.values()) - overhead,
                "untraced_run_s": run_s,
                "glue_s": run_s - (sum(spans.values()) - overhead),
            },
            "per_layer": m,
            "span_detail": report["spans"]["layers"],
        }
        print(f"{wl}: run_s {run_s:.3f} traced {m['trace.run_s']:.3f} overhead {overhead:+.3f} "
              f"(same process {same_process:+.3f}) spans {sum(spans.values()):.3f}", flush=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

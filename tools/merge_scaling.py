"""Merge multiple scaling_study runs (separate time windows) by taking
the per-(job, leg) MINIMUM — the documented shared-host protocol: the
min over interleaved trials across windows converges to the unloaded
time, because co-tenant bursts only ever ADD wall-clock.

Lineage hygiene: a min is only meaningful across windows that measured
the SAME code for that query. When an operator's kernel changes
mid-round, its old windows must not contribute legs — mixing an
old-kernel minimum on one leg with a new-kernel minimum on the other
would fabricate an efficiency no single code version ever exhibited.
LINEAGE_EXCLUDE pins the known breaks; windows may also be restricted
ad hoc with `path:q1,q2` (merge only those queries from that file).

Usage: python tools/merge_scaling.py run1.json run2.json[:q1,q2] ...
(also rewrites BENCH/scaling.json with the merged summary)
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Known lineage breaks, keyed by window basename -> queries to DROP.
# r4w1-r4w5 measured the per-slot-splitmix64 MinHash kernel; the
# multiply-shift kernel landed before r4w6 (operators/dedup.py
# _np_minhash_core), so their minhash legs are a different program.
# The mapInPandas contour kernel (operators/raster.py, commit cece258)
# landed AFTER all r4w windows, so their flagship legs are also a
# different program from the v2 lineage (scaling_r4v2w*); only
# text_extract is comparable across both lineages. Never min-merge a
# query's legs across two different programs.
LINEAGE_EXCLUDE: dict[str, set[str]] = {
    f"scaling_r4w{i}.json": (
        {"minhash_assign", "flagship"} if i < 6 else {"flagship"}
    )
    for i in range(1, 13)
}


def main() -> None:
    specs = []
    for arg in sys.argv[1:]:
        path, _, only = arg.partition(":")
        specs.append((path, set(only.split(",")) if only else None))
    assert specs, "pass at least one scaling.json"
    runs = []
    for path, only in specs:
        r = json.load(open(path))
        drop = LINEAGE_EXCLUDE.get(os.path.basename(path), set())
        for leg in ("times_N", "times_4N"):
            r[leg] = {
                q: v
                for q, v in r[leg].items()
                if q not in drop and (only is None or q in only)
            }
        runs.append(r)
    present = {}
    for r in runs:
        for q in r["times_N"]:
            present[q] = present.get(q, 0) + 1
    base = runs[0]
    for r in runs[1:]:
        assert r["N"] == base["N"] and r["4N"] == base["4N"] and r["sf"] == base["sf"]
        # minhash runs at its own input size (SPARK_GRAFT_SF_MH): minima
        # across DIFFERENT minhash input sizes would fabricate an
        # efficiency no single configuration exhibited
        assert r.get("sf_minhash", 1.0) == base.get("sf_minhash", 1.0), (
            f"sf_minhash mismatch: {r.get('sf_minhash')} vs {base.get('sf_minhash')}"
        )
        for leg in ("times_N", "times_4N"):
            for q, v in r[leg].items():
                base[leg][q] = min(base[leg].get(q, v), v)
    base["trials"] = sum(r["trials"] for r in runs)
    base["merged_windows"] = len(runs)
    base["windows_per_query"] = present
    eff = {
        q: round((base["times_N"][q] / base["times_4N"][q]) / 4.0, 3)
        for q in base["times_N"]
    }
    base["efficiency_per_query"] = eff
    t_n = sum(base["times_N"].values())
    t_4n = sum(base["times_4N"].values())
    base["efficiency_total"] = round((t_n / t_4n) / 4.0, 3)
    base["docs_per_sec_flagship_N"] = round(base["n_docs"] / base["times_N"]["flagship"], 1)
    base["docs_per_sec_flagship_4N"] = round(base["n_docs"] / base["times_4N"]["flagship"], 1)
    out_path = os.environ.get(
        "SPARK_GRAFT_MERGE_OUT", os.path.join(REPO, "BENCH", "scaling.json")
    )
    with open(out_path, "w") as fh:
        json.dump(base, fh, indent=2)
    print(json.dumps(base, indent=2))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Merge N same-HEAD Bench artifacts into the committed BENCH_FULL.json.

Headline methodology (round 18, per ADVICE): the artifact's `value` is
the BEST SINGLE RUN's raw total — a total some actual run achieved —
so cross-round comparisons are run-to-run symmetric. The per-query MIN
merge (the in-run estimator extended across the host's documented
multi-minute throttle windows — BASELINE.md) is kept as the separate
`min_merge_total` field and still feeds the per-query `queries` map
that Bench's throttle self-diagnosis compares against. `raw_totals`
records every input run's total so the run count is self-documenting.
Each query's `medians` entry and `layers` record (its job/driver split)
come from the run that won its `queries` minimum; `unattributed_jobs`
is the maximum over the runs.

Usage:

    python3 tools/merge_bench.py run1.json [run2.json ...] BENCH_FULL.json
"""
import json, sys

def main():
    runs = [json.load(open(p)) for p in sys.argv[1:-1]]
    out_path = sys.argv[-1]
    if not runs:
        sys.exit("need at least one run artifact")
    names = sorted(set().union(*[set(r["queries"]) for r in runs]))
    queries, medians, layers = {}, {}, {}
    for n in names:
        best = min((r for r in runs if r["queries"].get(n, -1.0) >= 0),
                   key=lambda r: r["queries"][n], default=None)
        if best is None:
            queries[n] = -1.0
            medians[n] = -1.0
        else:
            queries[n] = best["queries"][n]
            medians[n] = best.get("medians", {}).get(n, queries[n])
            if n in best.get("layers", {}):
                layers[n] = best["layers"][n]
    chains = {}
    for n in set().union(*[set(r.get("chains", {})) for r in runs]):
        chains[n] = min(r["chains"][n] for r in runs
                        if n in r.get("chains", {}))
    failed = max(r.get("failed", 0) for r in runs)
    raw_totals = [round(r.get("value", -1.0), 3) for r in runs]
    complete = [t for r, t in zip(runs, raw_totals)
                if r.get("failed", 0) == 0 and t >= 0]
    headline = round(min(complete), 3) if complete and not failed else -1.0
    min_merge = -1.0 if failed else round(sum(queries.values()), 3)
    merged = {
        "metric": "total", "value": headline, "unit": "sec",
        "queries": queries, "medians": medians, "chains": chains,
        "min_merge_total": min_merge,
        "raw_totals": raw_totals,
        "median_ratio_vs_committed":
            runs[-1].get("median_ratio_vs_committed"),
        "uniform_inflation": all(bool(r.get("uniform_inflation"))
                                 for r in runs),
        "sf": runs[0].get("sf"), "failed": failed,
        "layers": layers,
        "unattributed_jobs": max(r.get("unattributed_jobs", 0) for r in runs),
        "note": (f"headline = best single run of {len(runs)} same-HEAD "
                 f"3-pass runs (raw totals {raw_totals}); queries map = "
                 "per-query min across runs, totalling min_merge_total; "
                 "medians and layers from each query's winning run"),
    }
    json.dump(merged, open(out_path, "w"), separators=(",", ":"))
    print(f"merged {len(queries)} queries from {len(runs)} runs -> "
          f"{out_path}: headline {headline}s (best single run), "
          f"min-merge {min_merge}s, failed {failed}")

if __name__ == "__main__":
    main()

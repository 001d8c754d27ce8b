#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds run records as written by run.py to
.bench_build/results/ (one `<workload>-s<seed>-t<trace>.json` per run;
copy the directory aside between the two commits). For each workload and
end-to-end metric it prints each side's median and quartiles and the
number of seed-matched pairs the new side won (ties count for neither);
then the per-layer medians per module and their delta. Every figure is
printed with its sample count.
"""
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import common  # noqa: E402


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        if f.endswith(".spans.json"):
            continue
        r = common.read_json(f)
        runs.setdefault((r["workload"], r["trace"]), {})[r["seed"]] = r
    return runs


def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def better_of(spec, name):
    for m in spec.get("end_to_end", []) + spec.get("per_layer", []):
        if m["name"] == name:
            return m.get("better", "lower"), m.get("bound")
    return "lower", None


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    spec_path = os.path.join(common.ROOT, "BENCHMARK.json")
    spec = common.read_json(spec_path) if os.path.exists(spec_path) else {}
    for (wl, trace) in sorted(set(base) | set(new)):
        b, n = base.get((wl, trace), {}), new.get((wl, trace), {})
        key = "per_layer" if trace else "end_to_end"
        names = sorted({k for r in list(b.values()) + list(n.values()) for k in (r.get(key) or {})})
        print(f"\n== {wl} ({'per-layer, traced' if trace else 'end-to-end'}) "
              f"base n={len(b)} new n={len(n)}")
        if trace:
            print(f"{'metric':44s} {'base med':>12s} {'new med':>12s} {'delta':>9s}")
        else:
            print(f"{'metric':18s} {'base q1/med/q3':>32s} {'new q1/med/q3':>32s} "
                  f"{'won':>7s} {'change':>8s} {'bound':>6s}")
        for m in names:
            bv = [r[key][m] for r in b.values() if m in (r.get(key) or {})]
            nv = [r[key][m] for r in n.values() if m in (r.get(key) or {})]
            if not bv or not nv:
                print(f"{m}: only on one side (base n={len(bv)}, new n={len(nv)})")
                continue
            bq, nq = quart(bv), quart(nv)
            rel = (nq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
            if trace:
                print(f"{m:44s} {bq[1]:12.4g} {nq[1]:12.4g} {rel:+9.1%}")
                continue
            better, bound = better_of(spec, m)
            won = tot = 0
            for seed in sorted(set(b) & set(n)):
                x, y = b[seed][key].get(m), n[seed][key].get(m)
                if x is None or y is None:
                    continue
                tot += 1
                if (y < x) if better == "lower" else (y > x):
                    won += 1
            print(f"{m:18s} {bq[0]:10.4g}/{bq[1]:10.4g}/{bq[2]:10.4g} "
                  f"{nq[0]:10.4g}/{nq[1]:10.4g}/{nq[2]:10.4g} {won:3d}/{tot:<3d} "
                  f"{rel:+8.1%} {bound if bound is not None else '':>6}")


if __name__ == "__main__":
    main()

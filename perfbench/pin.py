#!/usr/bin/env python3
"""Pin the expected row count and digest of every library entry on the
bundled data (perfbench/data) into perfbench/expected/battery.json.

    python3 perfbench/pin.py [--check]

Runs every SparkEntry entry in two passes of one JVM (the first on an empty
java.io.tmpdir, the second warm, in another order) and a third pass in a
second JVM, and pins an entry only when all three agree. Run it only at a
commit whose results pass the DuckDB oracle on the same data
(graft.Verify on perfbench/data, then tools/oracle_check.py). With
--check it compares instead of writing and exits non-zero on a difference.
"""
import argparse
import json
import os
import random
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import common  # noqa: E402
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true")
    a = ap.parse_args()
    jars, _ = common.build()
    run_dir = os.path.join(common.BUILD, "runs", "pin")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    names = [n for n, _ in run.load_defs(jars, run_dir)]
    rng = random.Random(0)
    orders = []
    for _ in range(3):
        o = list(names)
        rng.shuffle(o)
        orders.append(o)
    args = argparse.Namespace(seconds=1e9, trace=0)  # run every planned pass
    lst = os.path.join(run_dir, "empty.tsv")
    open(lst, "w").close()
    hs = [run.battery_jvm(jars, args, run_dir, "pin1", [("timed", orders[0]), ("timed", orders[1])],
                          False, lst, timeout=900),
          run.battery_jvm(jars, args, run_dir, "pin2", [("timed", orders[2])],
                          False, lst, timeout=900)]
    seen = {}
    for h in hs:
        for p in h["passes"]:
            for o in p["ops"]:
                seen.setdefault(o["name"], []).append(
                    (o["rows"], o["digest"]) if not o["error"] else ("error", o["error"]))
    pinned, unstable = {}, []
    for n in names:
        vals = seen.get(n, [])
        if len(vals) == 3 and len(set(vals)) == 1 and vals[0][0] != "error":
            pinned[n] = {"rows": vals[0][0], "digest": vals[0][1]}
        else:
            unstable.append((n, vals))
    for n, v in unstable:
        print(f"UNSTABLE {n}: {v}", file=sys.stderr)
    path = os.path.join(common.EXPECTED, "battery.json")
    if a.check:
        old = common.read_json(path)
        diff = sorted(k for k in set(old) | set(pinned) if old.get(k) != pinned.get(k))
        for k in diff:
            print(f"DIFF {k}: pinned {old.get(k)} now {pinned.get(k)}")
        sys.exit(1 if diff or unstable else 0)
    os.makedirs(common.EXPECTED, exist_ok=True)
    with open(path, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
    print(f"pinned {len(pinned)} of {len(names)} entries; {len(unstable)} unstable")
    shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(1 if unstable else 0)


if __name__ == "__main__":
    main()

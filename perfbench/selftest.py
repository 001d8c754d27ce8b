#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py [--seed N]

Checks that
  - the digest ignores row order and changes when one value changes;
  - the independent expected-DDL renderer reproduces the FIXTURES golden;
  - battery_warm's cold set-up pass starts from an empty artifact
    directory and leaves more than 0 bytes in it;
  - the timed passes of battery_warm write 0 artifact bytes;
  - in a traced run every Spark job belongs to exactly one op span, lies
    inside it, and every span's self time is >= 0.
Each workload run it makes is a normal run.py run; exits non-zero if any
check failed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import common  # noqa: E402
import fixtures  # noqa: E402
import layers  # noqa: E402

FAILED = []


def check(cond, what):
    print(f"{'ok  ' if cond else 'FAIL'} {what}")
    if not cond:
        FAILED.append(what)


def run_workload(workload, seed, trace, seconds=15):
    r = subprocess.run([sys.executable, os.path.join(common.HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=common.ROOT, capture_output=True, text=True, timeout=400)
    if r.returncode != 0:
        print(r.stderr[-3000:], file=sys.stderr)
        raise SystemExit(f"{workload} run failed")
    result = json.loads(r.stdout.strip().splitlines()[-1])
    rec = common.read_json(os.path.join(
        common.BUILD, "results", f"{workload}-s{seed}-t{trace}.json"))
    return result, rec


def digest_checks(jars):
    d = os.path.join(common.BUILD, "runs", "selftest")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    out = os.path.join(d, "digest.json")
    _, _, rc, _ = common.run_child(
        common.java_cmd(jars, "perfbench.Harness", ["selftest", "--out", out], d), d,
        log_path=os.path.join(d, "jvm.log"))
    check(rc == 0, "digest self-test JVM ran")
    r = common.read_json(out)
    check(r["base"] == r["shuffled"], "digest ignores row order and partitioning")
    check(r["base"] != r["changed"], "digest changes when one value changes")
    check(r["base"] != r["dropped"], "digest changes when one row is dropped")
    check(r["nested_map"] == r["nested_map_shuffled"], "digest handles nested maps")
    check(r["empty"] == "0/0:0", "digest of an empty frame")
    shutil.rmtree(d, ignore_errors=True)


def trace_checks(rec, what):
    spans = common.read_json(os.path.join(common.ROOT, rec["spans_file"]))
    by_id = {s["id"]: s for s in spans}
    jobs = [s for s in spans if s["kind"] == "job"]
    bad = []
    for j in jobs:
        ops, sid = [], j["parent"]
        while sid in by_id:
            if by_id[sid]["kind"] == "op":
                ops.append(by_id[sid])
            sid = by_id[sid]["parent"]
        # listener times are whole milliseconds: allow one either side
        if len(ops) != 1 or not (ops[0]["start_us"] - 1000 <= j["start_us"] and
                                 j["end_us"] <= ops[0]["end_us"] + 1000):
            bad.append(j["id"])
    check(jobs and not bad, f"{what}: all {len(jobs)} Spark jobs inside exactly one op span "
                            f"(outside: {bad[:5]})")
    st = layers.self_times(spans)
    neg = [k for k, v in st.items() if v < 0]
    check(not neg, f"{what}: every self time >= 0 ({len(st)} spans)")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    jars, _ = common.build()
    digest_checks(jars)

    ins = fixtures.all_inputs(common.DATA, os.path.join(common.BUILD, "runs", "selftest_fx"),
                              a.seed)
    ref = [x for x in ins if x[0] == "reference"][0]
    check(ref[4]["legacy"] == fixtures.REFERENCE_GOLDEN, "expected DDL matches FIXTURES golden")
    shutil.rmtree(os.path.join(common.BUILD, "runs", "selftest_fx"), ignore_errors=True)

    res, rec = run_workload("battery_warm", a.seed, 1)
    check(res["correct"], "battery_warm traced run is correct")
    check(rec["start_artifact_bytes"] == 0, "battery_warm starts from an empty artifact dir")
    setup = rec["setup_artifact_bytes"]
    check(setup > 0, f"the cold set-up pass leaves > 0 artifact bytes ({setup})")
    timed = [p["artifact_bytes"] for p in rec["passes"] if p["kind"] == "timed"]
    check(timed and all(b == setup for b in timed),
          f"timed passes write 0 artifact bytes (setup {setup}, timed {timed})")
    trace_checks(rec, "battery_warm")
    check(sorted(rec["per_layer"]) == sorted(layers.names()), "every per-layer metric reported")

    res, rec = run_workload("ddl_cli", a.seed, 1)
    check(res["correct"], "ddl_cli traced run is correct")
    trace_checks(rec, "ddl_cli")
    print(f"\n{len(FAILED)} failed")
    sys.exit(1 if FAILED else 0)


if __name__ == "__main__":
    main()

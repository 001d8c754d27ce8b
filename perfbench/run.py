#!/usr/bin/env python3
"""Benchmark of the Parquet-to-ClickHouse CLI and the query library.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (each a closed loop with one client, one op at a time):
  ddl_cli       three fresh-JVM `graft.chschema.SchemaGen` invocations (the
                wide input in Legacy mode, the nested one and the 200-file
                directory in Extended mode, in a seeded order), then one
                warm JVM calling `SchemaUtils.parquetSchemaToClickHouse` on
                every input in both modes: warm-up rounds, then timed rounds
                for S seconds
  battery_warm  one JVM with an empty java.io.tmpdir: two untimed passes
                over the battery sample (set-up: the cold pass builds every
                artifact, the warm-up pass lets JIT compilation settle),
                then timed passes, each in its own seeded order, for S
                seconds (at least one pass)

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(see BENCHMARK.json). The last stdout line is the result object; the line
before it is the run context. The full record, and the spans of a traced
run, go to .bench_build/results/. Exits non-zero without a result when the
library cannot be built or run.
"""
import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import common  # noqa: E402
import fixtures  # noqa: E402
import layers  # noqa: E402
from common import BenchError, log  # noqa: E402

WORKLOADS = ("ddl_cli", "battery_warm")

# The battery sample: every eighth entry of SparkEntry.allDefs, plus the
# entries that exercise a layer the stride could miss: the four schema ops,
# the three shared streaming runs, and the queries served by the three
# artifact indexes. A full pass over all 189 entries takes about 70 s warm
# and 120 s cold on a 4-core host, which does not fit the run budget.
STRIDE = 8
REQUIRED = ["schema_columns", "ddl_lineitem", "ddl_nested", "ddl_extended",
            "s_tumbling_counts", "s_sliding_value", "s_session",
            "q_minhash_est", "q_knn_graph", "q_neardup_pairs"]
# Invoked through the CLI: one call per generated input, so schema width,
# nesting depth and file count each reach it. The nested input runs in
# Extended mode, which renders every nested ClickHouse type, and so does
# the 200-file one, whose scalar columns then map to Date and DateTime64.
CLI_CALLS = [("wide", "legacy"), ("nested", "extended"), ("multi", "extended")]
WARM_PASSES = 20  # plans written; the run stops when --seconds is used up
# The op tail reported: with 32 ops a pass, the highest percentile that
# keeps at least 10 samples beyond it.
TAIL_Q = 0.7
# Rounds of warm DDL calls over all inputs: untimed warm-up rounds, then
# at least DDL_ROUNDS timed ones. In the DDL-only JVM a call is still
# getting faster after three rounds (JIT compilation of the job path), so
# it warms up longer and keeps timing rounds for --seconds; the battery's
# session is warm from its passes.
CLI_DDL_WARMUP = 4
BATTERY_DDL_WARMUP = 2
DDL_ROUNDS = 2


def battery_sample(defs):
    names = [n for n, _ in defs]
    picked = [n for i, n in enumerate(names) if i % STRIDE == 0]
    return picked + [n for n in REQUIRED if n not in picked]


def load_defs(jars, run_dir):
    path = os.path.join(common.BUILD, "defs.tsv")
    if not os.path.exists(path) or os.path.getmtime(path) < os.path.getmtime(
            os.path.join(common.BUILD, "stamp")):
        _, _, rc, _ = common.run_child(
            common.java_cmd(jars, "perfbench.Harness", ["list", "--out", path], run_dir),
            run_dir, log_path=os.path.join(run_dir, "jvm.log"))
        if rc != 0:
            raise BenchError("harness could not list the library's entries")
    return [tuple(l.split("\t")) for l in open(path).read().splitlines() if l]


def expected_battery():
    return common.read_json(os.path.join(common.EXPECTED, "battery.json"))


# ---- ddl_cli ---------------------------------------------------------------

def ddl_list_file(path, inputs, modes, out_dir):
    with open(path, "w") as f:
        for i, p, table, pk, *_ in inputs:
            for m in modes:
                f.write("\t".join([i, p, table, pk, m, out_dir]) + "\n")


def run_ddl(jars, args, run_dir, rec):
    cpus = common.cpus()
    inputs = fixtures.all_inputs(common.DATA, os.path.join(run_dir, "inputs"), args.seed)
    exp = {(i, m): e[m] for i, _, _, _, e in inputs for m in ("legacy", "extended")}
    pairs = list(CLI_CALLS)
    random.Random(args.seed).shuffle(pairs)
    by_id = {x[0]: x for x in inputs}
    cli_out = os.path.join(run_dir, "cli")
    cli_tmp = os.path.join(run_dir, "cli_tmp")
    os.makedirs(cli_out)
    os.makedirs(cli_tmp)
    env = {"SPARK_MASTER": f"local[{cpus}]"}
    ops, fails = [], []
    for i, m in pairs:
        _, path, table, pk, _ = by_id[i]
        out = os.path.join(cli_out, f"{i}.{m}.sql")
        argv = ["--parquet-path", path, "--clickhouse-schema-path", out,
                "--table-name", table, "--primary-key", pk] + \
            (["--mode", "extended"] if m == "extended" else [])
        start = time.time()
        wall, _, rc, ru = common.run_child(
            common.java_cmd(jars, "graft.chschema.SchemaGen", argv, cli_tmp, harness=False),
            run_dir, env, os.path.join(run_dir, "cli.log"))
        got = open(out).read() if os.path.exists(out) else None
        ok = rc == 0 and got == exp[(i, m)]
        if not ok:
            fails.append(f"cli {i}.{m}: rc={rc}, ddl {'missing' if got is None else 'differs'}")
        ops.append({"input": i, "mode": m, "wall_s": wall, "start": start,
                    "cpu_s": ru.ru_utime + ru.ru_stime, "maxrss_mb": ru.ru_maxrss / 1024.0,
                    "ok": ok})

    # the warm JVM: every input, both modes
    lst = os.path.join(run_dir, "ddl.tsv")
    warm_out = os.path.join(run_dir, "warm")
    os.makedirs(warm_out)
    ddl_list_file(lst, inputs, ("legacy", "extended"), warm_out)
    res_path = os.path.join(run_dir, "ddl.json")
    warm_tmp = os.path.join(run_dir, "warm_tmp")
    os.makedirs(warm_tmp)
    hargs = ["ddl", "--list", lst, "--warmup", str(CLI_DDL_WARMUP), "--rounds", str(DDL_ROUNDS),
             "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", res_path]
    _, launch, rc, _ = common.run_child(
        common.java_cmd(jars, "perfbench.Harness", hargs, warm_tmp),
        run_dir, env, os.path.join(run_dir, "jvm.log"))
    if rc != 0 or not os.path.exists(res_path):
        raise BenchError(f"warm DDL JVM failed (exit {rc}); see {run_dir}/jvm.log")
    h = common.read_json(res_path)
    calls = h["warm"] + h["replay"]
    for c in calls:
        got = open(c["out"]).read() if os.path.exists(c["out"]) else None
        if c["error"] or got != exp[(c["input"], c["mode"])]:
            fails.append(f"warm {c['input']}.{c['mode']}: {c['error'] or 'ddl differs'}")
    # the CLI and the in-process path must agree byte for byte
    for o in ops:
        a = os.path.join(cli_out, f"{o['input']}.{o['mode']}.sql")
        b = os.path.join(warm_out, f"{o['input']}.{o['mode']}.warm.sql")
        if os.path.exists(a) and os.path.exists(b) and open(a).read() != open(b).read():
            fails.append(f"{o['input']}.{o['mode']}: CLI and warm path differ")

    rec["cli_spans"] = [
        {"id": f"c{n}", "parent": 0, "kind": "op", "name": f"cli:{o['input']}.{o['mode']}",
         "module": "cli", "start_us": int(o["start"] * 1e6),
         "end_us": int((o["start"] + o["wall_s"]) * 1e6)} for n, o in enumerate(ops)]
    walls = [o["wall_s"] for o in ops]
    warm_ms = [c["ms"] for c in h["warm"] if c["round"] > CLI_DDL_WARMUP]
    rec["ops"] = ops
    rec["context"].update(h["context"])
    rec["samples"] = {"ops": len(ops), "ddl_warm_calls": len(warm_ms)}
    metrics = {
        "setup_s": h["ready_epoch_ms"] / 1000.0 - launch,
        "total_s": sum(walls),
        "cpu_s": sum(o["cpu_s"] for o in ops),
        "op_p50_s": statistics.median(walls),
        "op_p70_s": common.quantile(walls, TAIL_Q),
        "ddl_warm_p50_ms": statistics.median(warm_ms),
        # peak RSS of one CLI process, the median over the invocations:
        # the largest of four follows the collector's timing in one of them
        "peak_rss_mb": statistics.median(o["maxrss_mb"] for o in ops),
    }
    layer = None
    if args.trace:
        # what the CLI and warm JVMs leave in their tmpdirs
        left = common.tree_bytes(cli_tmp) + common.tree_bytes(warm_tmp)
        layer = layers.ddl_layers(h, left, CLI_DDL_WARMUP)
    return metrics, layer, len(ops) + len(calls), len(fails), fails, h


# ---- battery ---------------------------------------------------------------

def battery_jvm(jars, args, run_dir, tag, plan, traced, ddl_lst, timeout=170):
    tmp = os.path.join(run_dir, f"{tag}_tmp")
    local = os.path.join(run_dir, f"{tag}_local")
    os.makedirs(tmp)
    os.makedirs(local)
    plan_path = os.path.join(run_dir, f"{tag}.plan")
    with open(plan_path, "w") as f:
        for kind, names in plan:
            f.write(f"{kind}\t{','.join(names)}\n")
    out = os.path.join(run_dir, f"{tag}.json")
    hargs = ["battery", "--data", common.DATA, "--tmp", tmp, "--local", local,
             "--plan", plan_path, "--seconds", str(args.seconds), "--trace", str(int(traced)),
             "--ddl-list", ddl_lst, "--warmup", str(BATTERY_DDL_WARMUP),
             "--rounds", str(DDL_ROUNDS), "--out", out]
    _, launch, rc, _ = common.run_child(
        common.java_cmd(jars, "perfbench.Harness", hargs, tmp), run_dir,
        {"SPARK_GRAFT_CPUS": common.cpus()}, os.path.join(run_dir, "jvm.log"), timeout)
    if rc != 0 or not os.path.exists(out):
        raise BenchError(f"battery JVM failed (exit {rc}); see {run_dir}/jvm.log")
    h = common.read_json(out)
    h["launch"] = launch
    return h


def check_ops(h, expected, fails):
    n = 0
    for p in h["passes"]:
        for o in p["ops"]:
            n += 1
            e = expected.get(o["name"])
            if o["error"]:
                fails.append(f"{p['kind']} {o['name']}: {o['error']}")
            elif e is None:
                fails.append(f"{o['name']}: no pinned output")
            elif (o["rows"], o["digest"]) != (e["rows"], e["digest"]):
                fails.append(f"{p['kind']} {o['name']}: rows/digest {o['rows']}/{o['digest']} "
                             f"!= pinned {e['rows']}/{e['digest']}")
    return n


def battery_metrics(h):
    timed = [p for p in h["passes"] if p["kind"] == "timed" and not p["traced"]] or \
        [p for p in h["passes"] if p["kind"] == "timed"]
    walls = [o["wall_s"] for p in timed for o in p["ops"]]
    return {
        "setup_s": h["ready_epoch_ms"] / 1000.0 - h["launch"],
        "total_s": statistics.median(p["wall_s"] for p in timed),
        "cpu_s": statistics.median(p["cpu_s"] for p in timed),
        "op_p50_s": statistics.median(walls),
        "op_p70_s": common.quantile(walls, TAIL_Q),
        "ddl_warm_p50_ms": statistics.median(
            c["ms"] for c in h["ddl_warm"] if c["round"] > BATTERY_DDL_WARMUP),
        "peak_rss_mb": h["peak_rss_mb"],
    }, {"ops": len(walls), "passes": len(timed)}


def run_battery(jars, args, run_dir, rec):
    defs = load_defs(jars, run_dir)
    sample = battery_sample(defs)
    rng = random.Random(args.seed)

    def order():
        o = list(sample)
        rng.shuffle(o)
        return o

    ddl_lst = os.path.join(run_dir, "ddl.tsv")
    ddl_out = os.path.join(run_dir, "ddl_out")
    os.makedirs(ddl_out)
    tables = [(t, os.path.join(common.DATA, f"{t}.parquet"), t, pk)
              for t, pk in fixtures.TABLE_PK.items()]
    ddl_list_file(ddl_lst, tables, ("legacy",), ddl_out)
    exp_ddl = {t: fixtures.expected_ddl(fixtures.arrow_schema(p), t, pk, "legacy")
               for t, p, _, pk in tables}

    # a traced run alternates untraced and traced timed passes, so
    # trace.overhead compares the two arms inside one JVM
    plan = [("cold", order()), ("warmup", order())] + \
        [("timed", order()) for _ in range(WARM_PASSES)]
    h = battery_jvm(jars, args, run_dir, "warm", plan, bool(args.trace), ddl_lst)
    expected = expected_battery()
    fails = []
    attempted = check_ops(h, expected, fails)
    for c in h["ddl_warm"] + h["ddl_replay"]:
        attempted += 1
        got = open(c["out"]).read() if os.path.exists(c["out"]) else None
        if c["error"] or got != exp_ddl[c["input"]]:
            fails.append(f"ddl {c['input']}: {c['error'] or 'ddl differs'}")
    metrics, samples = battery_metrics(h)
    rec["context"].update(h["context"])
    rec["samples"] = samples
    rec["passes"] = [{k: p[k] for k in ("kind", "traced", "wall_s", "cpu_s", "artifact_bytes")}
                     for p in h["passes"]]
    rec["ops"] = [{"pass": n, **{k: o[k] for k in ("name", "module", "wall_s", "construct_s",
                                                   "plan_s", "exec_s")}}
                  for n, p in enumerate(h["passes"]) for o in p["ops"]]
    rec["start_artifact_bytes"] = h["start_artifact_bytes"]
    rec["setup_artifact_bytes"] = h["setup_artifact_bytes"]
    layer = None
    if args.trace:
        layer = layers.battery_layers(h)
        if not layer.pop("_sources_ok", True):
            fails.append("sources probe: served digest differs from built digest")
    return metrics, layer, attempted, len(fails), fails, h


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    jars, source_key = common.build()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(common.BUILD, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    rec = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace,
           "context": {"SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
                       "cpus_used": common.cpus(), "nproc": os.cpu_count(),
                       "heap": common.HEAP, "loadavg_start": common.loadavg(),
                       "cpu_jiffies_start": common.cpu_jiffies(),
                       "git_commit": common.git_commit(), "source_sha1": source_key,
                       "seed": args.seed}}
    if args.workload == "ddl_cli":
        metrics, layer, attempted, failed, fails, h = run_ddl(jars, args, run_dir, rec)
    else:
        metrics, layer, attempted, failed, fails, h = run_battery(jars, args, run_dir, rec)
    rec["context"]["loadavg_end"] = common.loadavg()
    (s0, t0), (s1, t1) = rec["context"].pop("cpu_jiffies_start"), common.cpu_jiffies()
    rec["context"]["steal_pct"] = 100.0 * (s1 - s0) / (t1 - t0) if t1 > t0 else None
    rec["end_to_end"] = metrics
    rec["failures"] = fails
    units = {m["name"]: m["unit"] for m in common.read_json(
        os.path.join(common.ROOT, "BENCHMARK.json"))["end_to_end"]} \
        if os.path.exists(os.path.join(common.ROOT, "BENCHMARK.json")) else {}
    if args.trace:
        rec["per_layer"] = layer
        out_metrics = {k: {"value": v, "unit": layers.unit(k)} for k, v in layer.items()}
        spans = layers.all_spans(h, rec.pop("cli_spans", []))
        spans_path = os.path.join(common.BUILD, "results", f"{run_id}.spans.json")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as f:
            json.dump(spans, f)
        rec["spans_file"] = os.path.relpath(spans_path, common.ROOT)
    else:
        out_metrics = {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()}
    os.makedirs(os.path.join(common.BUILD, "results"), exist_ok=True)
    with open(os.path.join(common.BUILD, "results", f"{run_id}.json"), "w") as f:
        json.dump(rec, f, indent=1)
    for msg in fails[:20]:
        log(f"FAILED {msg}")
    # keep the spans and the record; drop the run's artifacts unless
    # something failed
    if not fails:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"context": rec["context"], "samples": rec.get("samples")}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(str(e))
        sys.exit(2)

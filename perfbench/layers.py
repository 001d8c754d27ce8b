"""Per-layer metrics of a traced run, computed from the harness's spans
and the SparkListener's job and stage records. The layers are the
repository's modules; see BENCHMARK.json for the names."""
import statistics

MODULES = ["Relational", "Battery", "Advanced", "LlmOps", "Curation", "TrainPrep",
           "SourceOps", "StreamingOps", "SchemaQueries"]
INDEXES = ["sigs", "edges", "pairs"]
SHAPES = ["session", "sliding", "tumbling"]
KERNELS = ["shingle", "hash_array", "substr_hash", "bigram_hashes", "token_max_run",
           "sorted_intersect", "minhash_sig", "vec_cosine"]
EXEC = ["cpu_s", "tasks", "shuffle_mb", "spill_mb", "single_task_stages", "straggler_max"]


def names():
    out = ["session.start_s", "session.stop_s", "chschema.footer_ms",
           "chschema.footer_jobs", "chschema.render_ms", "chschema.write_ms"]
    out += [f"queries.{m}.{p}_s" for m in MODULES
            for p in ("cold_construct", "construct", "plan", "exec")]
    out += [f"exec.{m}.{x}" for m in MODULES for x in EXEC]
    out += [f"sources.{i}.{p}_s" for i in INDEXES for p in ("build", "serve")]
    out += ["sources.artifact_files", "artifact_mb"]
    out += [f"streaming.bring_up_s.{s}" for s in SHAPES]
    out += [f"functions.{k}_ns" for k in KERNELS]
    out += ["trace.overhead"]
    return out


def unit(name):
    for suffix, u in (("_ms", "ms"), ("_ns", "ns"), ("_mb", "MB"), ("_s", "s")):
        if name.endswith(suffix):
            return u
    if name.startswith("streaming.bring_up_s."):
        return "s"
    if name.endswith("straggler_max") or name == "trace.overhead":
        return "ratio"
    return "count"


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _span_index(h):
    return {s["id"]: s for s in h["spans"]}


def _ancestor(spans, sid, kind):
    while sid in spans:
        s = spans[sid]
        if s["kind"] == kind:
            return s
        sid = s["parent"]
    return None


def _chschema(h, out):
    spans = _span_index(h)
    dur = {k: [] for k in ("footer", "render", "write")}
    for s in spans.values():
        if s["kind"] in dur:
            dur[s["kind"]].append((s["end_us"] - s["start_us"]) / 1000.0)
    footers = [s["id"] for s in spans.values() if s["kind"] == "footer"]
    jobs_in = {f: 0 for f in footers}
    for j in h["jobs"]:
        if j["span"] in jobs_in:
            jobs_in[j["span"]] += 1
    out["chschema.footer_ms"] = _median(dur["footer"])
    out["chschema.footer_jobs"] = _median(jobs_in.values())
    out["chschema.render_ms"] = _median(dur["render"])
    out["chschema.write_ms"] = _median(dur["write"])


def ddl_layers(h, left_bytes, warmup):
    out = dict.fromkeys(names(), 0.0)
    out["artifact_mb"] = left_bytes / 1e6
    out["session.start_s"] = h["session_start_s"]
    out["session.stop_s"] = h["session_stop_s"]
    _chschema(h, out)
    out["trace.overhead"] = _median(c["ms"] for c in h["replay"] if c["round"] > warmup) / \
        _median(c["ms"] for c in h["warm"] if c["round"] > warmup)
    return out


def battery_layers(h):
    """Per-layer metrics from a traced battery JVM. Per-pass sums are taken
    over the traced timed passes, and their median is reported."""
    out = dict.fromkeys(names(), 0.0)
    out["session.start_s"] = h["session_start_s"]
    out["session.stop_s"] = h["session_stop_s"]
    _chschema(h, out)
    spans = _span_index(h)
    traced = [p for p in h["passes"] if p["kind"] == "timed" and p["traced"]]
    per_pass = []
    for p in traced:
        acc = {}
        for o in p["ops"]:
            for ph in ("construct", "plan", "exec"):
                k = f"queries.{o['module']}.{ph}_s"
                acc[k] = acc.get(k, 0.0) + o[f"{ph}_s"]
        for st in h["stages"]:
            op = _ancestor(spans, st["span"], "op")
            if op is None or _ancestor(spans, op["id"], "pass") is None or \
                    _ancestor(spans, op["id"], "pass")["id"] != p["span"]:
                continue
            m = op["module"]
            add = {"cpu_s": st["cpu_ns"] / 1e9, "tasks": st["tasks"],
                   "shuffle_mb": st["shuffle_write"] / 1e6, "spill_mb": st["spill"] / 1e6,
                   "single_task_stages": 1 if st["tasks"] == 1 else 0}
            for x, v in add.items():
                k = f"exec.{m}.{x}"
                acc[k] = acc.get(k, 0.0) + v
            if st["tasks"] > 1:
                k = f"exec.{m}.straggler_max"
                ratio = st["max_task_ms"] / max(st["median_task_ms"], 1)
                acc[k] = max(acc.get(k, 0.0), ratio)
        acc["sources.artifact_files"] = p["artifact_files"]
        per_pass.append(acc)
    for k in out:
        vals = [a[k] for a in per_pass if k in a]
        if vals:
            out[k] = _median(vals)
    # the first set-up pass is the cold one: empty tmpdir, fresh streaming memo
    for p in h["passes"]:
        if p["kind"] == "cold":
            for o in p["ops"]:
                k = f"queries.{o['module']}.cold_construct_s"
                out[k] += o["construct_s"]
            for shape, v in p["bring_up"].items():
                out[f"streaming.bring_up_s.{shape}"] = v
    sources_ok = True
    for i in INDEXES:
        s = h.get("sources", {}).get(i)
        if s:
            out[f"sources.{i}.build_s"] = s["build_s"]
            out[f"sources.{i}.serve_s"] = s["serve_s"]
            sources_ok &= s["build_digest"] == s["serve_digest"]
    for k, v in h.get("kernels", {}).items():
        out[f"functions.{k}_ns"] = v
    out["trace.overhead"] = _median(p["wall_s"] for p in traced) / _median(
        p["wall_s"] for p in h["passes"] if p["kind"] == "timed" and not p["traced"])
    # bytes left under the run's tmpdir after the timed passes
    out["artifact_mb"] = [p for p in h["passes"] if p["kind"] == "timed"][-1]["artifact_bytes"] / 1e6
    out["_sources_ok"] = sources_ok
    return out


def all_spans(h, extra=()):
    """The run's spans with Spark jobs and stages as child spans:
    run -> pass -> op -> {construct, plan, exec} -> job -> stage."""
    out = [dict(s) for s in h["spans"]] + list(extra)
    stage_job = {}
    for j in h["jobs"]:
        out.append({"id": f"j{j['id']}", "parent": j["span"], "kind": "job",
                    "name": f"job {j['id']}", "module": "", "start_us": j["start_us"],
                    "end_us": j["end_us"]})
        for sid in j["stages"]:
            stage_job.setdefault((sid, j["span"]), f"j{j['id']}")
    for st in h["stages"]:
        out.append({"id": f"s{st['id']}.{st['attempt']}",
                    "parent": stage_job.get((st["id"], st["span"]), st["span"]),
                    "kind": "stage", "name": f"stage {st['id']}", "module": "",
                    "start_us": st["submit_us"], "end_us": st["complete_us"],
                    "tasks": st["tasks"]})
    return out


def self_times(spans):
    """Duration minus the part of the interval that child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    res = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        # children are not clipped to the parent: one that sticks out of
        # its parent's interval shows as a negative self time
        ivs = sorted((c["start_us"], c["end_us"]) for c in kids.get(s["id"], []))
        covered, cur = 0, lo
        for a, b in ivs:
            a = max(a, cur)
            if b > a:
                covered += b - a
                cur = b
        res[s["id"]] = (hi - lo) - covered
    return res

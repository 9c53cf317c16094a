"""Per-layer metrics of one traced process.

Every time is taken over the measured warm passes (those after the
settling ones): the per-pass total, then the median across them (the
`tables.*` build metrics are cold-pass only). `jvm.*` and `codegen.*` are
JVM-wide counters read around each pass: JIT and collector time, and Spark's
codegen compiles (one per codegen cache miss) and their time. A span's self time is its duration minus the time its children
cover; catalog op spans nest construct/plan/execute, so `trace.op_self_s`
is what the three do not cover and `trace.pass_gap_s` what the op spans do
not.
"""
import os
import statistics

ARTIFACT_FAMILIES = [
    "graft_sigstore", "graft_lsh_index", "graft_pq_index", "graft_pqbase",
    "graft_ivf_store", "graft_quantizers", "graft_anntruth", "graft_editpairs",
    "graft_coshare_capped", "graft_fmt"]

# catalog rows whose plan is built on each operator module
OPERATOR_ROWS = {
    "edit_block": {"e2_edit_blocked", "e2_edit_blocked_audit",
                   "e2_edit_candidates", "e2_edit_routed"},
}
QUERY_FAMILIES = ["text", "vector"]
KERNELS = ["shingles", "signatureTable", "simhash", "charCounts", "dot",
           "l2Micros", "lshTableBuckets"]
EXEC_SUMS = ["task_s", "task_cpu_s", "gc_s", "input_bytes", "output_bytes",
             "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_fetch_wait_s",
             "spill_disk_bytes", "jobs", "stages", "tasks"]

# per-pass JVM-wide counters in the record: metric -> record series
JVM_SERIES = {"jvm.jit_s": "pass_jit_s", "jvm.gc_s": "pass_gc_s",
              "codegen.compile_s": "pass_codegen_s",
              "codegen.compiles": "pass_codegen_compiles"}

UNITS = {}
for _s in ("normalize", "features", "summary", "sinks", "collate"):
    UNITS[f"battery.{_s}_s"] = "s"
UNITS["battery.write_bytes_per_input_byte"] = "ratio"
for _f in QUERY_FAMILIES:
    UNITS[f"queries.{_f}_s"] = "s"
for _o in OPERATOR_ROWS:
    UNITS[f"operators.{_o}_s"] = "s"
for _k in KERNELS:
    UNITS[f"functions.{_k}_s"] = "s"
UNITS.update({
    "tables.artifacts_built": "count", "tables.artifacts_served": "count",
    "tables.served_frac": "ratio", "tables.artifact_bytes_written": "bytes",
    "tables.build_s": "s", "tables.warm_artifacts_built": "count",
    "plans.construct_s": "s", "plans.plan_s": "s", "exec.run_s": "s",
    "exec.cpu_util": "ratio", "exec.peak_exec_mem_bytes": "bytes",
    "trace.cold_pass_s": "s", "trace.warm_pass_s": "s",
    "trace.pass_gap_s": "s", "trace.op_self_s": "s", "jvm.peak_rss_mb": "MB",
    "jvm.jit_s": "s", "jvm.gc_s": "s",
    "codegen.compile_s": "s", "codegen.compiles": "count",
})
for _e in EXEC_SUMS:
    UNITS[f"exec.{_e}"] = ("s" if _e.endswith("_s") else
                           "bytes" if _e.endswith("bytes") else "count")


def _du(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def per_layer(rec, manifest, proc_dir, kind, settle):
    spans = {s[0]: s for s in rec["spans"]}
    kids = {}
    for s in rec["spans"]:
        kids.setdefault(s[1], []).append(s)

    def dur(s):
        return s[4] - s[3]

    fam = rec["families"]
    passes = sorted((s for s in spans.values() if s[2].startswith("pass:")),
                    key=lambda s: s[3])
    tasks = rec.get("tasks", {})
    nproc = rec.get("cores") or len(os.sched_getaffinity(0))
    per_pass = []
    for p_idx, p in enumerate(passes):
        ops = [s for s in kids.get(p[0], []) if s[2].startswith("op:")]
        m = {"trace.pass_s": dur(p),
             "trace.pass_gap_s": dur(p) - sum(map(dur, ops))}
        for k in UNITS:
            if k.startswith(("queries.", "operators.", "plans.", "exec.")):
                m[k] = 0.0
        m["trace.op_self_s"] = 0.0
        m["battery.collate_s"] = 0.0
        for op in ops:
            name = op[2][3:]
            d = dur(op)
            if fam.get(name) in QUERY_FAMILIES:
                m[f"queries.{fam[name]}_s"] += d
            for o, rows in OPERATOR_ROWS.items():
                if name in rows:
                    m[f"operators.{o}_s"] += d
            if name == "collate":
                m["battery.collate_s"] += d
            sub = {"construct": "plans.construct_s", "plan": "plans.plan_s",
                   "execute": "exec.run_s"}
            parts = [c for c in kids.get(op[0], []) if c[2] in sub]
            for c in parts:
                m[sub[c[2]]] += dur(c)
            if parts:  # battery ops are one call each, with no parts
                m["trace.op_self_s"] += d - sum(map(dur, parts))
            t = tasks.get(f"{p_idx}/{name}")
            if t:
                for e in EXEC_SUMS:
                    m[f"exec.{e}"] += t[e]
                m["exec.peak_exec_mem_bytes"] = max(
                    m["exec.peak_exec_mem_bytes"], t["peak_exec_mem_bytes"])
        m["exec.cpu_util"] = m["exec.task_cpu_s"] / (dur(p) * nproc)
        per_pass.append(m)

    # the measured warm passes: those after the settling ones
    for p_idx, m in enumerate(per_pass):
        for k, series in JVM_SERIES.items():
            m[k] = rec[series][p_idx]
    warm = per_pass[1 + settle:]
    out = {k: 0.0 for k in UNITS}
    for k in warm[0]:
        if k in out:
            out[k] = statistics.median(m[k] for m in warm)
    out["trace.cold_pass_s"] = per_pass[0]["trace.pass_s"]
    out["trace.warm_pass_s"] = statistics.median(m["trace.pass_s"] for m in warm)

    arts = rec.get("artifacts", [])
    cold = [a for a in arts if a["pass"] == 0]
    warm_arts = [a for a in arts if a["pass"] > 0]
    n_warm = max(1, len(passes) - 1)
    out["tables.artifacts_built"] = float(sum(a["built"] for a in cold))
    out["tables.artifact_bytes_written"] = float(sum(a["bytes"] for a in cold))
    cold_wall = {o["name"]: o["wall_s"] for o in rec["ops"] if o["pass"] == 0}
    out["tables.build_s"] = sum(cold_wall.get(a["op"], 0.0)
                                for a in cold if a["built"])
    served = sum(a["served"] for a in warm_arts)
    built_warm = sum(a["built"] for a in warm_arts)
    out["tables.artifacts_served"] = served / n_warm
    out["tables.warm_artifacts_built"] = float(built_warm)
    out["tables.served_frac"] = (served / (served + built_warm)
                                 if served + built_warm else 0.0)

    out["jvm.peak_rss_mb"] = rec["peak_rss_kb"] / 1024.0
    probes = rec.get("probes", {})
    if kind == "battery":
        for s in ("normalize", "features", "summary", "sinks"):
            out[f"battery.{s}_s"] = probes.get(s, 0.0)
        in_bytes = sum(c["bytes"] for c in manifest["cells"])
        out["battery.write_bytes_per_input_byte"] = (
            _du(os.path.join(proc_dir, "out")) / in_bytes)
    else:
        for k in KERNELS:
            out[f"functions.{k}_s"] = probes.get(k, 0.0)
    return out

#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--record FILE]

Run from the repository root. The run builds the program from `src/main`
(once per source hash, under .bench_build/), generates its inputs from the
seed (cached under .bench_build/, keyed by seed), starts one fresh
local[nproc] JVM, checks the outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones. PROTOCOL.md
describes the workloads, the metrics and the protocol.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # write nothing under the benchmark's own dir
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 150

# One row per e1-e4 family (e2 by its edit-distance row), sized so that a
# run fits the benchmark's budget; PROTOCOL.md says what each row stands for
# and what was left out, and why.
LLM_OPS = [
    "e1_dedup_exact",   # exact dedup
    "e2_edit_blocked",  # EditBlock edit-distance pairs, edit-pair store
    "e3_lsh_store",     # embeddings: LSH index store
    "e4_quality",       # text quality
]
# settle: warm passes run before the measured ones, while the JIT is still
# compiling the driver-side code (their times are recorded, not measured);
# warm_passes: the least number of measured warm passes per run (more while
# the run has been in its warm passes for less than --seconds)
WORKLOADS = {
    "battery_fleet": {"kind": "battery", "settle": 0, "warm_passes": 3},
    "llm_curation": {"kind": "catalog", "mult": 0.1, "ops": LLM_OPS,
                     "tables": ("documents", "embeddings"),
                     "settle": 6, "warm_passes": 14},
}
# set-ups per run: the workload's own JVM, and SETUPS - 1 JVMs before it
# that only set up a session; setup_s is their median
SETUPS = 2
END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
              "rows_per_s": "rows/s"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def heap():
    """The Tier-1 recipe: half of MemTotal in whole GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else spark-submit's home."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or ".", "jars")
    if not os.path.exists(os.path.join(jars, "scala-compiler-2.13.17.jar")):
        fail(f"no Spark 4 / Scala 2.13.17 distribution at {home}")
    return jars


def build():
    """Compile src/main and the benchmark's Scala into a source-keyed dir."""
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(src):
        fail("src/main/scala not found: run from a graft checkout")
    files = sorted(
        os.path.join(d, f)
        for top in (src, os.path.join(HERE, "scala"))
        for d, _, fs in os.walk(top) for f in fs if f.endswith((".scala", ".java")))
    res = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha256()
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(SCRATCH, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".built")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-classpath", tmp, "-d", tmp] + files,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".built"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


ISOLATE = r'''set -e
ck=$1; rt=$2; shift 2
case "$ck" in /tmp/*) mkdir -p "$rt${ck#/tmp}"; mount --bind "$ck" "$rt${ck#/tmp}";; esac
mount --rbind "$rt" /tmp
exec "$@"'''


def isolation():
    """How to give each JVM a private /tmp inside the checkout.

    Tables.persistedArtifactPath roots every build-once artifact at
    /tmp/<family>; a private mount namespace maps /tmp onto the process's
    scratch dir, so nothing is written outside the checkout and each process
    starts with no artifacts. Returns the command prefix, or None."""
    for pre in (["unshare", "-m", "--propagation", "private"],
                ["unshare", "-Urm", "--propagation", "private"]):
        try:
            if subprocess.run(pre + ["true"], stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL, timeout=10).returncode == 0:
                return pre
        except (OSError, subprocess.TimeoutExpired):
            pass
    return None


def launch(classes, args, proc_dir, iso):
    """One fresh JVM with an empty scratch dir; returns its JSON record."""
    shutil.rmtree(proc_dir, ignore_errors=True)
    tmp = os.path.join(proc_dir, "tmp")
    os.makedirs(tmp)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    java = ["java", f"-Xmx{heap()}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={'/tmp' if iso else tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        java += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    out = os.path.join(proc_dir, "record.json")
    java += ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
             "perfbench.PerfBench", "--scratch", proc_dir, "--out", out,
             "--cores", str(nproc())]
    cmd = (iso + ["sh", "-c", ISOLATE, "sh", ROOT, tmp] if iso else []) + java + args
    # set-up time counts from just before the process starts
    cmd += ["--launch-ms", str(int(time.time() * 1000))]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True)

    def stop(signum, _frame):
        p.kill()
        p.wait()
        fail(f"stopped by signal {signum}")
    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, stop)
    try:
        log, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        fail("benchmark JVM timed out")
    if p.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(log[-4000:])
        fail(f"benchmark JVM exited with {p.returncode}")
    with open(out) as f:
        return json.load(f)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def host(classes, rec):
    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True).stdout.strip() or None
    except OSError:
        pass
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return {"commit": commit, "build": os.path.basename(classes),
            "nproc": nproc(), "mem_total_kb": mem_kb, "xmx": heap(),
            "jdk": rec.get("java_version"), "spark": rec.get("spark_version")}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also write the full run record here")
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]
    t_start = time.time()
    load_before = loadavg()
    classes = build()
    t_build = time.time()

    inputs = os.path.join(SCRATCH, "inputs")
    if wl["kind"] == "battery":
        fixture, manifest = gen.ensure(inputs, "battery_fleet", a.seed, None)
        rows = manifest["rows"]
        args = []
    else:
        fixture, manifest = gen.ensure(inputs, "catalog", a.seed, wl["mult"])
        rows = sum(manifest["tables"][t] for t in wl["tables"])
        args = ["--ops", ",".join(wl["ops"])]
    t_gen = time.time()
    iso = isolation()
    if iso is None:
        # no private mount namespace: empty the artifact families in place
        for fam in layers.ARTIFACT_FAMILIES:
            shutil.rmtree(os.path.join("/tmp", fam), ignore_errors=True)

    base = ["--workload", a.workload, "--fixture", fixture,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--warm-passes", str(wl["settle"] + wl["warm_passes"])]
    setups = [launch(classes, base + args + ["--setup-only", "1"],
                     os.path.join(SCRATCH, "setup"), iso)["setup_s"]
              for _ in range(SETUPS - 1)]
    t_setups = time.time()
    proc_dir = os.path.join(SCRATCH, "proc")
    rec = launch(classes, base + args, proc_dir, iso)
    t_jvm = time.time()
    setups.append(rec["setup_s"])

    if wl["kind"] == "battery":
        verdict = checks.check_battery(manifest, rec)
    else:
        verdict = checks.check_catalog(wl["ops"], os.path.join(proc_dir, "check"),
                                       fixture, rec)
    raised = [o for o in rec["ops"] if "error" in o]
    errors = {o["name"] for o in raised}
    bad_checks = {k: v for k, v in verdict.items() if v}
    attempted = len(rec["ops"]) + len(verdict)
    failed = len(raised) + len(bad_checks)

    walls = rec["pass_wall_s"]
    measured = walls[1 + wl["settle"]:]
    warm = statistics.median(measured)
    e2e = {"setup_s": statistics.median(setups), "cold_pass_s": walls[0],
           "warm_pass_s": warm, "rows_per_s": rows / warm}
    load_after = loadavg()
    run = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "host": host(classes, rec),
        "loadavg_before": load_before, "loadavg_after": load_after,
        "load_flag": bool(load_before and load_before[0] > nproc()),
        "tmp_isolated": iso is not None, "input_rows": rows,
        "inputs": manifest,
        "setup_samples_s": setups,
        "pass_wall_s": walls, "settle_passes": wl["settle"],
        "warm_passes": len(measured),
        "failed_frac": failed / attempted, "op_errors": sorted(errors),
        "check_failures": bad_checks, "end_to_end": e2e,
        "peak_rss_mb": rec["peak_rss_kb"] / 1024.0,
        "run_wall_s": time.time() - t_start,
        "phase_s": {"build": t_build - t_start, "inputs": t_gen - t_build,
                    "setups": t_setups - t_gen, "jvm": t_jvm - t_setups,
                    "checks": time.time() - t_jvm},
    }
    for k in ("pass_jit_s", "pass_gc_s", "pass_codegen_s", "pass_codegen_compiles"):
        run[k] = rec[k]
    run["ops"] = rec["ops"]
    if a.trace:
        run["per_layer"] = layers.per_layer(rec, manifest, proc_dir, wl["kind"],
                                            wl["settle"])
    if a.record:
        with open(a.record, "w") as f:
            json.dump(run, f, indent=1)

    print(f"# {a.workload} seed={a.seed} nproc={nproc()} xmx={heap()} "
          f"load={load_before}->{load_after} run_wall={run['run_wall_s']:.1f}s "
          + " ".join(f"{k}={v:.1f}" for k, v in run["phase_s"].items())
          + (" LOAD_ABOVE_NPROC" if run["load_flag"] else ""))
    print(f"#   warm passes: {wl['settle']} settling, then n={len(measured)} "
          f"measured: median={warm:.4f}s max={max(measured):.4f}s")
    for k, v in e2e.items():
        print(f"#   {k} = {v:.6g} {END_TO_END[k]}")
    print(f"#   peak_rss_mb = {run['peak_rss_mb']:.6g} MB")
    print(f"#   failed_frac = {run['failed_frac']:.6g} ratio "
          f"({failed} of {attempted})")
    for k, v in sorted(bad_checks.items()) + [(e, "raised") for e in sorted(errors)]:
        print(f"#   DEFECT {k}: {v}")
    if a.trace:
        metrics = {k: {"value": v, "unit": layers.UNITS[k]}
                   for k, v in run["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()

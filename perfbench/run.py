"""Benchmark entry point: one workload, one seed, one process.

Usage (from the repository root):
  python3 perfbench/run.py --workload wdi_e2e|tpch_sf0.01 --seed N \
      --seconds S --trace 0|1

Builds the program (perfbench/build.py), generates the workload's inputs
from the seed, runs the JVM side (graft.perfbench.Main) in a closed loop
with one client, checks every output (perfbench/checks.py) and prints a
summary followed by one JSON line: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. A traced run also writes its spans to
.bench_traces/. Exits non-zero when a check fails or nothing could run.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import checks  # noqa: E402
import gen_tpch  # noqa: E402

# two task slots: the 4 cores are shared with the driver thread and the JIT
# compiler threads, which at first need about as much as the tasks
CPUS = 2
TPCH_SF = 0.01
WDI_COUNTRIES = 500
DEADLINE_S = 174
# Bench's adjudication lines: foreign cores inside a pass, collector share
EXTERNAL_CORES_LINE = 2.0
GC_SHARE_LINE = 0.3
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
WORKLOADS = ["wdi_e2e", f"tpch_sf{TPCH_SF}"]


def percentile(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def run_jvm(classes, work, args, deadline):
    log = os.path.join(work, "jvm.log")
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(classes), "graft.perfbench.Main"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log) as fh:
            tail = [ln for ln in fh.read().splitlines() if " INFO " not in ln][-30:]
        raise RuntimeError(f"JVM exited with {code}:\n" + "\n".join(tail))


def end_to_end(res, timed):
    queries = [q["s"] for p in timed for q in p["queries"]]
    return {
        "setup_s": (statistics.median(res["setups_s"]), "s"),
        "build_s": (statistics.median(res["builds_s"][1:]), "s"),
        "first_pass_s": (res["passes"][0]["wall_s"], "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in timed), "s"),
        "query_p50_s": (percentile(queries, 0.5), "s"),
        "query_p90_s": (percentile(queries, 0.9), "s"),
    }


def per_layer(res, timed, out_rows):
    traced = [p for p in timed if p["traced"]]
    m = {}

    def med(f):
        return statistics.median(f(p) for p in traced)
    lay = lambda k: med(lambda p: p["layers"][k])  # noqa: E731
    m["driver.plan_ms"] = (lay("plan_ms"), "ms")
    m["driver.jobs"] = (lay("jobs"), "count")
    m["driver.stages"] = (lay("stages"), "count")
    m["driver.tasks"] = (lay("tasks"), "count")
    m["driver.overhead_s"] = (med(lambda p: p["wall_s"] - p["layers"]["stage_busy_ms"] / 1e3), "s")
    m["driver.process_cpu_s"] = (med(lambda p: p["process_cpu_s"]), "s")
    m["exec.run_s"] = (lay("run_ms") / 1e3, "s")
    m["exec.cpu_s"] = (lay("cpu_ns") / 1e9, "s")
    m["exec.gc_s"] = (lay("gc_ms") / 1e3, "s")
    m["exec.core_util"] = (med(lambda p: p["layers"]["cpu_ns"] / 1e9 / (p["wall_s"] * res["cpus"])),
                           "ratio")
    m["exec.peak_mem_bytes"] = (lay("peak_mem"), "B")
    m["shuffle.write_bytes"] = (lay("shuffle_write"), "B")
    m["shuffle.read_bytes"] = (lay("shuffle_read"), "B")
    m["spill.bytes"] = (lay("spill_bytes"), "B")
    m["scan.bytes_read"] = (lay("scan_bytes"), "B")
    m["scan.records_read"] = (lay("scan_records"), "count")
    m["scan.records_per_output_row"] = (
        med(lambda p: p["layers"]["scan_records"] / max(1, out_rows[p["index"]])), "ratio")
    passes = res["passes"]
    m["cache.blocks"] = (res["cache"]["blocks"], "count")
    m["cache.mem_bytes"] = (res["cache"]["mem_bytes"], "B")
    m["cache.disk_bytes"] = (res["cache"]["disk_bytes"], "B")
    m["cache.growth_bytes_per_pass"] = (
        (passes[-1]["cache_bytes"] - passes[0]["cache_bytes"]) / max(1, len(passes) - 1), "B")
    m["pass.external_cores"] = (statistics.median(p["external_cores"] for p in passes), "count")
    m["pass.steal_cores"] = (statistics.median(p["steal_cores"] for p in passes), "count")
    m["pass.gc_share"] = (statistics.median(p["gc_share"] for p in passes), "ratio")
    m["jvm.jit_s"] = (statistics.median(p["jit_s"] for p in timed), "s")
    m["codegen.compiles"] = (statistics.median(p["codegen_compiles"] for p in timed), "count")
    m["codegen.first_pass_compiles"] = (passes[0]["codegen_compiles"], "count")
    units = {"_s": "s", ".s": "s", ".bytes": "B", "_ns_per_series": "ns", "_ns_per_cell": "ns",
             ".overhead": "ratio"}
    samples = {k: len(traced) for k in m}
    samples.update({k: len(passes) for k in m if k.startswith("pass.")})
    samples.update({k: len(timed) for k in ("jvm.jit_s", "codegen.compiles")})
    samples.update({k: 1 for k in m if k.startswith("cache.") and k != "cache.growth_bytes_per_pass"})
    samples["codegen.first_pass_compiles"] = 1
    for k, v in res["probes"].items():
        unit = next((u for suf, u in units.items() if k.endswith(suf)), "count")
        m[k] = (v["value"], unit)
        samples[k] = v["samples"]
    return m, samples


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        classes = build.build()
    except RuntimeError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    deadline = time.time() + DEADLINE_S  # the first run of a checkout also builds

    shutil.rmtree(".bench_work", ignore_errors=True)
    work = os.path.abspath(os.path.join(".bench_work", f"{a.workload}-{a.seed}"))
    os.makedirs(work)
    t0 = time.time()
    tpch_dir = os.path.join(work, "tpch")
    if a.workload.startswith("tpch_"):
        gen_tpch.generate(tpch_dir, a.seed, TPCH_SF)
    tpch_gen_s = time.time() - t0
    spans_file = os.path.abspath(os.path.join(".bench_traces", f"{a.workload}-seed{a.seed}.json"))
    os.makedirs(os.path.dirname(spans_file), exist_ok=True)
    result_file = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--work", work, "--out", result_file,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--seed", str(a.seed),
            "--tpch", tpch_dir, "--countries", str(WDI_COUNTRIES), "--cpus", str(CPUS),
            "--spans", spans_file]
    try:
        run_jvm(classes, work, args, deadline)
    except RuntimeError as e:
        print(e, file=sys.stderr)
        return 1
    with open(result_file) as fh:
        res = json.load(fh)

    if a.workload.startswith("tpch_"):
        made, failed_checks, msgs = checks.check_registry(res, tpch_dir)
        out_rows = {p["index"]: sum(max(0, q["rows"]) for q in p["queries"]) for p in res["passes"]}
    else:
        made, failed_checks, msgs = checks.check_wdi(res, os.path.join(work, "wdi_gen"), a.seed)
        out_rows = checks.wdi_output_rows(res)
    # operations run plus output checks made; failures of either count
    operations = sum(len(p["queries"]) for p in res["passes"])
    attempted = operations + made
    failed_ops = sum(1 for p in res["passes"] for q in p["queries"] if q["error"])
    failed = failed_ops + failed_checks
    for p in res["passes"]:
        for q in p["queries"]:
            if q["error"]:
                msgs.append(f"{q['name']} failed in pass {p['index']}: {q['error']}")
    for msg in msgs[:20]:
        print(f"CHECK FAILED {msg}")

    timed = [p for p in res["passes"] if p["kind"] == "timed"]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: {len(timed)} timed pass(es) "
          f"in {res['timed_s']:.2f} s, {operations} operations ({failed_ops} failed), "
          f"{made} output checks ({failed_checks} failed); constructions "
          + ", ".join(f"{b:.3f}" for b in res["builds_s"]) + " s")
    for p in res["passes"]:
        flags = [f for f, on in (("contended", p["external_cores"] > EXTERNAL_CORES_LINE),
                                 ("gc-bound", p["gc_share"] > GC_SHARE_LINE)) if on]
        print(f"  pass {p['index']} {p['kind']}{' traced' if p['traced'] else ''}: "
              f"{p['wall_s']:.3f} s (process CPU {p['process_cpu_s']:.2f} s, "
              f"JIT {p['jit_s']:.2f} s, {p['codegen_compiles']} codegen compiles), "
              f"external_cores {p['external_cores']:.2f} "
              f"(steal {p['steal_cores']:.2f}), "
              f"gc_share {p['gc_share']:.3f}, cache {p['cache_bytes'] / 2**20:.1f} MB"
              + (f" [{', '.join(flags)}]" if flags else ""))
    # a traced run sets up once and times traced passes: its end-to-end
    # figures are not comparable, so only the untraced run prints them
    e2e = {} if a.trace else end_to_end(res, timed)
    summary = dict(e2e)
    summary["cache_mb"] = (res["cache"]["mem_bytes"] / 2**20 + res["cache"]["disk_bytes"] / 2**20,
                           "MB")
    summary["error_rate"] = (failed / attempted, "ratio")
    summary["setup_cold_s"] = (res["setups_s"][0], "s")  # the first set-up of the process
    summary["jvm_start_s"] = (res["jvm_start_s"], "s")
    summary["gen_s"] = (res["gen_s"] + tpch_gen_s, "s")
    for k, (v, u) in summary.items():
        print(f"  {k} = {v:.6g} {u}")

    if a.trace:
        metrics, samples = per_layer(res, timed, out_rows)
        for k, (v, u) in metrics.items():
            print(f"  {k} = {v:.6g} {u} (n={samples[k]})")
        print(f"  spans written to {os.path.relpath(spans_file)}")
    else:
        metrics = e2e
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    shutil.rmtree(".bench_work", ignore_errors=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

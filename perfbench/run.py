#!/usr/bin/env python3
"""The repository's benchmark. One run of one workload:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

builds the program if its sources changed (perfbench/build.py), makes the
workload's inputs from the seed, runs the workload in one JVM, checks every
output that JVM wrote, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1, the per-layer ones. See perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import manifests  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
WORK_ROOT = os.path.join(ROOT, ".bench_work")
# the fixture tables the catalog queries read, under ~/testdata by default
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
CHECK_SF_DIR = os.environ.get("PERFBENCH_CHECK_SF_DIR",
                              os.path.expanduser("~/testdata/sf0.01"))
TABLE_ROWS = 200_000
MANIFESTS = 8
MANIFEST_ROWS = 3_000
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170
WORKLOADS = ("table_validate", "catalog_profile")

END_TO_END = ["setup_s", "op_p50_ms"]
CATALOG_QUERIES = ["ta_features", "q_taxtree_dist", "ta_keywords",
                   "ta_repetition", "dd_spanrm", "dd_clusters", "v_verdict",
                   "v_violations", "dep_verdict", "q_colstats", "q_unique",
                   "q_ri_lang", "q_drift", "q_suggest"]
COUNTS = ["jobs", "stages", "tasks", "task_cpu_s", "gc_s", "bytes_read",
          "bytes_written", "shuffle_write_bytes", "spill_bytes"]
LAYER_TIMES = [
    "sources.snapshot_plan_ms", "sources.scan_s", "compile.compile_ms",
    "functions.field_states_s", "functions.sha256_s", "engine.violations_s",
    "engine.error_string_s", "engine.count_style_s", "run.parquet_write_s",
    "engine.violation_rows_s", "run.checkpoint_overhead_s", "model.parse_ms",
    "sources.manifest_read_ms", "engine.plan_ms", "engine.count_ms",
    "run.csv_write_ms"]
PER_LAYER = (
    LAYER_TIMES
    + [f"run.{c}" for c in COUNTS] + ["run.jobs_per_partition"]
    + [f"queries.{q}.{m}" for q in CATALOG_QUERIES
       for m in ("full_s", "count_s", "jobs", "shuffle_bytes", "spill_bytes")]
    + ["run.jobs_per_manifest",
       "validate_rows_per_s", "output_bytes_per_input_byte", "manifest_p50_ms",
       "manifest_p90_ms", "catalog_wall_s", "failed_frac",
       "op_cpu_s", "peak_rss_mb", "trace.op_p50_ms", "trace.overhead_ms",
       "host.steal_pct", "host.ext_cores", "host.dirty_samples"])
UNITS = {"_ms": "ms", "_s": "s", "_bytes": "B", "_mb": "MiB"}
SPECIAL_UNITS = {
    "validate_rows_per_s": "rows/s", "output_bytes_per_input_byte": "B/B",
    "failed_frac": "fraction", "host.steal_pct": "%", "host.ext_cores": "cores",
    "run.bytes_read": "B", "run.bytes_written": "B"}


def unit(name):
    if name in SPECIAL_UNITS:
        return SPECIAL_UNITS[name]
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def jvm_command(cp, work, args, extra):
    opens = ["java.base/" + p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in opens:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.BenchMain", "--workload", args.workload,
            "--work", work, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace)]
    for k, v in extra.items():
        cmd += [f"--{k}", str(v)]
    return cmd


def run_jvm(cmd, work):
    """Run the JVM side to completion in its own process group; on timeout
    the whole group is killed and waited for."""
    log = os.path.join(work, "jvm.log")
    with open(log, "wb") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             cwd=work, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also when this process is interrupted
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(log, "rb") as f:
            tail = f.read()[-3000:].decode(errors="replace")
        raise SystemExit(f"JVM side failed ({code}); log tail:\n{tail}")
    with open(result) as f:
        return json.load(f)


def du(path):
    return sum(os.path.getsize(p) for p in
               glob.glob(os.path.join(path, "**", "*"), recursive=True)
               if os.path.isfile(p))


# --- per-workload inputs and checks -----------------------------------------

def prepare(workload, work, seed, trace):
    """Inputs made outside the JVM, the JVM options naming them, and
    the planted verdicts of the manifests a traced `table_validate` runs."""
    if workload == "table_validate":
        if not trace:
            return {"rows": TABLE_ROWS}, None
        d = os.path.join(work, "manifests")
        return ({"rows": TABLE_ROWS, "manifests": d},
                manifests.generate(d, seed, MANIFESTS, MANIFEST_ROWS))
    for d in (SF_DIR, CHECK_SF_DIR):
        if not glob.glob(os.path.join(d, "*.parquet")):
            raise SystemExit(f"no fixture tables in {d}")
    return ({"sf": SF_DIR, "check_sf": CHECK_SF_DIR,
             "queries": ",".join(CATALOG_QUERIES)}, None)


def check(workload, res, expected):
    """Problems per timed operation, in sample order, then per manifest
    CLI call of a traced `table_validate`."""
    samples = res["samples"]
    if workload == "table_validate":
        con = duckdb.connect()
        return ([[s["error"]] if "error" in s else
                 checks.check_table_run(con, s["dir"], res["rows"], res["partitions"])
                 for s in samples]
                + [[s["error"]] if "error" in s else
                   manifests.check_call(s, expected[s["manifest"]])
                   for s in res.get("cli_samples", [])])
    per_query = checks.check_catalog(duckdb.connect(), res["check_sf"],
                                     res["check_dir"])
    return [[s["error"]] if "error" in s else per_query.get(s["query"], ["no check"])
            for s in samples]


# --- metrics ----------------------------------------------------------------

def operations(workload, samples):
    """(wall s, CPU s) per operation. A catalog operation is a pass: the
    sum over its queries, each of which is a sample."""
    ok = [s for s in samples if "error" not in s]
    if workload != "catalog_profile":
        return [(s["wall_s"], s["cpu_s"]) for s in ok]
    passes = {}
    for s in ok:
        w, c = passes.get(s["pass"], (0.0, 0.0))
        passes[s["pass"]] = (w + s["wall_s"], c + s["cpu_s"])
    return [passes[p] for p in sorted(passes)]


def end_to_end(workload, res, setup_s):
    ops = operations(workload, res["samples"])
    if not ops:
        raise SystemExit("no operation completed")
    return {
        "setup_s": setup_s,
        "op_p50_ms": stats.median([w for w, _ in ops]) * 1000,
    }


# listener counters the JVM side reports in other units
_RAW_COUNTS = {"task_cpu_s": ("task_cpu_ns", 1e-9), "gc_s": ("gc_ms", 1e-3)}


def per_layer(workload, res, e2e, failed_frac):
    """Every per-layer metric; a layer the workload does not run reads 0."""
    layers = dict(res["layers"])
    counts = layers.pop("counts", {})
    m = {k: 0.0 for k in PER_LAYER}
    m.update(layers)
    for c in COUNTS:
        key, scale = _RAW_COUNTS.get(c, (c, 1))
        m[f"run.{c}"] = counts.get(key, 0) * scale
    if workload == "table_validate":
        m["run.jobs_per_partition"] = m["run.jobs"] / res["partitions"]
        m["validate_rows_per_s"] = res["rows"] / (e2e["op_p50_ms"] / 1000)
        m["output_bytes_per_input_byte"] = stats.median(
            [du(s["dir"]) for s in res["samples"] if "error" not in s]
        ) / res["input_bytes"]
        cli = [s["wall_s"] for s in res["cli_samples"] if "error" not in s]
        m["manifest_p50_ms"] = stats.median(cli) * 1000
        m["manifest_p90_ms"] = stats.percentile(cli, 90) * 1000
    else:
        m["catalog_wall_s"] = e2e["op_p50_ms"] / 1000
    m["failed_frac"] = failed_frac
    m["op_cpu_s"] = stats.median(
        [c for _, c in operations(workload, res["samples"])])
    m["peak_rss_mb"] = res["peak_rss_mb"]
    m["trace.overhead_ms"] = m["trace.op_p50_ms"] - e2e["op_p50_ms"]
    m["host.steal_pct"] = stats.median([s["steal_pct"] for s in res["samples"]])
    m["host.ext_cores"] = stats.median([s["ext_cores"] for s in res["samples"]])
    m["host.dirty_samples"] = sum(1 for s in res["samples"] if not s["clean"])
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cp = build.ensure()
    t_setup = time.time()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        extra, expected = prepare(args.workload, work, args.seed, args.trace)
        res = run_jvm(jvm_command(cp, work, args, extra), work)
        setup_s = res["first_op_ms"] / 1000 - t_setup
        sys.stderr.write(
            f"setup {setup_s:.2f}s: jvm start {res['jvm_start_ms'] / 1000 - t_setup:.2f}s, "
            f"session {(res['session_ready_ms'] - res['jvm_start_ms']) / 1000:.2f}s, "
            f"prep {res.get('prep_s', 0):.2f}s, warm-up {res['warmup_s']:.2f}s; "
            f"{len(res['samples'])} samples "
            f"{[round(s['wall_s'], 3) for s in res['samples']]} steal "
            f"{[round(s['steal_pct'], 1) for s in res['samples']]}\n")
        problems = check(args.workload, res, expected)
        samples = res["samples"] + res.get("cli_samples", [])
        attempted = len(samples)
        failed = sum(1 for p in problems if p)
        for s, p in zip(samples, problems):
            if p:
                sys.stderr.write(f"failed operation: {p[:3]}\n")
        e2e = end_to_end(args.workload, res, setup_s)
        metrics = (per_layer(args.workload, res, e2e, failed / attempted)
                   if args.trace else e2e)
        # every sample with its host telemetry and check result, kept
        # beside the spans of the last traced run
        keep = os.path.join(WORK_ROOT, "records")
        os.makedirs(keep, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        for s, p in zip(samples, problems):
            s["problems"] = p
        with open(os.path.join(keep, name + ".json"), "w") as f:
            json.dump(dict(res, setup_s=setup_s), f)
        if args.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(keep, f"{args.workload}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()

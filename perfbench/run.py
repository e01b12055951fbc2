"""Benchmark of the vaccination ETL, its country views and a sample of the
query surface.

    python3 perfbench/run.py --workload etl_bulk --seed 1 --seconds 6 --trace 0

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py, cached under
.bench_build/data), runs one JVM that sets up a Spark session once, runs a
loop whose size follows from --seconds and a pass over the query-surface
sample (perfbench/surface.json), checks every output against the
generator's manifest and the recorded surface results, and prints the
metrics. The last line of stdout is one JSON object: {"correct",
"attempted", "failed", "metrics"}. With --trace 0 the metrics are the
end-to-end ones of BENCHMARK.json; with --trace 1 they are the per-layer
ones. The observations of each run, and with --trace 1 its spans and
per-job counters, are kept in .bench_build/traces/.

Exit status: 0 when every output check passed, 1 when one failed (the
result line is still printed), 2 when the run could not be made.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True      # write nothing outside .bench_build

import build  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
BUILD = build.BUILD
CACHED_INPUTS = 4     # generated input sets kept per workload
JVM_TIMEOUT_S = 160   # the whole run must end within 180 s

# Options Spark needs on JDK 17 when started outside spark-submit (the
# same list the program's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def inputs(workload, seed):
    """Generated inputs for (workload, seed), from the cache when present."""
    base = os.path.join(BUILD, "data", workload)
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(base, "%d-%s" % (seed, version))
    if not os.path.exists(os.path.join(path, "manifest.json")):
        # The benchmark's own cost, outside every metric; reported here.
        t0 = time.time()
        tmp = path + ".tmp%d" % os.getpid()
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        sys.stderr.write("inputs generated in %.2f s\n" % (time.time() - t0))
    os.utime(path)
    kept = sorted((os.path.join(base, d) for d in os.listdir(base) if ".tmp" not in d),
                  key=os.path.getmtime, reverse=True)
    for old in kept[CACHED_INPUTS:]:
        shutil.rmtree(old, ignore_errors=True)
    with open(os.path.join(path, "manifest.json")) as f:
        return path, json.load(f)


def die(message):
    sys.stderr.write("benchmark: %s\n" % message)
    sys.exit(2)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def surface_spec(workload, trace):
    """The query-surface sample a run makes: its tables and, per query, the
    registry it belongs to and the row count and row hash it must return.
    An end-to-end run of a workload that has a part of the sample makes
    that part; other runs make all of it."""
    with open(os.path.join(HERE, "surface.json")) as f:
        spec = json.load(f)
    spec["tables"] = os.path.join(HERE, spec["tables"])
    mine = [q for q in spec["queries"] if q["workload"] == workload]
    if mine and not trace:
        spec["queries"] = mine
    return spec


def run_jvm(classpath, workload, data, seconds, trace, work, surface):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", os.pathsep.join(classpath), "graft.perfbench.Main",
            "--workload", workload, "--csv", os.path.join(data, "csv"),
            "--requests", os.path.join(data, "requests.json"),
            "--work", work, "--seconds", str(seconds), "--trace", str(trace),
            "--cpus", str(cpus()), "--tables", surface["tables"],
            "--surface", ",".join(q["query"] for q in surface["queries"])]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)    # it would override spark.local.dir
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("the benchmark JVM ran longer than %d s" % JVM_TIMEOUT_S)
    if code != 0:
        raise RuntimeError("the benchmark JVM exited with code %d" % code)
    with open(os.path.join(work, "observed.json")) as f:
        return json.load(f)


def check_load(load, manifest):
    """Output check of one Pipeline.run; returns a list of mismatches."""
    if load.get("error"):
        return ["load failed: %s" % load["error"]]
    exp = manifest["expected"]
    got = {
        "valid": load["valid"],
        "quarantined": load["quarantined"],
        "dropped": manifest["input_rows"] - load["valid"] - load["quarantined"],
        "countries": load["countries"],
    }
    for k in ("quarantine_by_reason", "view_rows"):     # the run's full check
        if k in load:
            got[k] = load[k]
    bad = ["%s: expected %s, got %s" % (k, exp[k], v) for k, v in got.items() if exp[k] != v]
    views = ["VIEW_" + c for c in exp["countries"]]
    if load["views"] != views:
        bad.append("views: expected %s, got %s" % (views, load["views"]))
    return bad


def check_request(req, manifest, lookup_rows):
    if req.get("error"):
        return ["request failed: %s" % req["error"]]
    if req["kind"] == "scan":
        want = manifest["expected"]["view_rows"].get(req["country"], 0)
    else:
        want = lookup_rows[(req["country"], req["customer"])]
    if req["rows"] != want:
        return ["%s %s %s: expected %d rows, got %d" % (
            req["kind"], req["country"], req.get("customer") or "", want, req["rows"])]
    return []


def check_surface(got, want):
    """Output check of one surface query against its recorded result."""
    if got.get("error"):
        return ["%s failed: %s" % (got["query"], got["error"])]
    bad = ["%s %s: expected %s, got %s" % (got["query"], k, want[k], got[k])
           for k in ("registry", "rows", "hash") if got[k] != want[k]]
    return bad


def percentile(values, q):
    """Linear-interpolated percentile (q in 0..100)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values):
    """p90 when at least ten samples lie beyond it, else the highest
    percentile that has ten beyond it, but not below the median.
    Returns (q, value)."""
    n = len(values)
    q = max(50.0, min(90.0, 100.0 * (n - 10) / n))
    return q, percentile(values, q)


def end_to_end(obs, manifest, workload):
    # etl_*: the loop's loads; views_read: the set-up load that builds its
    # warehouse.
    loads = obs["loads"] if workload.startswith("etl_") else [obs["setup_load"]]
    ok = [ld for ld in loads if not ld.get("error")]
    rows = manifest["input_rows"]
    reqs = [r for r in obs["requests"] if not r.get("error")]
    q, tail = tail_percentile([r["ms"] for r in reqs])
    sys.stderr.write("view requests: %d samples, tail percentile p%.0f\n" % (len(reqs), q))
    return {
        "setup_s": obs["setup_s"],
        "etl_rows_per_s": statistics.median(rows / (ld["ms"] / 1e3) for ld in ok),
        "view_p50_ms": statistics.median(r["ms"] for r in reqs),
        "view_p90_ms": tail,
        "surface_s": obs["surface_s"],
        "warehouse_bytes_per_input_byte": statistics.median(
            ld["warehouse_bytes"] / manifest["input_bytes"] for ld in ok),
        "rows_dropped_share": statistics.median(
            (rows - ld["valid"] - ld["quarantined"]) / rows for ld in ok),
        "heap_retained_mb": obs["heap_retained_mb"],
    }


def overhead_pct(pairs):
    """Median over (untraced, traced) pairs of the traced excess, in %."""
    return 100.0 * statistics.median(b / a - 1 for a, b in pairs)


def per_layer(obs, manifest):
    layers = obs["layers"]
    out = {}
    for key in layers[0]:
        if key != "pipeline.run_ms":
            out[key] = statistics.median(m[key] for m in layers)
    out.update(obs["surface_layers"])
    out["validate.rows_dropped"] = (manifest["input_rows"] - out["validate.rows_valid"]
                                    - out["validate.rows_quarantined"])
    traced = [r for r in obs["requests"] if r.get("traced") and not r.get("error")]
    scans = [r["ms"] for r in traced if r["kind"] == "scan"]
    lookups = [r for r in traced if r["kind"] == "lookup"]
    out["views.scan_ms"] = statistics.median(scans)
    out["views.lookup_ms"] = statistics.median(r["ms"] for r in lookups)
    out["views.rows_read_per_row_returned"] = (
        sum(r["records_read"] for r in lookups) / max(1, sum(r["rows"] for r in lookups)))
    out["views.shuffle_write_mb"] = statistics.mean(
        r["shuffle_write_bytes"] for r in traced) / 1e6
    out["trace.overhead_pct"] = overhead_pct(obs["load_overhead"])
    out["trace.request_overhead_pct"] = overhead_pct(obs["request_overhead"])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        classpath = build.build()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        die("cannot build the program: %s" % e)
    data, manifest = inputs(a.workload, a.seed)
    work = os.path.join(BUILD, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    surface = surface_spec(a.workload, a.trace)
    try:
        obs = run_jvm(classpath, a.workload, data, a.seconds, a.trace, work, surface)
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        name = "%s-%d%s" % (a.workload, a.seed, "-traced" if a.trace else "")
        shutil.copy(os.path.join(work, "observed.json"),
                    os.path.join(traces, name + ".observed.json"))
        if a.trace:
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(traces, name + ".json"))
    except (RuntimeError, OSError, ValueError) as e:
        die(str(e))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lookup_rows = {}
    with open(os.path.join(data, "requests.json")) as f:
        for r in json.load(f):
            if r["kind"] == "lookup":
                lookup_rows[(r["country"], r["customer"])] = r["rows"]
    checks = [check_load(ld, manifest) for ld in [obs["setup_load"]] + obs["loads"]]
    checks += [check_request(r, manifest, lookup_rows) for r in obs["requests"]]
    checks += [check_surface(got, want) for got, want in zip(obs["surface"], surface["queries"])]
    failed = sum(1 for c in checks if c)
    attempted = len(checks)
    for p in [p for c in checks for p in c][:20]:
        sys.stderr.write("OUTPUT CHECK FAILED: %s\n" % p)

    try:
        if a.trace:
            values, listed = per_layer(obs, manifest), spec["per_layer"]
        else:
            values, listed = end_to_end(obs, manifest, a.workload), spec["end_to_end"]
    except statistics.StatisticsError as e:
        die("a metric has no samples (%s; %d of %d operations failed)" % (e, failed, attempted))
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    for k, m in metrics.items():
        print("%-40s %14.6g %s" % (k, m["value"], m["unit"]))
    print("%-40s %14.6g share (%d of %d)" % ("failed_share", failed / attempted,
                                            failed, attempted))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()

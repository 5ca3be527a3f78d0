#!/usr/bin/env python3
"""Benchmark of the Spark weather pipeline and its query engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run compiles the program
(src/main/scala) together with the benchmark (perfbench/src) using the
Scala compiler in Spark's jars (found through SPARK_HOME or
spark-submit on PATH) into .bench_build/; later runs reuse the classes
while the sources are unchanged. Each run starts one JVM with a fresh
temporary, warehouse and state directory, sets up, times the workload's
op sequence, checks every output, and prints a summary followed by one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones, and the spans are written to .bench_build/traces/.
See perfbench/README.md for the workloads and what each metric means.
"""
import argparse
import glob
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
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import weathergen  # noqa: E402

WORKLOADS = ("weather_ticks", "index_maintain", "analytics_serve")
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
             "peak_heap_mb": "MiB"}
JVM_BUDGET_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        fail("Spark jars not found: set SPARK_HOME")
    return jars


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        fail(f"no program sources under {root}/src/main/scala: run from the root of a checkout")
    return prog + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def build(root, jars):
    """Compile program + benchmark once per source content."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".ok")):
        return out
    for old in glob.glob(os.path.join(root, ".bench_build", "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                    "-d", tmp, "-classpath", cp] + files,
                   check=True, stdout=sys.stderr, stdin=subprocess.DEVNULL, timeout=800)
    open(os.path.join(tmp, ".ok"), "w").close()
    os.rename(tmp, out)
    print(f"perfbench: built {len(files)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def run_jvm(classes, jars, args, run_dir):
    """One benchmark JVM; killed (and waited for) past the budget."""
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dsun.net.httpserver.nodelay=true",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_BUDGET_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM ended with {code}")


def oracle_check(root, fixtures, outputs):
    """Names that fail tools/driver_check.py (the DuckDB oracle compare)
    in any of the output directories {dir: [query names]}."""
    tool = os.path.join(root, "tools", "driver_check.py")
    if not os.path.isfile(tool):
        fail(f"{tool} not found")
    bad = set()
    for out_dir, names in outputs.items():
        r = subprocess.run([sys.executable, tool, fixtures, out_dir, ",".join(names)],
                           capture_output=True, text=True, stdin=subprocess.DEVNULL, timeout=120)
        ok = {ln.split()[1].rstrip(":") for ln in r.stdout.splitlines() if ln.startswith("OK ")}
        bad.update(n for n in names if n not in ok)
        for ln in r.stdout.splitlines():
            if ln.startswith("FAIL"):
                print(f"perfbench: oracle {os.path.basename(out_dir)} {ln}", file=sys.stderr)
    return bad


def count_files(path, suffix=".parquet"):
    return sum(1 for _, _, fs in os.walk(path) for f in fs if f.endswith(suffix))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    jars = spark_jars()
    classes = build(root, jars)
    build_dir = os.path.join(root, ".bench_build")
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "warehouse", "local", "out", "state"):
        os.makedirs(os.path.join(run_dir, d))
    fixtures = os.path.join(HERE, "fixtures", "sf0.01")
    out_file = os.path.join(run_dir, "record.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--fixtures", fixtures, "--run-dir", run_dir,
            "--out", out_file]
    try:
        if a.workload == "weather_ticks":
            inputs = os.path.join(run_dir, "weather_inputs.json")
            with open(inputs, "w") as fh:
                json.dump(weathergen.generate(a.seed), fh)
            args += ["--weather-inputs", inputs]
        run_jvm(classes, jars, args, run_dir)
        with open(out_file) as fh:
            rec = json.load(fh)
        bad = oracle_check(root, fixtures, rec["outputs"]) if "outputs" in rec else set()
        facts = count_files(os.path.join(run_dir, "state", "weather_facts"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = rec["ops"]
    failed_ops = [o for o in ops if o["error"] or o["name"] in bad]
    for o in failed_ops:
        print(f"perfbench: failed op {o['name']} (pass {o['pass']}): "
              f"{o['error'] or 'output differs from the DuckDB oracle'}", file=sys.stderr)
    for f in rec["setup_failures"]:
        print(f"perfbench: set-up failed: {f}", file=sys.stderr)
    correct = not failed_ops and not rec["setup_failures"] and not bad
    e2e, tail = metrics.end_to_end(rec)
    line = (f"perfbench {a.workload} seed={a.seed} trace={a.trace}: session {rec['session_s']:.1f} s, "
            f"{len(ops)} ops in {rec['passes']} passes, failed_frac={len(failed_ops) / len(ops):.3f}, "
            f"op_tail_s is p{tail['tail_percentile']} of {tail['samples']} samples")
    if "weather" in rec:
        w = rec["weather"]
        line += (f", {w['locations']} locations, api_requests={rec['http']['api_requests']:.0f}, service latency "
                 f"{w['service_latency_ms']} ms, rate limits {w['geocode_per_sec']:.0f}/"
                 f"{w['weather_per_sec']:.0f} req/s")
    print(line)

    # untraced walls of this build only, for the tracing overhead
    results = os.path.join(build_dir, "results",
                           f"{a.workload}-{os.path.basename(classes).split('-', 1)[1]}.json")
    if a.trace == 0:
        print("  " + "  ".join(f"{k}={v:.4f}" for k, v in e2e.items()))
        walls = []
        if os.path.isfile(results):
            with open(results) as fh:
                walls = json.load(fh)
        os.makedirs(os.path.dirname(results), exist_ok=True)
        with open(results, "w") as fh:
            json.dump((walls + [e2e["wall_s"]])[-20:], fh)
        out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    else:
        layer = metrics.per_layer(rec, facts)
        overhead = None
        if os.path.isfile(results):
            with open(results) as fh:
                overhead = e2e["wall_s"] / statistics.median(json.load(fh))
        print("  tracing overhead (traced wall_s / median untraced wall_s): "
              + (f"{overhead:.3f}" if overhead else "no untraced run of this workload and build yet"))
        trace_file = os.path.join(build_dir, "traces", f"{a.workload}-seed{a.seed}.json")
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        with open(trace_file, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "end_to_end": e2e,
                       "overhead": overhead, "per_layer": layer,
                       "self_time": metrics.self_times(rec["trace"]["spans"]),
                       **rec["trace"]}, fh)
        print(f"  spans written to {os.path.relpath(trace_file, root)}")
        out = {k: {"value": v, "unit": metrics.unit_of(k)} for k, v in layer.items()}
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": len(failed_ops),
                      "metrics": out}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark of the graft engine: CDC ingest and an analytics sample.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads:
  ingest_trickle  1024-event micro-batches over a landed orders snapshot,
                  one current-state read after each batch, then one
                  archive compaction
  analytics       closed-loop executions of a fixed sample of the queries

The script builds the engine and the JVM harness from source (sbt, offline;
the classpath is cached under perfbench/.build keyed by a hash of the
sources), generates the inputs from --seed, runs the harness
(perfbench/src), checks the outputs (analytics results against DuckDB), and
prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics of
a traced run (spans and Spark listeners attached). Any failed check makes
"correct" false and the exit code 1.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout

import datagen  # noqa: E402

# Scale of the generated tables per workload, and how many times setup is
# repeated in one run (setup_s is the median).
WORKLOADS = {
    "ingest_trickle": {"sf": 0.02, "tables": ["orders"], "setups": 2},
    "analytics": {"sf": 0.001, "tables": datagen.ALL, "setups": 2},
}
JVM_HEAP = "2g"
DEADLINE_S = 170

# The metrics BENCHMARK.json declares: end-to-end (--trace 0) and
# per-layer (--trace 1), each with its unit.
END_TO_END = {
    "setup_s": "s",
    "op_latency_ms": "ms",
    "throughput_per_s": "1/s",
    "live_heap_mb": "MB",
}
PER_LAYER = {
    "self.graft_ms": "ms",
    "self.spark_ms": "ms",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "codegen.classes": "count",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "setup.session_ms": "ms",
    "setup.datagen_ms": "ms",
    "setup.warmup_ms": "ms",
    "host.cpu_busy_share": "share",
    "host.steal_share": "share",
    "jvm.gc_ms": "ms",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_share": "share",
}
# Units of the workload-specific figures printed in the report.
REPORT_UNITS = {
    "ingest_events_per_s": "1/s", "queries_per_s": "1/s", "state_space_amp": "x",
    "error_rate": "share", "peak_rss_mb": "MB", "live_heap_mb": "MB", "setup_s": "s",
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources under {ROOT} (expected build.sbt and src/main/scala/graft)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    cache = os.path.join(HERE, ".build")
    cp_file = os.path.join(cache, f"classpath-{source_stamp()}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            cp = fh.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g",
            "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt, offline)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(f"build failed (exit {p.returncode})")
    for old in os.listdir(cache):
        if old.startswith("classpath-"):
            os.remove(os.path.join(cache, old))
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    log(f"built in {time.time() - t0:.1f}s")
    return lines[-1]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def generate(workload, seed, input_dir):
    """Tables per setup repetition (same seed, so the same data), timed."""
    spec = WORKLOADS[workload]
    times, sizes = [], None
    for rep in range(spec["setups"]):
        t0 = time.perf_counter()
        sizes = datagen.write(os.path.join(input_dir, f"rep{rep}"), spec["sf"], seed,
                              spec["tables"])
        times.append((time.perf_counter() - t0) * 1000.0)
    with open(os.path.join(input_dir, "datagen_ms.txt"), "w") as fh:
        fh.write("\n".join(f"{t:.3f}" for t in times) + "\n")
    return sizes


def run_jvm(cp, workload, input_dir, work_dir, seconds, trace, seed, deadline):
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: heap growth and first-touch page faults
    # would otherwise slow the first batches after every start
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", workload, input_dir, work_dir,
              str(seconds), str(trace), str(seed), str(cores())])
    log_path = os.path.join(work_dir, "jvm.log")
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=work_dir, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    return rc, log_path


def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def duckdb_check(input_dir, work_dir):
    """Each sampled query with an oracle must equal DuckDB on the same
    parquet (normalized as the repository's oracle gate does)."""
    import duckdb
    import pandas as pd
    results = []
    with open(os.path.join(work_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh) or {}
    if isinstance(oracle, list):
        oracle = {}
    con = duckdb.connect()
    data = os.path.join(input_dir, "rep0")
    for t in datagen.ALL:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    for name in sorted(oracle):
        d = os.path.join(work_dir, "results", name)
        try:
            got = normalize(pd.read_parquet(d))
            exp = normalize(con.sql(oracle[name]).df())
            pd.testing.assert_frame_equal(got, exp, check_dtype=True, check_exact=True)
            results.append((f"{name} == DuckDB", True, ""))
        except Exception as e:  # mismatch, oracle error or missing output
            results.append((f"{name} == DuckDB", False, str(e)[:300]))
    return results


def fmt(v):
    return "null" if v is None or (isinstance(v, float) and not math.isfinite(v)) else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S

    cp = build()
    deadline = max(deadline, time.time() + 150)  # the first run also builds
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    os.makedirs(input_dir)
    try:
        t0 = time.time()
        sizes = generate(a.workload, a.seed, input_dir)
        log(f"inputs generated in {time.time() - t0:.1f}s")
        t0 = time.time()
        rc, log_path = run_jvm(cp, a.workload, input_dir, work, a.seconds, a.trace,
                               a.seed, deadline)
        res_path = os.path.join(work, "result.json")
        if rc is None or not os.path.isfile(res_path):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail("harness timed out" if rc is None else f"harness exited {rc} without a result")
        log(f"harness ran for {time.time() - t0:.1f}s (exit {rc})")
        with open(res_path) as fh:
            res = json.load(fh)
        checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        if a.workload == "analytics":
            checks += duckdb_check(input_dir, work)
        report_dir = os.path.join(HERE, ".out")
        os.makedirs(report_dir, exist_ok=True)
        if a.trace and os.path.isfile(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
                report_dir, f"spans-{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    jvm_checks = len(res["checks"])
    attempted = int(res["attempted"]) + len(checks) - jvm_checks
    failed = sum(1 for c in checks if not c[1])
    e2e = dict(res["e2e"] or {})
    layer = dict(res["layer"] or {})
    facts = dict(res["facts"] or {})
    facts["table_rows"] = sizes
    facts["scale_factor"] = WORKLOADS[a.workload]["sf"]

    declared = PER_LAYER if a.trace else END_TO_END
    source = layer if a.trace else e2e
    metrics = {}
    for name, unit in declared.items():
        v = source.get(name)
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            checks.append((f"metric {name} measured", False, f"value {v}"))
            failed += 1
            attempted += 1
            continue
        metrics[name] = {"value": v, "unit": unit}

    e2e["error_rate"] = failed / attempted if attempted else 1.0
    for name, ok, detail in checks:
        if not ok:
            log(f"FAILED {name}: {detail}")
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "end_to_end": e2e, "per_layer": layer, "facts": facts,
              "failed_checks": [c[0] for c in checks if not c[1]]}
    with open(os.path.join(HERE, ".out", f"report-{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(f"# {a.workload} seed={a.seed} trace={a.trace} "
          f"noisy={facts.get('noisy')} (steal share > {facts.get('steal_threshold')})")
    for k in sorted(e2e):
        print(f"#   {k} = {fmt(e2e[k])} {REPORT_UNITS.get(k, 'ms' if k.endswith('_ms') else '')}")
    if a.trace:
        for k in sorted(layer):
            print(f"#   layer {k} = {fmt(layer[k])}")
    correct = failed == 0
    sys.stderr.flush()
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

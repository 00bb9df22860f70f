#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the repository root):
    python3 perfbench/run.py --workload ann_dedup --seed 1 --seconds 15 --trace 0

Steps: build the program together with the benchmark runner (sbt, once
per source state); lay out the workload's input tables from the sf0.1
test data copied under `perfbench/data`; run the closed-loop runner
(`perfbench.Main`) in one JVM; check the
warm-up output of every registered query against the DuckDB oracle
(`tools/oracle_check.py`); print the result. With `--trace 0` the
metrics are the end-to-end ones of BENCHMARK.json, with `--trace 1`
the per-layer ones. Every op is appended to
`.bench_work/<run>/ops.jsonl` as it ends, and `result.json` beside it
holds the full record, host context included.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170

DATA = os.path.join(HERE, "data")
# The tables each workload reads, copied from `data/`
TABLES = {
    "ann_dedup": ("documents", "embeddings"),
    "io_roundtrip": ("lineitem",),
}
# tools/oracle_check.py opens a view on each of these
ORACLE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns (runtime classpath, whether
    this call built)."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and
             os.pathsep in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip(), True


def make_fixture(workload, out):
    """Writes the workload's input tables to `out`. Tables the workload
    does not read are empty stand-ins, so that the oracle check can open
    its fixed list of views."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out, exist_ok=True)
    for t in ORACLE_TABLES:
        dst = os.path.join(out, f"{t}.parquet")
        if t in TABLES[workload]:
            shutil.copyfile(os.path.join(DATA, f"{t}.parquet"), dst)
        else:
            pq.write_table(pa.table({"unused": pa.array([], pa.int32())}), dst)


def host_context():
    """Load average and cumulative cpu, iowait and steal jiffies."""
    ctx = {}
    try:
        with open("/proc/loadavg") as f:
            ctx["loadavg"] = [float(x) for x in f.read().split()[:3]]
        with open("/proc/stat") as f:
            cpu = [int(x) for x in f.readline().split()[1:]]
        ctx["jiffies"] = {"total": sum(cpu), "iowait": cpu[4],
                          "steal": cpu[7] if len(cpu) > 7 else 0}
    except OSError:
        pass
    return ctx


def host_delta(a, b):
    ja, jb = a.get("jiffies"), b.get("jiffies")
    if not ja or not jb or jb["total"] == ja["total"]:
        return {}
    t = jb["total"] - ja["total"]
    return {"iowait_frac": (jb["iowait"] - ja["iowait"]) / t,
            "steal_frac": (jb["steal"] - ja["steal"]) / t}


def oracle_check(fixture, dumps):
    """Runs tools/oracle_check.py on the dumped warm-up outputs; returns
    (checked, failed names)."""
    if not os.path.exists(os.path.join(dumps, "oracle_sql.json")):
        return 0, []
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tools", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        mod.main(fixture, dumps)
    lines = out.getvalue().splitlines()
    for l in lines:
        if l.startswith("✗"):
            print(f"perfbench: oracle {l}", file=sys.stderr)
    bad = [l.split()[1].rstrip(":") for l in lines if l.startswith("✗")]
    checked = sum(1 for l in lines if l.startswith(("✓", "✗")))
    return checked, bad


def run_jvm(cp, args, work, deadline):
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
            "-cp", cp, "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "oracle_check.py")):
        fail("program sources not found beside perfbench/")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in TABLES:
        fail(f"unknown workload {a.workload}")
    bound = max(m["bound"] for m in spec["end_to_end"])

    cp, built = build()
    # a run that had to build first gets its full budget after the build
    deadline = (time.time() if built else t_start) + DEADLINE_S

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    fixture = os.path.join(work, "fixture")
    t0 = time.time()
    make_fixture(a.workload, fixture)
    fixture_s = time.time() - t0

    host0 = host_context()
    t_jvm = time.time()
    rc = run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                      fixture, work], work, deadline)
    jvm_s = time.time() - t_jvm
    host1 = host_context()
    summary_path = os.path.join(work, "summary.json")
    if rc != 0 or not os.path.exists(summary_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"runner exited with {rc}")
    with open(summary_path) as f:
        s = json.load(f)

    t_oracle = time.time()
    checked, oracle_bad = oracle_check(fixture, os.path.join(work, "oracle"))
    oracle_s = time.time() - t_oracle
    # timed ops, warm-up ops with the set-up checks, and oracle checks
    attempted = s["attempted"] + s["warm_attempted"] + checked
    failed = s["failed"] + s["warm_failures"] + len(oracle_bad)

    if a.trace:
        layers = s["layers"]
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = {"setup_s": s["setup_s"], "ops_per_min": s["ops_per_min"],
                  "op_p50_s": s["op_p50_s"], "op_tail_s": s["op_tail_s"]}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    probe_moved = (abs(s["probe_after_s"] / s["probe_before_s"] - 1)
                   if s["probe_before_s"] > 0 else 0.0)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    record = dict(result, workload=a.workload, seed=a.seed, seconds=a.seconds,
                  trace=a.trace, tables=TABLES[a.workload],
                  fixture_s=fixture_s, jvm_s=jvm_s, oracle_s=oracle_s,
                  total_s=time.time() - t_start, summary=s, oracle_checked=checked,
                  oracle_failed=oracle_bad,
                  host={"before": host0, "after": host1, **host_delta(host0, host1),
                        "probe_before_s": s["probe_before_s"],
                        "probe_after_s": s["probe_after_s"],
                        "probe_moved_frac": probe_moved,
                        "weather": probe_moved > bound})
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(record, f, indent=1)
    if probe_moved > bound:
        print(f"perfbench: cpu probe moved {probe_moved:.0%} during the run "
              f"({s['probe_before_s']:.2f} s -> {s['probe_after_s']:.2f} s)",
              file=sys.stderr)
    for d in ("fixture", "spark-local", "tmp", "derby", "io", "oracle",
              "stream-in", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload migrate_sqlite --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a source tree. The first run compiles the library
and the harness (`perfbench/harness`) with the Scala compiler among the
jars the root build uses, into `.bench_build/perfbench/classes`; later
runs rebuild only when a source file changed. Each run generates
its inputs from the seed, runs `perfbench.Harness` (set-up, a timed
closed loop, outputs), checks the outputs, and prints one JSON object as
its last line: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1` (see BENCHMARK.json and perfbench/README.md).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("migrate_sqlite", "query_mix")
# Scale factor of each workload's input; the query workload warms up on
# a tenth of it. A migration is about 45 Spark jobs whatever the size, so
# its input is kept small enough for several migrations per run.
SF = {"migrate_sqlite": 0.005, "query_mix": 0.01}
WARM_SCALE = 0.1
JVM_HEAP = "2g"
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 150
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    exe = exe if exe and os.access(exe, os.X_OK) else shutil.which("java")
    if not exe:
        fail("no java: set JAVA_HOME or put java on PATH")
    return exe


def spark_jars():
    """The jar directory the root build compiles against (its
    `unmanagedBase`), else `$SPARK_HOME/jars`."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = m.group(1) if m else os.path.join(
        os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark/Scala jars in {jars!r}")
    return jars


def sources():
    """The library's main sources and the harness's, relative to ROOT."""
    out = []
    for base in (os.path.join("src", "main", "scala"),
                 os.path.join("perfbench", "harness", "src", "main",
                              "scala")):
        for d, _, names in os.walk(os.path.join(ROOT, base)):
            out += [os.path.relpath(os.path.join(d, n), ROOT)
                    for n in names if n.endswith((".scala", ".java"))]
    return sorted(out)


def source_stamp(srcs, jars):
    """Hash of every file the build reads, so edits trigger a rebuild."""
    h = hashlib.sha256(jars.encode())
    res = os.path.join(ROOT, "src", "main", "resources")
    for d, _, names in os.walk(res):
        srcs = srcs + [os.path.relpath(os.path.join(d, n), ROOT)
                       for n in names]
    for f in sorted(srcs):
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compiles the library and the harness with the Scala compiler from
    the root build's jars (once per source state, into
    `.bench_build/perfbench/classes`); returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala",
                                       "graft", "SparkEntry.scala")):
        fail("run from the root of a graft source tree (no sources here)")
    os.makedirs(STATE, exist_ok=True)
    jars = spark_jars()
    classes = os.path.join(STATE, "classes")
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main",
                                                "resources"),
                          os.path.join(jars, "*")])
    srcs = sources()
    stamp = source_stamp(srcs, jars)
    stamp_file = os.path.join(STATE, "stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp
    shutil.rmtree(classes, ignore_errors=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    fresh = classes + ".tmp"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    args = os.path.join(STATE, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                 "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                 "-d", fresh, f"@{args}"], cwd=ROOT, stdout=out,
                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_TIMEOUT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
    if rc != 0:
        with open(log) as f:
            fail(f"build failed (exit {rc}):\n{f.read()[-3000:]}")
    os.rename(fresh, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_harness(cp, workload, inp, warm, work, seconds, seed, trace):
    cmd = [java(), f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}", f"-Dspark.local.dir={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", workload, inp, warm, work,
            str(seconds), str(seed), str(trace)]
    # Spark binds to the loopback interface, whatever the host name
    # resolves to.
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_HOSTNAME="localhost")
    log = os.path.join(work, "harness.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(result):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"harness failed ({rc}):\n{tail}")
    with open(result) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """The q-quantile and how many samples lie above it."""
    s = sorted(xs)
    if not s:
        return 0.0, 0
    v = s[min(len(s) - 1, int(q * len(s)))]
    return v, sum(1 for x in s if x > v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops the JVM it started (see run_harness)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    cp = classpath()
    work = os.path.join(STATE, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inp, warm = prepare(a.workload, a.seed, work)
        r = run_harness(cp, a.workload, inp, warm, work, a.seconds, a.seed,
                        a.trace)
        result = report(a.workload, r, evaluate(a.workload, r, inp, work),
                        inp, a.trace)
    finally:
        keep = os.path.join(work, "trace.json")
        if os.path.isfile(keep):
            shutil.copy(keep, os.path.join(
                STATE, f"trace-{a.workload}-{a.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def prepare(workload, seed, work):
    """Generate the run's inputs; returns (input, warm-up input)."""
    tabs = gen.tables(seed, SF[workload])
    if workload == "migrate_sqlite":
        inp = os.path.join(work, "source.db")
        gen.write_sqlite(tabs, inp, seed)
        print(f"input sqlite seed={seed} sha256={gen.sqlite_checksum(inp)}"
              f" bytes={os.path.getsize(inp)}")
        return inp, inp
    inp, warm = os.path.join(work, "data"), os.path.join(work, "warm")
    gen.write_parquet(tabs, inp)
    gen.write_parquet(gen.tables(seed, SF[workload] * WARM_SCALE), warm)
    print(f"input parquet seed={seed} "
          f"rows={ {t: tabs[t].num_rows for t in gen.TABLES} }")
    return inp, warm


def evaluate(workload, r, inp, work):
    """Check the outputs the last timed pass left; count failed
    operations: those that threw and those whose output is wrong."""
    out = os.path.join(work, "out")
    fidelity = []
    if workload == "migrate_sqlite":
        wrong, fidelity, checked = checks.check_migration(inp, out,
                                                          r["reports"])
        print(f"check migration: {checked} columns compared, "
              f"{len(wrong)} wrong {sorted(wrong.items())[:8]}")
        print(f"fidelity mismatches: {fidelity}")
        wrong_ops = {"migrate"} if wrong else set()
    else:
        wrong = checks.check_gates(out, os.path.join(work, "oracles.json"),
                                   inp)
        print(f"check gates: wrong {wrong}")
        wrong_ops = set(wrong)
    samples = r["samples"]
    for s in [s for s in samples if s["error"]][:5]:
        print(f"op failed: {s['op']}: {s['error'][:300]}")
    failed = sum(1 for s in samples if s["error"] or s["op"] in wrong_ops)
    return {"wrong": wrong, "fidelity": fidelity, "attempted": len(samples),
            "failed": failed}


def report(workload, r, ev, inp, trace):
    """Print the workload's figures; return the result object."""
    ok = [s for s in r["samples"] if not s["error"]]
    per_op = {}
    for s in ok:
        per_op.setdefault(s["op"], []).append(s["s"])
    op_p50 = {k: median(v) for k, v in sorted(per_op.items())}
    e2e = {
        "setup_s": (median(r["setup_s"]), "s"),
        "ops_per_s": (len(ok) / r["window_s"], "1/s"),
        # each operation's median latency, geometric mean over operations
        "op_p50_s": (math.exp(statistics.fmean(
            math.log(v) for v in op_p50.values())) if op_p50 else 0.0, "s"),
        "peak_rss_mb": (r["peak_rss_kb"] / 1024.0, "MB"),
    }
    info = {"failed_ratio": ev["failed"] / ev["attempted"],
            "samples": len(ok), "window_s": r["window_s"],
            "setup_runs_s": r["setup_s"], "phases_s": r["phases"],
            "cold_pass_s": sum(s["s"] for s in r["warmup"][0]),
            "op_p50_s": op_p50,
            "op_samples": {k: len(v) for k, v in sorted(per_op.items())}}
    lat = [s["s"] for s in ok]
    if workload == "migrate_sqlite":
        staged = sum(os.path.getsize(f) for f in glob.glob(os.path.join(
            os.path.dirname(inp), "out", "*", "*.parquet")))
        info.update({
            "migrate_rows_per_s": sum(s["rows"] for s in ok) / r["window_s"],
            "staged_bytes_per_source_byte": staged / os.path.getsize(inp),
            "fidelity_mismatch_columns": len(ev["fidelity"])})
    else:
        p90, above = quantile(lat, 0.9)
        info.update({"qps": len(ok) / r["window_s"], "p50_s": median(lat),
                     "p90_s": p90, "samples_above_p90": above})
    print("end-to-end: " + json.dumps(
        {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}))
    print(f"{workload}: " + json.dumps(info))
    if trace:
        metrics = layer_metrics(workload, r, ev["fidelity"], inp)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {"correct": ev["failed"] == 0 and not ev["wrong"],
            "attempted": ev["attempted"], "failed": ev["failed"],
            "metrics": metrics}


def layer_metrics(workload, r, fidelity, inp):
    """Every per-layer metric BENCHMARK.json names; a layer the workload
    does not run reads 0."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer"]
    got = dict(r["layers"])
    traced = [p["s"] for p in r["pass_s"] if p["traced"]]
    plain = [p["s"] for p in r["pass_s"] if not p["traced"]]
    if traced and plain:
        got["trace.overhead_ratio"] = median(traced) / median(plain) - 1.0
    if workload == "migrate_sqlite":
        ok = [s for s in r["samples"] if not s["error"]]
        rows = median([s["rows"] for s in ok])
        read_s = got.get("sources.SqliteFile.read_s", 0.0)
        got["sources.SqliteFile.read_rows_per_s"] = \
            rows / read_s if read_s else 0.0
        got["functions.Coercions.fidelity_mismatch_columns"] = len(fidelity)
        got["sinks.staged_bytes_per_source_byte"] = \
            got.get("sinks.parquet_write_bytes", 0.0) / os.path.getsize(inp)
    return {m["name"]: {"value": float(got.get(m["name"], 0.0)),
                        "unit": m["unit"]} for m in spec}


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Build the engine from source and run one benchmark workload.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The engine (src/main/scala) and the
benchmark (perfbench/src) are compiled with the Scala compiler that ships
in Spark's jar directory ($SPARK_HOME/jars); classes are cached under
perfbench/.build and rebuilt when a source changes. Each run works in its
own directory under perfbench/.work, removed at the end; the traced run's
spans are kept in perfbench/.out.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). The line before it carries the run's stamp
and detail. Exits non-zero, without a result, when anything is missing or
the run breaks.
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
BUILD = os.path.join(HERE, ".build")
RUN_TIMEOUT_S = 170
HEAP = "3g"
WORKLOADS = ("ingest", "curate")

# Spark on JDK 17 needs these outside spark-submit (the list Spark's
# launcher injects).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        sub = shutil.which("spark-submit")
        if sub:
            home = os.path.dirname(os.path.dirname(os.path.realpath(sub)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark jar directory (set SPARK_HOME)")
    return jars


def compile_tree(name, files, classpath, stamp):
    """Compile `files` into .build/<name> unless its stamp already matches."""
    out = os.path.join(BUILD, name)
    stamp_file = os.path.join(BUILD, name + ".stamp")
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", classpath,
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"compiling {name} failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built {name} in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def build():
    main_src = os.path.join(ROOT, "src", "main", "scala")
    bench_src = os.path.join(HERE, "src")
    resources = os.path.join(ROOT, "src", "main", "resources")
    engine = sources(main_src)
    bench = sources(bench_src)
    if not engine:
        fail("no engine sources under src/main/scala (run from a checkout)")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    jars = spark_jars()
    jar_cp = os.path.join(jars, "*")
    os.makedirs(BUILD, exist_ok=True)
    engine_stamp = digest(engine)
    engine_out = compile_tree("engine", engine, jar_cp, engine_stamp)
    bench_out = compile_tree("bench", bench, engine_out + os.pathsep + jar_cp,
                             digest(bench, engine_stamp))
    cp = [bench_out, engine_out]
    if os.path.isdir(resources):
        cp.append(resources)
    return os.pathsep.join(cp + [jar_cp]), engine_stamp


def git_sha():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def java_cmd(cp, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    log = os.path.join(HERE, "log4j2.properties")
    return (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={log}"] + opens +
            ["-cp", cp, main] + args)


def run_jvm(cmd, work):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, env=env, cwd=work)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        fail(f"stopped by signal {signum}")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    return proc.returncode, out


def expected_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    try:
        with open(path) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    return {m["name"]: m["unit"] for m in
            spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None
                           or a.seconds is None or a.seconds <= 0):
        ap.error("--workload, --seed and --seconds are required")
    want = None if a.selftest else expected_metrics(a.trace)

    cp, engine_stamp = build()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.selftest:
            code, out = run_jvm(java_cmd(cp, work, "perfbench.SelfTest", []), work)
            sys.stdout.write(out)
            sys.exit(code)
        code, out = run_jvm(java_cmd(cp, work, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work]), work)
        lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
        if code != 0 or not lines:
            fail(f"run exited {code} without a result")
        res = json.loads(lines[-1][len("PERFBENCH "):])
        if a.trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                keep = os.path.join(HERE, ".out")
                os.makedirs(keep, exist_ok=True)
                shutil.copy(spans, os.path.join(
                    keep, f"spans-{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    if set(metrics) != set(want):
        fail(f"metric set differs from BENCHMARK.json: {sorted(set(metrics) ^ set(want))}")
    for k, m in metrics.items():
        v = m["value"]
        if m["unit"] != want[k]:
            fail(f"{k}: unit {m['unit']} != {want[k]}")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"{k}: no finite value ({v})")
    detail = res.get("detail", {})
    detail.update(git_sha=git_sha(), engine_sources_sha256=engine_stamp)
    print("perfbench detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

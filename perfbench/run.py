#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload etl_queries --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark driver with sbt (once per source
state; the build lives in perfbench/target/), generates the input tables
(once), then starts one JVM that sets up the workload, runs its timed
closed loop and checks its outputs. Prints every metric by name with its
unit, then one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 1 the metrics are the per-layer ones (see BENCHMARK.json).

Needs SPARK_HOME (a Spark 4 distribution), java 17, sbt, and python3
with numpy and pyarrow. Everything it writes stays under perfbench/target/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("etl_queries", "lake_dml")
# Input tables: the star schema plus events/documents/embeddings at this
# scale factor, generated from a fixed data seed. The run's --seed
# drives op order and op parameters only, so the digests stay valid.
SCALE_FACTOR = 0.02
DATA_SEED = 42
HEAP = "3g"
JVM_TIMEOUT_S = 170
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


def sources_digest():
    """Hash of everything the build compiles, so a changed source rebuilds."""
    files = sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
        + glob.glob(os.path.join(HERE, "src", "main", "**", "*.scala"),
                    recursive=True)
        + [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        if os.path.isdir(f):
            continue
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    return env


def build():
    """Compile with sbt unless this source state was built already;
    returns the runtime classpath."""
    stamp = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [ln for ln in lines if os.path.join("target", "scala-2.13", "classes") in ln
           and not ln.startswith("[")]
    if proc.returncode != 0 or not cps:
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail(f"build failed (log: {log})")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cps[-1].strip()


def data_dir():
    """The input tables, generated once per (generator, scale, seed)."""
    with open(os.path.join(HERE, "datagen.py"), "rb") as fh:
        gen = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(TARGET, "data", f"sf{SCALE_FACTOR}_seed{DATA_SEED}_{gen}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"), out,
                        "--sf", str(SCALE_FACTOR), "--seed", str(DATA_SEED)],
                       check=True, stdin=subprocess.DEVNULL)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


def run_jvm(cp, args, work, out):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data_dir(), "--work", work, "--out", out,
            "--digests", os.path.join(HERE, "digests")]
    log = os.path.join(work, "jvm.log")
    code = None
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:  # timed out, or this script is being stopped
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as fh:
            print("".join(fh.readlines()[-40:]), file=sys.stderr)
        fail("benchmark JVM " + ("timed out" if code is None else f"exited {code}"))


def main():
    # a stop request unwinds through the finally blocks, which stop the JVM
    # and remove the run's scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record-digests", action="store_true",
                    help="write the warm-up digests to digests/WORKLOAD.json")
    args = ap.parse_args()

    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        fail(f"engine sources not found at {os.path.relpath(engine)}; "
             "run from a checkout of the repository")

    t0 = time.time()
    cp = build()
    build_s = time.time() - t0
    work = os.path.join(TARGET, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    results = os.path.join(TARGET, "results")
    os.makedirs(results, exist_ok=True)
    # the JVM writes the detail file here, and a traced run its spans beside it
    detail_file = os.path.join(
        results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    for f in (detail_file, detail_file[:-len(".json")] + "-spans.jsonl"):
        if os.path.exists(f):
            os.remove(f)
    try:
        run_jvm(cp, args, work, detail_file)
        with open(detail_file) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.record_digests:
        digests = res["detail"].get("digests")
        if not digests:
            fail(f"{args.workload} has no query digests to record")
        with open(os.path.join(HERE, "digests", f"{args.workload}.json"), "w") as fh:
            json.dump(digests, fh, indent=1, sort_keys=True)
            fh.write("\n")

    for p in res["problems"]:
        print(f"FAILED {p}")
    if build_s > 1:
        print(f"build_s {build_s:.1f} s (not a metric)")
    for name, m in res["metrics"].items():
        print(f"{name} {m['value']} {m['unit']}")
    for name in ("error_rate", "op_p50_ms", "op_samples", "samples_beyond_p50", "passes",
                 "host_ref_ms", "peak_rss_mb", "read_p50_ms", "write_p50_ms"):
        if name in res["detail"]:
            print(f"{name} {res['detail'][name]}")
    print(f"detail {os.path.relpath(detail_file, ROOT)}")
    correct = not res["problems"] and res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()

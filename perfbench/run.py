#!/usr/bin/env python3
"""Repository benchmark: builds the engine with the harness in this
directory, runs one named workload in a fresh JVM at local[nproc], checks
its outputs and prints one JSON result as the last line of stdout.

    python3 perfbench/run.py --workload <suite|replay|live> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. With --trace 0 the result carries the
end-to-end metrics, with --trace 1 the per-layer metrics. Each run writes
its artifact (all metrics, spans, check counts) to
perfbench/out/<workload>-s<seed>-t<trace>/result.json. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("suite", "replay", "live")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"
# JDK 17 module opens Spark needs outside spark-submit (the root build's list)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]
E2E = ("setup_s", "throughput_per_s", "latency_p50_ms", "heap_peak_mb")


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, so a change to any of them rebuilds."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos) and "sbt.repository.config" not in opts:
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    # keep the build's scratch files inside the checkout
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    print("perfbench: building", file=sys.stderr)
    # products, not compile: it also copies the engine's resources (the
    # DataSourceRegister service file that names the graft-feed source)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile/products"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.isdir(classes):
        fail("build failed", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def overhead(out_root, workload, seed, traced_e2e):
    """Traced minus untraced end-to-end values, when the untraced run of the
    same workload and seed has an artifact."""
    p = os.path.join(out_root, f"{workload}-s{seed}-t0", "result.json")
    if not os.path.exists(p):
        return None
    base = json.load(open(p))["end_to_end"]
    return {k: traced_e2e[k] - base[k] for k in E2E if k in base and k in traced_e2e}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found; run from the repository root", 2)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME does not name a Spark installation", 2)
    classes = build()

    out_root = os.path.join(HERE, "out")
    out = os.path.join(out_root, f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed heap: with a growable one, G1 shrinks it at the full collection
    # before the window and the first timed replay pass ran about 25% slower
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={out}/tmp",
           "-Dspark.ui.enabled=false"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--out", out,
            "--data", os.path.join(HERE, "data")]
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=out, stdout=subprocess.PIPE, stderr=log,
                             text=True, start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S}s; see {log_path}", 4)
    for d in ("tmp", "spark-local", "checkpoints", "warehouse"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not lines:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"JVM exited with {p.returncode} and no result; see {log_path}", 5)
    result = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    if a.trace == "1":
        art_path = os.path.join(out, "result.json")
        art = json.load(open(art_path))
        art["trace_overhead"] = overhead(out_root, a.workload, a.seed, art["end_to_end"])
        with open(art_path, "w") as fh:
            json.dump(art, fh)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

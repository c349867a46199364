#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first call builds the engine and the
workload drivers from source with sbt (offline); later calls reuse the
build while the sources are unchanged. Each call starts one JVM running
Spark at local[4], generates the workload's inputs from the seed, measures
for --seconds, checks the outputs, and prints one line per metric followed
by a JSON result as the last line of stdout:

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics named in BENCHMARK.json, --trace 1
the per-layer ones (and writes the recorded spans under the build
directory's traces/). --workload all runs every workload in turn.
--pin-corpus regenerates perfbench/corpus_digests.json. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ["catalog", "composite", "tiles", "corpus"]
RUN_LIMIT_S = 175.0
BUILD_LIMIT_S = 840.0
JAVA_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
             "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties")] + [
    arg
    for pkg in [
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar",
    ]
    for arg in ("--add-opens", pkg + "=ALL-UNNAMED")
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_files():
    """Every file the build reads: the engine's build and sources, then ours."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH_DIR, "build.sbt"), os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    return files


def sources_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_process(cmd, cwd, env, limit_s, stdout):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=limit_s)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def java_cmd(cp, *args):
    """The JVM command line: shared options, the class-data archive the
    build recorded (when present), the classpath, then args."""
    jsa = os.path.join(build_dir(), "perfbench.jsa")
    cds = ["-XX:SharedArchiveFile=" + jsa, "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] \
        if os.path.exists(jsa) else []
    return ["java"] + JAVA_OPTS + cds + ["-cp", cp] + list(args)


def classpath():
    """Build (when the sources changed) and return the runtime classpath.

    The build packages the engine and the workload drivers as jars, then
    runs every workload once with -XX:ArchiveClassesAtExit so later JVMs
    start from a class-data archive (this halves JVM + Spark start-up)."""
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        raise SystemExit("[perfbench] engine sources (build.sbt, src/main/scala) not found "
                         "next to perfbench/; run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise SystemExit("[perfbench] sbt and java must be on PATH")
    bdir = build_dir()
    stamp = os.path.join(bdir, "perfbench.stamp")
    digest = sources_hash()
    try:
        with open(stamp) as fh:
            st = json.load(fh)
        if st["sources"] == digest and all(os.path.exists(p) for p in st["classpath"].split(os.pathsep)):
            return st["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["GRAFTBENCH_TARGET"] = os.path.join(bdir, "perfbench-target")
    sbt_opts = env.get("SBT_OPTS", "")
    for flag in ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Dsbt.server.forcestart=false",
                 "-XX:-UsePerfData"]:
        if flag.split("=")[0] not in sbt_opts:
            sbt_opts += " " + flag
    env["SBT_OPTS"] = sbt_opts.strip()
    log("building engine + workloads with sbt (first run in this checkout)")
    t = time.time()
    code, out = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
                            BENCH_DIR, env, BUILD_LIMIT_S, subprocess.PIPE)
    lines = [l for l in out.decode(errors="replace").splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("[perfbench] build failed")
    cp = lines[-1].strip()
    jsa = os.path.join(bdir, "perfbench.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    log("recording the class-data archive (one cold pass of every workload)")
    work = os.path.join(bdir, "work-train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    train = java_cmd(cp, "graftbench.Main", "--workload", "train", "--seed", "0", "--seconds", "0",
                     "--trace", "0", "--work", work, "--out", os.path.join(work, "result.json"),
                     "--pins", os.path.join(BENCH_DIR, "corpus_digests.json"))
    train.insert(1, "-XX:ArchiveClassesAtExit=" + jsa)
    train.insert(2, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"))
    code, _ = run_process(train, ROOT, dict(os.environ), BUILD_LIMIT_S, subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        log("training run failed (exit %d); continuing without the archive" % code)
        if os.path.exists(jsa):
            os.remove(jsa)
    with open(stamp, "w") as fh:
        json.dump({"sources": digest, "classpath": cp}, fh)
    log("build done in %.1f s" % (time.time() - t))
    return cp


def run_jvm(cp, workload, seed, seconds, trace, limit_s):
    """One workload in one JVM; returns the JVM's result object."""
    bdir = build_dir()
    work = os.path.join(bdir, "work-%d-%s" % (os.getpid(), workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = java_cmd(cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(trace), "--work", work, "--out", out,
                   "--pins", os.path.join(BENCH_DIR, "corpus_digests.json"),
                   "--launch-epoch-ms", str(int(time.time() * 1000)))
    cmd.insert(1, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"))
    try:
        code, _ = run_process(cmd, ROOT, dict(os.environ), limit_s, sys.stderr)
        if code != 0 or not os.path.exists(out):
            raise SystemExit("[perfbench] %s: JVM exited with %d" % (workload, code))
        with open(out) as fh:
            return json.load(fh)
    except subprocess.TimeoutExpired:
        raise SystemExit("[perfbench] %s: no result within %.0f s" % (workload, limit_s))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def contract_metrics(trace):
    """(name, unit) pairs the result line must carry, from BENCHMARK.json."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def select(res, trace):
    block = res["per_layer" if trace else "end_to_end"]
    wanted = contract_metrics(trace)
    if wanted is None:
        return block
    missing = [n for n, _ in wanted if n not in block]
    if missing:
        raise SystemExit("[perfbench] result lacks metrics %s" % missing)
    return {n: {"value": block[n]["value"], "unit": u} for n, u in wanted}


def show(workload, res, metrics):
    err = res["failed"] / max(1, res["attempted"])
    print("== %s: %d checks/operations, %d failed, error_rate %.4f"
          % (workload, res["attempted"], res["failed"], err))
    for name, m in list(metrics.items()) + list(res.get("report", {}).items()):
        print("  %-42s %16.6g %s" % (name, m["value"], m["unit"]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin-corpus", action="store_true",
                    help="regenerate perfbench/corpus_digests.json from the current engine")
    a = ap.parse_args()
    cp = classpath()
    t0 = time.time()
    if a.pin_corpus:
        work = os.path.join(build_dir(), "work-pin")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        cmd = java_cmd(cp, "graftbench.Main", "--pin-corpus", work,
                       os.path.join(BENCH_DIR, "corpus_digests.json"))
        cmd.insert(1, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"))
        code, _ = run_process(cmd, ROOT, dict(os.environ), 900, sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return code
    if a.workload is None:
        ap.error("--workload is required")
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = {}
    for w in names:
        limit = RUN_LIMIT_S - (time.time() - t0) if a.workload != "all" else RUN_LIMIT_S
        res = run_jvm(cp, w, a.seed, a.seconds, a.trace, limit)
        results[w] = (res, select(res, a.trace))
        show(w, res, results[w][1])
    if a.workload == "all":
        metrics = {"%s.%s" % (w, n): m for w, (_, ms) in results.items() for n, m in ms.items()}
    else:
        metrics = results[a.workload][1]
    print(json.dumps({
        "correct": all(r["correct"] for r, _ in results.values()),
        "attempted": sum(r["attempted"] for r, _ in results.values()),
        "failed": sum(r["failed"] for r, _ in results.values()),
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

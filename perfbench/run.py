#!/usr/bin/env python3
"""Build the graft engine and its benchmark harness, then run one workload.

    python3 perfbench/run.py --workload lake_mixed --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run builds the engine and the
harness with sbt (offline) and caches the classpath under .bench_build/; later
runs reuse it while the sources are unchanged. The harness prints a
{"meta": ...} line and, as the last line of standard output, the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans go to .bench_build/perfbench/trace-*.json.
The exit code is 0 only when every op succeeded and the outputs were correct.
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
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(OUT, "classpath.txt")
WORKLOADS = ("lake_mixed", "curation_batch", "cdc_services")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the engine's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in os.listdir(proj)
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine and harness; return the runtime classpath."""
    want = stamp()
    if os.path.isfile(CLASSPATH):
        with open(CLASSPATH) as fh:
            have, cp = fh.read().split("\n", 1)
        if have == want and all(os.path.exists(p) for p in cp.strip().split(":")):
            return cp.strip()
    log("building engine and harness with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-error",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if proc.returncode != 0 or not cp or not all(os.path.exists(p) for p in cp.split(":")):
        sys.stderr.write(proc.stdout)
        log(f"build failed (sbt exit {proc.returncode})")
        sys.exit(2)
    os.makedirs(OUT, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(want + "\n" + cp + "\n")
    return cp


def commit_id():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + stamp()[:12]


def heap():
    """A fixed heap (3 GB, less on small hosts): the same -Xms and -Xmx
    keep heap growth, and so GC work and peak RSS, alike across runs."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{max(1, min(3, kb // (4 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError):
        return "3g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no graft engine sources under {ROOT}: run from a full checkout")
        sys.exit(2)
    cp = build()
    work = os.path.join(OUT, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = (["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(a.cores), "--work", work, "--out", OUT,
              "--commit", commit_id()])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(3)
    shutil.rmtree(work, ignore_errors=True)

    meta, result = None, None
    for line in out.splitlines():
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "meta" in obj:
            meta = obj["meta"]
        elif isinstance(obj, dict) and "correct" in obj:
            result = obj
    if result is None or meta is None:
        sys.stdout.write(out)
        log(f"no result from the harness (exit {proc.returncode})")
        sys.exit(proc.returncode or 4)

    saved = os.path.join(OUT, "results", f"{a.workload}-s{a.seed}-t{a.trace}.json")
    os.makedirs(os.path.dirname(saved), exist_ok=True)
    with open(saved, "w") as fh:
        json.dump({"meta": meta, "result": result}, fh)
    if a.trace:
        # tracing overhead: this traced wall minus the untraced wall of the
        # same workload, seed, length and commit, when that run exists
        plain = os.path.join(OUT, "results", f"{a.workload}-s{a.seed}-t0.json")
        if os.path.isfile(plain):
            with open(plain) as fh:
                base = json.load(fh)["meta"]
            if (base["seconds"], base["commit"]) == (meta["seconds"], meta["commit"]):
                meta["tracing_overhead_s"] = meta["wall_s"] - base["wall_s"]
    print(json.dumps({"meta": meta}))
    print(json.dumps(result), flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Runs one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload ann-serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse the
build while no source file changed. Everything the run writes goes under
one temp root inside the checkout, deleted at exit, and the run fails if it
left any other file of the checkout created, changed or deleted.

The last line of standard output is the JSON result.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(BENCH_DIR, "target")
STAMP = os.path.join(BUILD_DIR, "perfbench-build.json")
TMP_PARENT = os.path.join(ROOT, ".perfbench-tmp")

WORKLOADS = ("ann-serve", "ann-ingest", "curate")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
# Directories the build and the run itself own; the repo guard skips them.
OWNED = {".perfbench-tmp", "target", ".bsp", "project/target",
         "project/project", "perfbench/target", "perfbench/project/target",
         "perfbench/project/project", "perfbench/.bsp", ".git"}

# Spark 4 on JDK 17 needs these outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, cwd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole group
    and waits for it. Returns (returncode or None on timeout, stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, ""


def source_stamp():
    h = hashlib.sha256()
    trees = [ENGINE_SRC, os.path.join(BENCH_DIR, "src", "main")]
    files = [os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for tree in trees:
        for d, _, names in os.walk(tree):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, building first when sources changed."""
    stamp = source_stamp()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log("building engine and benchmark with sbt")
    t = time.time()
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    code, out = run_group(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", f"-J-Djava.io.tmpdir={tmp}",
         "compile", "export Runtime/fullClasspath"],
        BENCH_DIR, BUILD_TIMEOUT_S, stderr=subprocess.STDOUT)
    if code != 0:
        sys.stderr.write(out[-4000:])
        raise RuntimeError("sbt build failed" if code is not None else "sbt build timed out")
    lines = [l for l in out.splitlines() if "scala-2.13/classes" in l]
    if not lines:
        raise RuntimeError("sbt printed no classpath")
    classpath = lines[-1].strip()
    with open(STAMP, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    log(f"built in {time.time() - t:.0f} s")
    return classpath


def snapshot():
    """(path -> (size, mtime)) of every checkout file outside OWNED dirs."""
    out = {}
    for d, dirs, names in os.walk(ROOT):
        rel = os.path.relpath(d, ROOT)
        dirs[:] = [x for x in dirs
                   if os.path.normpath(os.path.join(rel, x)).replace(os.sep, "/") not in OWNED]
        for n in names:
            p = os.path.join(d, n)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, ROOT)] = (st.st_size, st.st_mtime_ns)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--spans-out", help="traced runs: write spans as JSON lines here")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"no engine sources under {os.path.relpath(ENGINE_SRC, os.getcwd())}; "
            "run from the root of a full checkout")
        return 2

    classpath = build()
    run_root = os.path.join(TMP_PARENT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_root, "tmp"))
    before = snapshot()
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={run_root}/tmp"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace, "--root", run_root])
    if args.spans_out:
        cmd += ["--spans-out", os.path.abspath(args.spans_out)]
    try:
        code, out = run_group(cmd, ROOT, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        if os.path.isdir(TMP_PARENT) and not os.listdir(TMP_PARENT):
            os.rmdir(TMP_PARENT)
    if code is None:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return 1

    lines = out.splitlines()
    result = lines[-1] if lines else ""
    for l in lines[:-1]:
        print(l)
    if code != 0:
        log(f"run exited with {code}")
        return 1
    after = snapshot()
    changed = sorted(p for p in set(before) | set(after) if before.get(p) != after.get(p))
    if args.spans_out:
        changed = [p for p in changed
                   if os.path.abspath(os.path.join(ROOT, p)) != os.path.abspath(args.spans_out)]
    if changed:
        log("the run wrote into the checkout: " + ", ".join(changed[:10]))
        return 3
    parsed = json.loads(result)
    assert set(parsed) == {"correct", "attempted", "failed", "metrics"}, parsed.keys()
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())

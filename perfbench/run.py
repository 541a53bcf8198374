#!/usr/bin/env python3
"""MOCHA task-stream benchmark for the graft system adapter.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload mocha_bulk_read --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

The first call builds the library and the benchmark from source with sbt
(perfbench/build.sbt) and keeps the classpath in .bench_build/; later calls
reuse it while the sources are unchanged. Each run is one JVM that prints
progress and, as its last stdout line, the result object
{"correct", "attempted", "failed", "metrics"}. Run records and trace spans
are written to .bench_build/runs/.

--smoke runs every workload at sf0.0002 with a one-round stream, untraced
and traced, and checks that each prints every metric BENCHMARK.json names,
that every answer check passed and that the traced run wrote its spans.
"""
import argparse
import glob
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CP_FILE = os.path.join(BUILD, "classpath.txt")
STAMP_FILE = os.path.join(BUILD, "classpath.stamp")
WORKLOADS = ["mocha_bulk_read", "mocha_stream_write"]
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (see the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, in a fixed order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += glob.glob(os.path.join(base, "*.properties"))
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def tree_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def git_sha():
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                 capture_output=True, text=True, timeout=10)
            if out.returncode == 0:
                return out.stdout.strip()
        except (OSError, subprocess.TimeoutExpired):
            pass
    return "tree-" + tree_hash()[:16]


def classpath():
    """Build if the sources changed since the last build; return the classpath."""
    stamp = tree_hash()
    if os.path.isfile(CP_FILE) and os.path.isfile(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == stamp:
                with open(CP_FILE) as fh2:
                    return fh2.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building library and benchmark with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=850)
    lines = proc.stdout.splitlines()
    cp = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("build failed")
    with open(CP_FILE, "w") as fh:
        fh.write(cp[-1].strip() + "\n")
    with open(STAMP_FILE, "w") as fh:
        fh.write(stamp + "\n")
    return cp[-1].strip()


def java_cmd(cp, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # temporary files (native libraries, spill) stay inside the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", cp, "perfbench.Main", "--root", BUILD] + args)


def run_once(cp, args, capture=False):
    """Run one workload JVM; returns (exit code, stdout lines if captured)."""
    proc = subprocess.Popen(java_cmd(cp, args), cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE if capture else None, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        return 1, []
    return proc.returncode, (out or "").splitlines()


def smoke(cp, sha):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = {0: {m["name"] for m in spec["end_to_end"]},
             1: {m["name"] for m in spec["per_layer"]}}
    ok = True
    for w in WORKLOADS:
        for trace in (0, 1):
            before = set(glob.glob(os.path.join(BUILD, "runs", "*-spans.jsonl")))
            code, lines = run_once(cp, ["--workload", w, "--seed", "1", "--seconds", "1",
                                        "--trace", str(trace), "--smoke", "--git-sha", sha],
                                   capture=True)
            for l in lines[:-1]:
                print(l)
            res = json.loads(lines[-1]) if code == 0 and lines else {}
            problems = []
            if code != 0 or not res:
                problems.append(f"exit code {code}")
            else:
                if set(res) != {"correct", "attempted", "failed", "metrics"}:
                    problems.append(f"result keys {sorted(res)}")
                if not res.get("correct") or res.get("failed"):
                    problems.append(f"checks failed: {res.get('failed')}")
                missing = names[trace] - set(res.get("metrics", {}))
                extra = set(res.get("metrics", {})) - names[trace]
                if missing or extra:
                    problems.append(f"metrics missing {sorted(missing)} extra {sorted(extra)}")
                if trace and not set(glob.glob(os.path.join(BUILD, "runs", "*-spans.jsonl"))) - before:
                    problems.append("no span file written")
            print(f"[perfbench] smoke {w} trace={trace}: " + ("ok" if not problems else "; ".join(problems)))
            ok = ok and not problems
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required unless --smoke is given")
    # the program under test is the library one directory up; without it
    # there is nothing to build or measure
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: the graft library sources (build.sbt, src/main/scala/graft) "
                         "are not in this checkout")
    cp = classpath()
    sha = git_sha()
    if a.smoke:
        return smoke(cp, sha)
    code, _ = run_once(cp, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--git-sha", sha])
    return code


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the load harness from
source, runs one workload in a fresh JVM, checks its outputs and prints
the metrics as one JSON object on the last line of stdout.

    python3 loadbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Build outputs and run state live under
`.bench_build/loadbench/`; nothing is read or written outside the checkout
except the JDK and the Spark/Scala jars named by build.sbt.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import stats  # noqa: E402
import metrics as M  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "loadbench")
WORKLOADS = ("ingest", "analytics")
HEAP = "3g"
# whole-invocation limits: a plain run, and one that also built
LIMIT_S, LIMIT_BUILD_S = 175, 880
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
# JVMs that would share the cores: the engine's own mains, another run of
# this benchmark, and forked test JVMs.
RIVAL_MAIN = re.compile(r"^(graft\.[A-Za-z0-9_.]+|loadbench\.Main|sbt\.ForkMain)$")


def fail(msg, code=2):
    print("loadbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources(d, ext=".scala"):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(ext)]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def jars_dir():
    """The Spark/Scala jar directory the engine's build.sbt names."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        fail("no build.sbt: run from the root of an engine checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    d = m.group(1) if m else None
    if not d or not os.path.isdir(d):
        fail("cannot find the Spark jar directory (build.sbt unmanagedBase)")
    return d


def classpath(jars):
    return ":".join(os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar"))


def compile_scala(cp, srcs, out, extra_cp=""):
    """scalac into `out`, skipped when the sources are unchanged."""
    stamp = out + ".sha256"
    sha = digest(srcs)
    if os.path.isdir(out) and os.path.isfile(stamp) and open(stamp).read() == sha:
        return False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    full = cp + (":" + extra_cp if extra_cp else "")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", full, "-d", out] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       cwd=ROOT, timeout=1200)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("compilation failed: " + out)
    with open(stamp, "w") as f:
        f.write(sha)
    return True


def build():
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail("no engine sources (src/main/scala): run from the root of an engine checkout")
    cp = classpath(jars_dir())
    main_out = os.path.join(BUILD, "main-classes")
    bench_out = os.path.join(BUILD, "bench-classes")
    os.makedirs(BUILD, exist_ok=True)
    built_now = compile_scala(cp, sources(main_src), main_out)
    built_now |= compile_scala(cp, sources(os.path.join(HERE, "src")), bench_out, main_out)
    parts = [main_out, bench_out, os.path.join(HERE, "resources")]
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        parts.append(res)
    return ":".join(parts + [cp]), built_now


def remap_prefixes():
    """Absolute `<dir>/target` cache roots hard-coded in the engine, which
    the run redirects into its own work directory."""
    found = set()
    pat = re.compile(r'"(/[^"$\s]*?/target)/')
    for p in sources(os.path.join(ROOT, "src", "main", "scala")):
        found.update(pat.findall(open(p, encoding="utf-8").read()))
    return sorted(found)


def rivals():
    """Running JVMs of the engine, of this benchmark or of its tests."""
    out = []
    me = os.getpid()
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = [a.decode(errors="replace") for a in f.read().split(b"\0") if a]
        except OSError:
            continue
        if argv and os.path.basename(argv[0]) == "java" and any(RIVAL_MAIN.match(a) for a in argv):
            out.append(f"{pid}: {' '.join(argv)[:160]}")
    return out


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, work, out, timeout):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Xss4m", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dloadbench.remap.from=" + ",".join(remap_prefixes()),
            "-Dloadbench.remap.to=" + os.path.join(work, "remap")]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "loadbench.Main"] + args
           + ["--work", work, "--out", out, "--src", ROOT, "--cpus", str(cpus())])
    for d in ("tmp", "remap"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    log = os.path.join(BUILD, "last-run.log")
    with open(log, "wb") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {timeout:.0f}s; log in {log}")
    if rc != 0 or not os.path.isfile(out):
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}; log in {log}")
    with open(out) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    start = time.time()
    cp, built_now = build()
    busy = rivals()
    if busy:
        fail("another engine JVM is running; refusing to measure:\n  " + "\n  ".join(busy), 3)
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    t0 = time.time()
    limit = (LIMIT_BUILD_S if built_now else LIMIT_S) - (time.time() - start)
    rec = run_jvm(cp, args, work, os.path.join(BUILD, "last-record.json"), limit)
    shutil.rmtree(work, ignore_errors=True)
    detail, result = M.summarize(rec)
    detail["wall_s"] = round(time.time() - t0, 3)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

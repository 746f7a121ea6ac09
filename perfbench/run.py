#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload tearsheet --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload ann_search --seed 1 --seconds 1 --trace 1
    python3 perfbench/run.py --workload corpus_refresh --seed 1 --seconds 0 --size smoke
    python3 perfbench/run.py --selftest

Run from the repository root. The first call builds the program and the
benchmark from source with sbt (offline) into .bench_build/; later calls
reuse that build while the sources are unchanged. Every run also writes a
full record (environment, per-operation times, spans) under
.bench_build/results/ unless --out names another file.
"""
import argparse
import hashlib
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 175
HEAP = "4g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {ROOT}/src/main/scala; run from a checkout")
    stamp = source_stamp()
    stamp_f = os.path.join(BUILD, "stamp")
    cp_f = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as fh:
            if fh.read() == stamp:
                with open(cp_f) as fh:
                    return fh.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx3g",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
            f"-Djna.tmpdir={os.path.join(BUILD, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = [ln for ln in p.stdout.splitlines() if ln.startswith("/")][-1].strip()
    with open(cp_f, "w") as fh:
        fh.write(cp)
    with open(stamp_f, "w") as fh:
        fh.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def commit():
    """HEAD, with the source stamp appended when the sources differ from
    it; only the source stamp outside a git checkout."""
    def git(*args):
        try:
            p = subprocess.run(["git", *args], cwd=ROOT, text=True,
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
            return p.stdout.strip() if p.returncode == 0 else None
        except OSError:
            return None
    head = git("rev-parse", "HEAD")
    if not head:
        return "tree-" + source_stamp()[:16]
    dirty = git("status", "--porcelain", "--", "src", "perfbench")
    return head + ("+tree-" + source_stamp()[:16] if dirty else "")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--size", choices=["full", "smoke"], default="full")
    ap.add_argument("--out", help="record file (default: .bench_build/results/...)")
    ap.add_argument("--selftest", action="store_true",
                    help="smoke-run every workload and check that corruptions are caught")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        fail("--workload is required")
    cp = build()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if a.selftest:
        args = ["--selftest"]
    else:
        out = a.out or os.path.join(
            BUILD, "results",
            f"{a.workload}-s{a.seed}-t{a.trace}-{a.size}-{int(time.time() * 1000)}.json")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace, "--size", a.size,
                "--record", os.path.abspath(out), "--commit", commit(),
                "--workdir", os.path.join(BUILD, "work")]
    cmd = (["java", f"-Xmx{HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    limit = 1800 if a.selftest else RUN_LIMIT_S
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {limit} s")
    lines = stdout.splitlines()
    result = [ln for ln in lines if ln.startswith('{"correct"')]
    for ln in lines:
        if not ln.startswith('{"correct"'):
            print(ln)
    if proc.returncode != 0:
        fail(f"benchmark exited with {proc.returncode}", proc.returncode or 1)
    if not a.selftest:
        if not result:
            fail("no result line")
        print(result[-1])


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with sbt the first time
(and again whenever a source file changes), then runs perfbench.Main in
one JVM with as many Spark task slots as the process may use CPUs. The
last line of stdout is the result object; everything the run writes stays
under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 175



def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change requires a rebuild, sorted."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(BENCH, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(base):
            files += [os.path.join(base, f) for f in os.listdir(base)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(BENCH, "src", "main")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it; kill the group
    on timeout or when this script is terminated."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} stopped")

    old = signal.signal(signal.SIGTERM, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} exceeded {timeout} s")
    finally:
        signal.signal(signal.SIGTERM, old)
    return proc.returncode, out


def build():
    """The runtime classpath and the engine's JVM options, building first
    if any source changed."""
    want = stamp()
    stamp_file = os.path.join(OUT, "stamp")
    jvm_file = os.path.join(OUT, "jvm.json")
    if os.path.isfile(stamp_file) and os.path.isfile(jvm_file):
        with open(stamp_file) as a, open(jvm_file) as b:
            if a.read() == want:
                jvm = json.load(b)
                return jvm["classpath"], jvm["options"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    rc, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath",
         "print perfbench/javaOptions"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    lines = out.splitlines()
    cps = [l.strip() for l in lines
           if l and not l.startswith(("[", "* ")) and os.pathsep in l]
    # `print` lists a Seq one element a line, as "* <element>"
    options = [l[2:].strip() for l in lines if l.startswith("* ")]
    if rc != 0 or not cps or not options:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {rc})")
    os.makedirs(OUT, exist_ok=True)
    with open(jvm_file, "w") as f:
        json.dump({"classpath": cps[-1], "options": options}, f)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cps[-1], options


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--print-digests", action="store_true")
    a = p.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the root of a checkout holding the engine's sources")
    cp, options = build()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the engine's options minus its heap size: the benchmark fixes its
    # own heap, since growing it mid-run made reps uneven
    cmd = ["java"] + [o for o in options if not o.startswith("-Xm")]
    cmd += ["-Xms3g", "-Xmx3g",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work-dir", os.path.join(OUT, "work"),
            "--digests", os.path.join(BENCH, "digests.tsv")]
    if a.print_digests:
        cmd.append("--print-digests")
    rc, out = run_bounded(cmd, RUN_TIMEOUT_S, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    lines = out.splitlines()
    if rc != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out[-4000:])
        fail(f"benchmark exited {rc} without a result")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft change-stream benchmark.

Runs one workload (or all of them) of seeded, legal change streams through
graft's public API, checks every maintained view against a recompute, and
prints the metrics. Run from the repository root:

    python3 perfbench/run.py                                # every workload, seed 1
    python3 perfbench/run.py --workload cdc_small --seed 3 --seconds 5 --trace 0

With --workload, the last stdout line is one JSON object with the keys
correct, attempted, failed and metrics (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). The first run builds the benchmark and
the engine with sbt (offline) and caches the classpath under
perfbench/.build; later runs start the JVM directly. Exit code 0 means
every correctness check passed.
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
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ["cdc_small", "dedup_stream"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def wait(proc, timeout):
    """Wait for a child started in its own session; on timeout, kill its
    whole process group. Returns (exit code, stdout)."""
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        out += "\n# timed out\n"
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def sources():
    """Every file the build reads, in a stable order."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    missing = [p for p in out if not os.path.isfile(p)]
    if missing or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found beside the benchmark: " + ", ".join(missing[:3]))
    return sorted(out)


def stamp():
    h = hashlib.sha256()
    # the engine build reads these when it picks the driver heap
    for v in ("SPARK_DRIVER_MEM", "SPARK_GRAFT_CPUS"):
        h.update(f"{v}={os.environ.get(v, '')}\n".encode())
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
        "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}", "-Xmx2g"])
    return env


def build():
    """Build once per source state; return the runtime classpath and the
    JVM options of the engine build's forked runs (JDK add-opens, session
    flags, the driver heap rule), which perfbench/build.sbt takes from the
    root build.sbt."""
    cp_file = os.path.join(BUILD, "classpath")
    opts_file = os.path.join(BUILD, "jvm-options")
    st = stamp()
    if os.path.isfile(cp_file) and os.path.isfile(opts_file):
        with open(cp_file) as f:
            saved, cp = f.read().split("\n", 1)
        if saved == st and all(os.path.exists(p) for p in cp.strip().split(os.pathsep)):
            return cp.strip(), jvm_options(opts_file)
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        code, out = wait(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/writeJvmOptions",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=lf,
            text=True, start_new_session=True), BUILD_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("[") or not os.path.isfile(opts_file):
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(st + "\n" + cp)
    return cp, jvm_options(opts_file)


def jvm_options(path):
    with open(path) as f:
        return [l for l in f.read().splitlines() if l]


def run_one(cp, jvm, workload, seed, seconds, trace, corrupt=False, spans=None):
    """One JVM per workload run: process-global engine state (template
    cache, size memos, counters) never leaks between runs."""
    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + jvm + ["-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
        "-cp", cp, "graftbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", os.path.join(work, "run")]
    if corrupt:
        cmd += ["--corrupt", "1"]
    if spans:
        cmd += ["--spans", spans]
    err_path = os.path.join(BUILD, f"last-{workload}.stderr")
    os.makedirs(BUILD, exist_ok=True)
    with open(err_path, "w") as err:
        code, out = wait(subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                          text=True, start_new_session=True), RUN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None:
        with open(err_path) as f:
            sys.stderr.write(f.read()[-6000:])
    return lines[:-1] if result else lines, result, code


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--corrupt", type=int, default=0, choices=[0, 1],
                    help="drop one delta row before the engine sees it (negative test)")
    ap.add_argument("--spans", help="write the traced run's spans (JSON lines) here")
    a = ap.parse_args()
    cp, jvm = build()

    if a.workload != "all":
        lines, result, code = run_one(cp, jvm, a.workload, a.seed, a.seconds, a.trace,
                                      a.corrupt == 1, a.spans)
        print("\n".join(lines))
        if result is None:
            fail(f"{a.workload}: no result (exit {code})")
        print(json.dumps(result))
        sys.exit(0 if result["correct"] and code == 0 else 1)

    # every workload for one seed, one JVM per run: the notes and every
    # metric by name with its unit (end-to-end, then per-layer with --trace 1)
    ok = True
    for w in WORKLOADS:
        for t in ([0, 1] if a.trace else [0]):
            lines, result, code = run_one(cp, jvm, w, a.seed, a.seconds, t, a.corrupt == 1)
            print(f"== {w} ({'traced' if t else 'untraced'} run, seed {a.seed})")
            print("\n".join("  " + l for l in lines if l.startswith("#")))
            if result is None:
                print(f"  no result (exit {code})")
                ok = False
                continue
            ok = ok and result["correct"] and code == 0
            err = result["failed"] / max(1, result["attempted"])
            print(f"  {'error_rate':<40} {err:.6f} ratio")
            for n, m in result["metrics"].items():
                print(f"  {n:<40} {m['value']:.6f} {m['unit']}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the JVM runner from source
on first use (sbt, with the engine's own build: into ``target`` and
``perfbench/target``), generates the workload's
inputs from the seed under ``.bench_build/perfbench``, runs the JVM runner
(``perfbench/src``), checks the outputs, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. End-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. Exits non-zero, after
printing, when an output is wrong, and without printing when the run
could not be made.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import reduce  # noqa: E402

WORKLOADS = ("schema_build", "curation")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every input of the build (engine and runner sources)."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building (sbt) ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "export Runtime/fullClasspath"],
                          cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def cpu_jiffies():
    """``(steal, total)`` jiffies of all CPUs from ``/proc/stat`` (zeros
    where it does not exist)."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def run_jvm(cp, args, workdir):
    """Run the JVM in its own process group; kill the group on timeout."""
    cmd = (["java", "-Xmx4g", f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    with open(os.path.join(BUILD, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=workdir, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("perfbench: JVM run timed out")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found; "
                         "run from a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()

    data, out, work = (os.path.join(BUILD, d) for d in ("data", "out", "work"))
    for d in (data, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.makedirs(work, exist_ok=True)
    t0 = time.monotonic()
    if a.workload == "schema_build":
        gen.gen_wide(a.seed, os.path.join(data, "wide"))
    else:
        gen.gen_lake(a.seed, os.path.join(data, "lake"))
    gen_s = time.monotonic() - t0

    steal0, total0 = cpu_jiffies()
    code = run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace), data, out], work)
    steal1, total1 = cpu_jiffies()
    steal_pct = 100.0 * (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0
    if code != 0:
        sys.stderr.write(open(os.path.join(BUILD, "jvm.log")).read()[-4000:])
        raise SystemExit(f"perfbench: JVM run exited with {code}")
    run = json.load(open(os.path.join(out, "run.json")))

    failures = [f"{c['name']}: {c['detail']}" for c in run["checks"] if not c["ok"]]
    failures += [f"op {o['row']} failed: {o['err']}" for o in run["ops"] if not o["ok"]]
    if a.workload == "schema_build":
        failures += check.check_wide(a.seed, os.path.join(data, "wide"),
                                     os.path.join(out, "wide-out"))
    else:
        failures += check.check_rows(os.path.join(out, "verify"), os.path.join(data, "lake"))
    warm = len(reduce._warm(run["ops"])) + len(reduce._warm(run["ops"], True))
    if (reduce.supported_percentile(warm) or 0) < reduce.TAIL_PCT:
        failures.append(f"{warm} warm ops cannot support p{reduce.TAIL_PCT}")
    for f in failures:
        log(f"FAIL {f}")

    if a.trace:
        trace = json.load(open(os.path.join(out, "trace.json")))
        metrics = reduce.as_metrics(reduce.per_layer(run, trace, gen_s, steal_pct),
                                    reduce.PER_LAYER)
    else:
        metrics = reduce.as_metrics(reduce.end_to_end(run), reduce.END_TO_END)
    print(json.dumps({"correct": not failures, "attempted": len(run["ops"]),
                      "failed": sum(1 for o in run["ops"] if not o["ok"]),
                      "metrics": metrics}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

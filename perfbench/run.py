#!/usr/bin/env python3
"""Migration benchmark runner.

    python3 perfbench/run.py --workload catalog_many --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program and the benchmark
from source (once per change of the sources), builds the one-off inputs
(once per checkout), runs the workload in its own JVM at local[4], checks
its outputs, and prints one JSON object as the last stdout line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything it writes goes under .bench_build/ in the checkout. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("catalog_many", "jdbc_live")
CORES = 4
HEAP = "2g"
# a run must end within RUN_BUDGET_S, or FIRST_RUN_BUDGET_S when it builds
RUN_BUDGET_S = 175
FIRST_RUN_BUDGET_S = 890

OPENS = [
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


def run_logged(cmd, cwd, env, logname, timeout):
    """Run cmd in its own process group with output to a log; kill the group
    on timeout. Returns (returncode, stdout lines)."""
    path = os.path.join(WORK, "logs", logname)
    with open(path, "w") as errf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=errf, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            log(f"{logname}: timed out after {timeout} s")
            return -1, []
    with open(path, "a") as errf:
        errf.write(out)
    if p.returncode != 0:
        log(f"{logname}: exit {p.returncode}, see {path}")
    return p.returncode, out.splitlines()


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (PROGRAM, os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + benchmark with sbt offline; returns the classpath
    and the digest of the sources it was built from."""
    stamp_path = os.path.join(WORK, "build.stamp")
    cp_path = os.path.join(WORK, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(cp_path) and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read() == digest:
                with open(cp_path) as g:
                    return g.read().strip(), digest
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=(os.environ.get("SBT_OPTS", "") + " -Dsbt.offline=true "
                         "-Dsbt.server.autostart=false").strip())
    t0 = time.time()
    rc, lines = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           HERE, env, "build.log", FIRST_RUN_BUDGET_S - 200)
    cps = [l for l in lines if "perfbench" in l and l.count(":") > 2 and not l.startswith("[")]
    if rc != 0 or not cps:
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_path, "w") as f:
        f.write(cps[-1])
    with open(stamp_path, "w") as f:
        f.write(digest)
    return cps[-1], digest


def jvm(classpath):
    cmd = ["java"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed heap, so how often G1 collects is the same in every run: left
    # to grow, G1 sizes the heap by GC pressure, which follows CPU contention
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Dderby.stream.error.file={os.path.join(WORK, 'derby.log')}",
            f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'spark-warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Run"]
    # policy comes from the data tier alone: drop the engine's A/B overrides
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(CORES)
    return cmd, env


def result_of(lines):
    rs = [l[len("RESULT "):] for l in lines if l.startswith("RESULT ")]
    return json.loads(rs[-1]) if rs else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(PROGRAM):
        log(f"no program sources at {os.path.relpath(PROGRAM, os.getcwd())}; "
            "run from the root of a checkout")
        return 2
    t_start = time.time()
    budget = RUN_BUDGET_S
    for d in ("logs", "tmp", "records", "derby"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    if not os.path.exists(os.path.join(WORK, "classpath.txt")):
        budget = FIRST_RUN_BUDGET_S
    classpath, digest = build()
    cmd, env = jvm(classpath)

    # inputs are built in their own JVM, never in the workload's
    one_off = [os.path.join(WORK, "tiers", t, "_READY") for t in ("base", "canon1", "canon10")]
    one_off.append(os.path.join(WORK, "derby", "source", "_READY"))
    seeded = ([os.path.join(WORK, "tiers", f"catalog-{a.seed}", "_READY")]
              if a.workload == "catalog_many" else [])
    if not all(os.path.exists(r) for r in one_off):
        budget = FIRST_RUN_BUDGET_S
    if not all(os.path.exists(r) for r in one_off + seeded):
        t0 = time.time()
        seed = [str(a.seed)] if seeded else []
        rc, _ = run_logged(cmd + ["prepare", WORK] + seed, ROOT, env, "prepare.log", 800)
        if rc != 0:
            return 1
        log(f"inputs built in {time.time() - t0:.1f} s")

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}"
    record = os.path.join(WORK, "records", f"{tag}.json")
    rc, lines = run_logged(cmd + ["run", WORK, a.workload, str(a.seed), str(a.seconds),
                                  str(a.trace), record, digest[:16]], ROOT, env, f"{tag}.log",
                           max(30, budget - (time.time() - t_start)))
    res = result_of(lines)
    if res is None:
        log("the workload JVM printed no result")
        return 1
    metrics = res["metrics"]
    for failure in res.get("failures", []):
        log(f"check failed: {failure}")
    out = {"correct": bool(res["correct"]) and rc == 0, "attempted": int(res["attempted"]),
           "failed": int(res["failed"]), "metrics": metrics}
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

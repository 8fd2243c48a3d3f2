#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 bench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

From the root of a checkout. The first run builds the harness
(bench/harness, compiled together with the library's src/main) with sbt
offline, and the first iq-live run writes its hot store; both are cached
under bench/.work and reused while the sources are unchanged. Each run starts
one JVM (graftbench.Main), which writes <out>/result.json plus detail
files; this script turns that into the one-line JSON result.

Exit codes: 0 the run finished (failed operations are reported in the
result, not as a crash); 2 the checkout cannot run the benchmark
(missing sources, test data or BENCHMARK.json); 3 build or preparation
failed; 4 the run timed out or crashed; 5 the run produced no complete
result.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
RUN_TIMEOUT_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar", "jdk.httpserver/sun.net.httpserver",
]


def die(code, msg):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(code)


def testdata_dir():
    d = os.environ.get("GRAFT_BENCH_TESTDATA", os.path.expanduser("~/testdata"))
    # catalog-floor reads sf0.001; the iq-live hot store is built from sf0.01
    for sf in ("sf0.001", "sf0.01"):
        if not os.path.isfile(os.path.join(d, sf, "lineitem.parquet")):
            die(2, f"test data {d}/{sf} not found (set GRAFT_BENCH_TESTDATA)")
    return d


def source_stamp():
    """Hash of everything the harness is compiled from."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src", "main")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_logged(cmd, cwd, env, log_path, timeout):
    """Runs `cmd` in its own process group, output to `log_path`; the whole
    group is killed on timeout. Returns the exit code, or None on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    # sbt's own scratch files (temp files, JVM perf data, the boot lock)
    # stay inside the checkout too
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp} -Dsbt.boot.lock=false"
    # every JVM the sbt script starts, its version probe included
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    return env


def ensure_built(stamp):
    """Compiles the harness unless the cached classpath matches the sources."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(HARNESS, "target", "classpath.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        die(2, "sbt not found")
    log = os.path.join(WORK, "build.log")
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                    HARNESS, sbt_env(), log, 840)
    if rc != 0 or not os.path.isfile(cp_file):
        die(3, f"harness build failed (see {log})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def java_cmd(cp, args):
    mem = os.environ.get("SPARK_DRIVER_MEM", "4g")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens +
            [f"-Xmx{mem}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false", "-Dsun.net.httpserver.nodelay=true",
             "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={tmp}",
             "-cp", cp, "graftbench.Main"] + args)


def java_env():
    env = dict(os.environ)
    # keep Spark's scratch space inside the checkout
    env.pop("SPARK_LOCAL_DIRS", None)
    return env


def ensure_prepared(cp, stamp, testdata, workload):
    """The iq-live hot store, written by library code (Serving) under
    bench/.work. It is rewritten whenever the sources differ from the ones
    that wrote it, so a change to the store layout never reads old data."""
    if workload != "iq-live":
        return
    done = os.path.join(WORK, "prepared-iq-live")
    if os.path.isfile(done):
        with open(done) as f:
            if f.read().strip() == stamp:
                return
        os.remove(done)
    shutil.rmtree(os.path.join(WORK, "hotstore"), ignore_errors=True)
    log = os.path.join(WORK, "prepare-iq-live.log")
    rc = run_logged(java_cmd(cp, ["prepare", WORK, testdata]), WORK, java_env(), log, 600)
    if rc != 0:
        die(3, f"iq-live data preparation failed (see {log})")
    with open(done, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die(2, "BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(2, f"unknown workload {a.workload}")
    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.isfile(os.path.join(ROOT, f)):
            die(2, f"{f} not found: run from a checkout of the repository")
    testdata = testdata_dir()
    os.makedirs(WORK, exist_ok=True)

    stamp = source_stamp()
    cp = ensure_built(stamp)
    ensure_prepared(cp, stamp, testdata, a.workload)

    out = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out, "--testdata", testdata, "--work", WORK,
            "--goldens", os.path.join(HERE, "goldens")]
    log = os.path.join(out, "jvm.log")
    rc = run_logged(java_cmd(cp, args), WORK, java_env(), log, RUN_TIMEOUT_S)
    if rc is None:
        die(4, f"run timed out after {RUN_TIMEOUT_S} s (see {log})")
    result_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.isfile(result_path):
        die(4, f"run exited with {rc} (see {log})")
    with open(result_path) as f:
        res = json.load(f)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if not isinstance(v, (int, float)) or math.isnan(v) or math.isinf(v):
            die(5, f"metric {m['name']} missing from the run (see {result_path})")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for fail in res.get("failures", [])[:5]:
        print(f"failed: {fail}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()

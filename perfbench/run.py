#!/usr/bin/env python3
"""Benchmark of the graft engine: ETL load, similarity search and
similarity-hash workloads, timed end to end, with a traced run for the
per-layer numbers.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --record      # rewrite perfbench/expected.json

Run it from a checkout of the repository. The first run builds the engine
and the harness from source with sbt (offline), caches the classpath and
generates the 10x ScaleUp data under .bench_build/; later runs reuse both.
Each run is one JVM: set-up, a cold pass, warm passes for --seconds, then
the output check. The last line of stdout is the result as JSON; the full
record of the run is written to .bench_build/results/.
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
BUILD = os.path.join(ROOT, ".bench_build")
BASE_DATA = os.path.join(HERE, "data", "sf0.01")
SCALED_DATA = os.path.join(BUILD, "data", "sf0.01x10")
EXPECTED = os.path.join(HERE, "expected.json")

BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_key():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_logged(cmd, cwd, env, log, timeout):
    """Run cmd in its own process group, output to log; kill the group on timeout."""
    with open(log, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=out, start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"{' '.join(cmd[:1])} timed out after {timeout}s; see {log}")
    return p.returncode, stdout.decode()


def tail(log, n=30):
    with open(log, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def build():
    """Compile engine and harness with sbt, once per source state; return the classpath."""
    key = sources_key()
    cp_file = os.path.join(BUILD, f"classpath-{key}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else []) + ["-Dsbt.offline=true", "-Xmx2g"]))
    log = os.path.join(BUILD, "logs", "build.log")
    code, out = run_logged(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export perfbench/Runtime/fullClasspath"],
        HERE, env, log, BUILD_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if code != 0 or not lines:
        die(f"build failed (exit {code}); see {log}\n{tail(log)}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java(cp, mode, extra, log):
    tmp = os.path.join(BUILD, "tmp")
    local = os.path.join(BUILD, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main", mode,
              "--cores", str(cores()), "--base", BASE_DATA, "--scaled", SCALED_DATA,
              "--expected", EXPECTED, "--local", local] + extra)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    return run_logged(cmd, ROOT, env, log, RUN_TIMEOUT_S if mode == "run" else BUILD_TIMEOUT_S)


def ensure_data(cp):
    """The 10x ScaleUp copy of the committed base tables, made once per checkout."""
    if os.path.exists(os.path.join(SCALED_DATA, "_FINGERPRINT.json")):
        return
    shutil.rmtree(SCALED_DATA + ".tmp", ignore_errors=True)
    log = os.path.join(BUILD, "logs", "generate.log")
    code, _ = java(cp, "generate", ["--out", os.path.join(BUILD, "out")], log)
    if code != 0:
        die(f"data generation failed (exit {code}); see {log}\n{tail(log)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record expected outputs from the current code")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the engine's sources (build.sbt, src/main/scala/graft) are not in this checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not a.record and a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload!r}")
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    cp = build()
    ensure_data(cp)
    if a.record:
        out = os.path.join(BUILD, "record")
        code, _ = java(cp, "record", ["--out", out], os.path.join(BUILD, "logs", "record.log"))
        if code != 0:
            die(f"record failed (exit {code})")
        print(f"wrote {EXPECTED}; results and oracle SQL for the cross-check in {out}")
        return

    out = os.path.join(BUILD, "out", a.workload)
    os.makedirs(out, exist_ok=True)
    tag = f"{a.workload}_seed{a.seed}_trace{a.trace}"
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    code, stdout = java(cp, "run", ["--out", out, "--workload", a.workload, "--seed", str(a.seed),
                                    "--seconds", str(a.seconds), "--trace", str(a.trace)], log)
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if code != 0 or not lines:
        die(f"run failed (exit {code}); see {log}\n{tail(log)}")
    r = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    artifact = os.path.join(BUILD, "results", f"{tag}.json")
    with open(artifact, "w") as fh:
        json.dump(r, fh, indent=1)

    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    metrics = r["metrics"]
    if sorted(want) != sorted(metrics):
        die(f"metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(want)}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  cores {r['cores']}  "
          f"loadavg at start {r['loadavg_start']}")
    data_fp = hashlib.sha256(json.dumps(r["data_fingerprint"], sort_keys=True).encode()).hexdigest()
    print(f"data fingerprint {data_fp[:16]} (per table in the record)")
    print(f"{'query':34s} {'cold_s':>8s} {'warm_median_s':>14s}  session memo")
    for q, v in sorted(r["per_query"].items()):
        print(f"{q:34s} {v['cold_s']:8.3f} {v['warm_median_s']:14.3f}  {v['session_memo'] or '-'}")
    for name in want:
        print(f"{name:34s} {metrics[name]:.6g} {units[name]}")
    print(f"{'failed_frac':34s} {r['failed'] / r['attempted']:.6g} ratio")
    for f in r["failures"]:
        print(f"FAILED {f}")
    print(f"record: {os.path.relpath(artifact, ROOT)}")
    if a.trace:
        print(f"spans: {os.path.relpath(os.path.join(out, f'trace_{a.workload}_seed{a.seed}.json'), ROOT)}")
    print(json.dumps({
        "correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in want}}))
    sys.exit(0 if r["correct"] else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result.

Usage, from the repository root:

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

The first call builds the harness and the library sources it measures with
sbt (offline) into perfbench/target; later calls reuse that build while no
source or build file has changed. Each run starts a fresh JVM in a fresh
work directory under perfbench/work (removed when the run ends) and writes
its files under perfbench/out/<workload>-seed<seed>-trace<0|1>/.

The last line on stdout is the run's result: one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer metrics.
The lines before it print every metric of the run by name with its unit.

--smoke runs every workload briefly on tiny inputs, traced and untraced,
and checks that each run passes its output checks and reports every metric
BENCHMARK.json names, with its unit.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SOURCES = ROOT / "src" / "main" / "scala"
HARNESS_SOURCES = HERE / "src" / "main" / "scala"
BUILD_FILES = [HERE / "build.sbt", HERE / "project" / "build.properties"]
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "perfbench.sources.sha256"
WORKLOADS = ("serve_mixed", "scan_mutate", "curate_stream")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """SHA-256 over every source and build file the build reads."""
    h = hashlib.sha256()
    files = sorted(p for d in (PROGRAM_SOURCES, HARNESS_SOURCES)
                   for p in d.rglob("*.scala")) + BUILD_FILES
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the `unmanagedBase` directory the
    library's own build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    if m is None:
        fail("no Spark jars: set SPARK_HOME")
    return Path(m.group(1))


def build(digest):
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == digest:
        return
    env = dict(os.environ)
    env["PERFBENCH_SPARK_JARS"] = str(spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    sbt_opts = "-Dsbt.offline=true -Xmx2g"
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        sbt_opts = (f"-Dsbt.override.build.repos=true "
                    f"-Dsbt.repository.config={repos} " + sbt_opts)
    env.setdefault("SBT_OPTS", sbt_opts)
    log = HERE / "target" / "build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", "compile"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out, see {log}")
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed, see {log}")
    STAMP.write_text(digest)


def commit():
    if not (ROOT / ".git").exists():
        return "none"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def boot_id():
    try:
        return Path("/proc/sys/kernel/random/boot_id").read_text().strip()
    except OSError:
        return "unknown"


def result_line(outcome, trace):
    """The run's result: outcome plus the metrics BENCHMARK.json names for
    this mode, each exactly as measured."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    group, measured = (("per_layer", outcome["per_layer"]) if trace
                       else ("end_to_end", outcome["end_to_end"]))
    metrics = {}
    for m in spec[group]:
        got = measured.get(m["name"])
        if got is None or got["value"] is None:
            fail(f"metric {m['name']} was not measured", 5)
        if got["unit"] != m["unit"]:
            fail(f"metric {m['name']} has unit {got['unit']}, "
                 f"BENCHMARK.json says {m['unit']}", 5)
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}
    return {"correct": outcome["correct"], "attempted": outcome["attempted"],
            "failed": outcome["failed"], "metrics": metrics}


def run_one(workload, seed, seconds, trace, smoke, digest):
    """Run one workload in a fresh JVM; returns (result, detail, layers)."""
    name = f"{workload}-seed{seed}-trace{trace}" + ("-smoke" if smoke else "")
    out = HERE / "out" / name
    work = HERE / "work" / f"{name}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    out.mkdir(parents=True)
    (work / "tmp").mkdir(parents=True)
    java = (Path(os.environ["JAVA_HOME"]) / "bin" / "java"
            if "JAVA_HOME" in os.environ else "java")
    cmd = ([str(java)]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
              "-cp", f"{CLASSES}{os.pathsep}{spark_jars() / '*'}",
              "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--smoke", "1" if smoke else "0",
              "--work", str(work), "--out", str(out),
              "--commit", commit(), "--source-sha", digest,
              "--boot-id", boot_id()])
    log = out / "jvm.log"
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=work, stdout=lf,
                                    stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"{workload} did not finish in {RUN_LIMIT_S} s, "
                     f"see {log}", 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not (out / "result.json").is_file():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"{workload} exited with {rc}, see {log}", 4)
    load = lambda f: json.loads((out / f).read_text())
    layers = load("layers.json") if trace else {}
    return (result_line(load("result.json"), trace), load("detail.json"),
            layers)


def show(detail, layers):
    env = detail["env"]
    print("env " + json.dumps(env, sort_keys=False))
    for group in ("end_to_end", "workload_metrics"):
        for k, m in detail[group].items():
            print(f"{group} {k} {m['value']} {m['unit']}")
    for k, m in layers.items():
        print(f"per_layer {k} {m['value']} {m['unit']}")
    print(f"checks {detail['checks']} failed {detail['failed']} "
          f"of {detail['attempted']} attempted")
    for note in detail["check_failures"]:
        print(f"check_failure {note}")


def smoke(digest):
    """Every workload, untraced and traced, on tiny inputs: each run must
    pass its checks and report every BENCHMARK.json metric with its unit
    (result_line exits otherwise)."""
    problems = []
    for wl in WORKLOADS:
        for trace in (0, 1):
            started = time.time()
            result, detail, layers = run_one(wl, 1, 4, trace, True, digest)
            if not result["correct"] or result["failed"]:
                problems.append(f"{wl} trace={trace}: checks failed: "
                                f"{detail['check_failures']}")
            print(f"smoke {wl} trace={trace} correct={result['correct']} "
                  f"attempted={result['attempted']} "
                  f"({time.time() - started:.0f} s)")
    for p in problems:
        print(f"smoke problem: {p}")
    print("smoke " + ("FAILED" if problems else "ok"))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not (PROGRAM_SOURCES / "graft").is_dir():
        fail(f"program sources not found under {PROGRAM_SOURCES}; run from "
             "a checkout of the repository")
    if not a.smoke and a.workload is None:
        fail("--workload is required")
    digest = source_digest()
    build(digest)
    if a.smoke:
        sys.exit(smoke(digest))
    result, detail, layers = run_one(a.workload, a.seed, a.seconds, a.trace,
                                     False, digest)
    show(detail, layers)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()

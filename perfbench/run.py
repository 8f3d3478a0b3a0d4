#!/usr/bin/env python3
"""Run one benchmark workload for one seed in a fresh JVM.

Usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds first if the sources changed (perfbench/build.py) and, in a JVM of
its own, the workloads' prebuilt state and a class-data archive if they are
missing. The last line of stdout is the result: `correct`, `attempted`,
`failed` and `metrics`, where
the metrics are every `end_to_end` metric of BENCHMARK.json (--trace 0) or
every `per_layer` one (--trace 1); a per-layer metric the workload does not
exercise reads 0. The line before it lists every metric the run measured.
Exits 1 when an output check failed, 2 on any other error (then no result
line is printed).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

# What spark-submit passes on JDK 17 (Spark's JavaModuleOptions), as the
# repository's build.sbt does for `sbt run`.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "2g"
# JVM log output (class-data sharing warnings among it) goes to stderr, so
# stdout stays the result
JVM_LOG = ["-Xlog:disable", "-Xlog:all=warning:stderr"]
JVM_LIMIT_S = 170
PREPARE_LIMIT_S = 600


def die(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jar, jars, source_sha = build.build()

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    rev = commit()
    state = os.path.join(build.OUT, "state", source_sha)
    archive = os.path.join(state, "classes.jsa")

    def jvm(workload, flags=(), args=()):
        # -XX:-UsePerfData: no hsperfdata file outside the checkout
        return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *JVM_LOG, *flags]
                + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
                + [f"-Djava.io.tmpdir={work}/tmp", "-cp", f"{jar}{os.pathsep}{os.path.join(jars, '*')}",
                   "perfbench.Main", "--workload", workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
                   "--state", state, "--commit", rev, "--source-sha", source_sha, *args])

    try:
        # Prebuilt state is built in a JVM of its own, so the measured JVM
        # always starts cold; every workload's at once, so only a checkout's
        # first run pays for it. That JVM also dumps the classes it loaded
        # (Spark's and graft's) into a class-data archive which every
        # measured JVM maps: class loading then costs seconds less per run
        # and weighs less against the program's own work.
        if not os.path.exists(os.path.join(state, "_READY")):
            shutil.rmtree(state, ignore_errors=True)
            os.makedirs(state)
            subprocess.run(jvm("all", [f"-XX:ArchiveClassesAtExit={archive}"], ["--prepare", "1"]),
                           stdout=sys.stderr, cwd=work, check=True, timeout=PREPARE_LIMIT_S)
            open(os.path.join(state, "_READY"), "w").close()
        cds = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
        p = subprocess.run(jvm(a.workload, cds), stdout=subprocess.PIPE, text=True, cwd=work, timeout=JVM_LIMIT_S)
        lines = p.stdout.strip().splitlines()
        if p.returncode not in (0, 1) or not lines:
            sys.stderr.write(p.stdout)
            die(f"benchmark JVM exited with {p.returncode}")
        result = json.loads(lines[-1])
        trace = os.path.join(work, f"trace-{a.workload}-{a.seed}.json")
        if os.path.exists(trace):
            shutil.copyfile(trace, os.path.join(ROOT, ".bench_work", os.path.basename(trace)))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    metrics = {}
    for m in wanted:
        got = result["metrics"].get(m["name"])
        if got is None:
            if a.trace == 0:
                die(f"run did not measure end-to-end metric {m['name']}")
            got = {"value": 0.0, "unit": m["unit"]}
        if got["unit"] != m["unit"]:
            die(f"{m['name']}: unit {got['unit']} != {m['unit']} in BENCHMARK.json")
        metrics[m["name"]] = got
    for line in lines[:-1]:
        print(line)
    # everything the run measured, including metrics BENCHMARK.json does not list
    print(json.dumps({"measured": result["metrics"]}))
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except Exception as e:  # build or launch failure: no result line
        die(e)

"""Benchmark entry point: builds the program from source, then runs one
workload in one JVM and relays its result line.

    python3 perfbench/run.py --workload etl_report --seed 1 --seconds 10 --trace 0

Workloads: etl_report, curate_search (see README.md). Per-run artifacts (setup
breakdown, every sample, host steal/load, spans and jobs of a traced run)
land in .bench_build/perfbench/artifacts/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing but .bench_build behind
import build  # noqa: E402

RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
TIMEOUT_S = 170
HEAP = "4g"  # fixed JVM heap (-Xms = -Xmx), stated in BENCHMARK.json

# Spark on JDK 17 outside spark-submit needs these (the module options
# spark-submit would inject).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=["etl_report", "curate_search"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    p.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = p.parse_args()
    if not a.selftest and not a.workload:
        p.error("--workload is required")
    return a


def java_cmd(a, classpath, work, artifacts):
    props = {
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "derby.system.home": os.path.join(work, "derby"),
        "graft.tmp.dir": os.path.join(work, "tmp"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
        "log4j2.configurationFile": os.path.join(HERE, "log4j2.properties"),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "perfbench.root": os.path.dirname(HERE),
    }
    if a.selftest or a.trace == "1":
        # full call-site stacks for the traced run's job attribution
        props["spark.callstack.depth"] = "400"
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # code cache as the root build sets it: Spark compiles a class per
    # codegen stage, and a full cache stops the JIT
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
           "-XX:+UseCodeCacheFlushing", "-XX:-UsePerfData"]
    cmd += [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
    cmd += [f"-D{k}={v}" for k, v in props.items()]
    cmd += ["-cp", os.pathsep.join(classpath)]
    if a.selftest:
        return cmd + ["perfbench.SelfTest", "--work", work]
    return cmd + [
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work", work, "--artifacts", artifacts,
    ]


def main():
    a = parse()
    try:
        classpath = build.build(log=sys.stderr)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    tag = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(build.OUT, "work", f"{tag}-{os.getpid()}")
    artifacts = os.path.join(build.OUT, "artifacts")
    os.makedirs(work, exist_ok=True)
    proc = subprocess.Popen(java_cmd(a, classpath, work, artifacts), stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, cwd=work)

    def stop(signum, _frame):
        # the finally below kills and reaps the JVM and removes its work dir
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: {tag} exceeded {TIMEOUT_S}s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [line for line in out.splitlines() if line.strip()]
    if proc.returncode != 0 or not lines:
        print(f"perfbench: {tag} exited with {proc.returncode}", file=sys.stderr)
        sys.stderr.write(out[-4000:])
        return proc.returncode or 4
    if a.selftest:
        print(lines[-1])
        return 0
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        result = None
    if not isinstance(result, dict) or set(result) != RESULT_KEYS:
        print(f"perfbench: {tag} printed no result line", file=sys.stderr)
        sys.stderr.write(out[-4000:])
        return 5
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the harness from
source (perfbench/build.py), runs one workload in a fresh JVM under
local[4], and prints as its last line one JSON object with the keys
correct, attempted, failed and metrics. Inputs, warehouses, checkpoints
and the JVM's temp files live in a per-run directory under .bench_build
that is removed afterwards; a traced run leaves its spans in
.bench_build/traces/. See perfbench/NOTES.md for the workloads and
metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("corpus_curation", "adclick_stream")
# the JDK module openings Spark needs outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def java(main_class, work, args):
    """The command that runs `main_class` of the harness in a fresh JVM
    whose temp files, Derby home and Spark local dirs are under `work`."""
    classes, jars = build.build()
    here = os.path.dirname(os.path.abspath(__file__))
    return ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData", *ADD_OPENS,
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join([classes, build.classpath(jars)]),
            main_class, *args, "--work", work]


def fresh_work():
    work = os.path.join(build.BUILD, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    here = os.path.dirname(os.path.abspath(__file__))
    traces = os.path.join(build.BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    spans = os.path.join(traces, f"{args.workload}-{args.seed}.jsonl")
    work = fresh_work()
    cmd = java("perfbench.Main", work, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--spans", spans, "--digests", os.path.join(here, "digests.tsv")])
    try:
        # a run must end within 180 s; a hung JVM is killed and reported
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=work,
                              env=env, timeout=170)
    except subprocess.TimeoutExpired:
        sys.exit("run.py: the benchmark JVM did not finish within 170 s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.exit(f"run.py: the benchmark JVM exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()

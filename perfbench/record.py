"""Records the corpus_curation result digests the benchmark checks
every timed pass against, for a range of seeds:

    python3 perfbench/record.py --from 0 --to 99 > perfbench/digests.tsv

Run from the repository root, on a commit whose results are known to be
right; a seed whose plain-Scala checks fail stops the recording.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--from", dest="first", required=True, type=int)
    ap.add_argument("--to", dest="last", required=True, type=int)
    args = ap.parse_args()
    work = run.fresh_work()
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    try:
        proc = subprocess.run(
            run.java("perfbench.RecordDigests", work,
                     ["--from", str(args.first), "--to", str(args.last)]),
            stdout=subprocess.PIPE, text=True, cwd=work, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.exit(f"record.py: the recording JVM exited with code {proc.returncode}")
    sys.stdout.write("".join(l + "\n" for l in proc.stdout.splitlines() if l.count("\t") == 2))


if __name__ == "__main__":
    main()

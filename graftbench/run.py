#!/usr/bin/env python3
"""graft benchmark: one seeded workload, measured for a fixed time.

    python3 graftbench/run.py --workload geotag_join --seed 1 --seconds 10 --trace 0
    python3 graftbench/run.py --selftest

Builds the engine and the benchmark from source on first use (build.py),
then runs graftbench.Main in one JVM against a local[nproc] Spark session.
The last line of standard output is the result object:
{"correct": .., "attempted": .., "failed": .., "metrics": {..}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, and the span trace is written as JSONL under the build
dir. All scratch data lives under the build dir and is removed on exit.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("geotag_join", "geo_cluster", "pipelines", "cadastre_pipeline", "corpus_pipeline")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")

    jar = build.build()
    work = os.path.join(build.build_dir(), "graftbench", "run-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.jvm(work)
    if os.path.exists(build.archive_path(jar)):
        cmd += ["-XX:SharedArchiveFile=" + build.archive_path(jar)]
    cmd += build.classpath(jar) + ["graftbench.Main", "--work", work]
    if a.selftest:
        cmd += ["--selftest"]
    else:
        trace_out = os.path.join(build.build_dir(), "graftbench",
                                 "trace-%s-%d.jsonl" % (a.workload, a.seed))
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--trace-out", trace_out]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                           timeout=170 if not a.selftest else 900, cwd=work)
    except subprocess.TimeoutExpired:
        sys.stderr.write("graftbench: run timed out\n")
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = r.stdout.decode()
    sys.stdout.write(out)
    sys.stdout.flush()
    if r.returncode != 0:
        sys.stderr.write("graftbench: JVM exited with %d\n" % r.returncode)
        return r.returncode
    return 0


if __name__ == "__main__":
    sys.exit(main())

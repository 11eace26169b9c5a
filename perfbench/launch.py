"""Driver wrapper: runs one production job file unchanged inside
spark-submit and reports when its SparkSession became ready.

    spark-submit --master local[N] --py-files <pkg.zip> perfbench/launch.py \
        --job jobs/extract.py --report <report.json> \
        [--trace-file <trace.json> --run-id <id>] \
        -- <job arguments>

Untraced, the only hook is on ``SparkSession.Builder.getOrCreate``: the
first return is the end of set-up. With ``--trace-file`` the tracer
additionally times the calls into each layer's public functions and
reads the executed plans (see tracer.py).
"""

from __future__ import annotations

import argparse
import json
import os
import runpy
import sys
import time
import traceback


def main() -> int:
    argv = sys.argv[1:]
    split = argv.index("--")
    own, job_args = argv[:split], argv[split + 1:]
    ap = argparse.ArgumentParser()
    ap.add_argument("--job", required=True)
    ap.add_argument("--report", required=True)
    ap.add_argument("--trace-file")
    ap.add_argument("--run-id", default="")
    args = ap.parse_args(own)

    from pyspark.sql import SparkSession

    report = {}
    get_or_create = SparkSession.Builder.getOrCreate

    def timed_get_or_create(self):
        spark = get_or_create(self)
        report.setdefault("session_ready", time.time())
        return spark

    SparkSession.Builder.getOrCreate = timed_get_or_create

    tracer = None
    if args.trace_file:
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from tracer import Tracer
        tracer = Tracer(args.run_id)
        tracer.install()

    sys.argv = [args.job] + job_args
    code = 0
    try:
        runpy.run_path(args.job, run_name="__main__")
    except SystemExit as exc:
        code = exc.code if isinstance(exc.code, int) else int(bool(exc.code))
    except Exception:  # report the job's failure as its exit code
        traceback.print_exc()
        code = 1
    if tracer is not None:
        tracer.write(args.trace_file)
    with open(args.report, "w", encoding="utf-8") as f:
        json.dump(report, f)
    return code


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""docling_spark benchmark: the two production jobs, end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. The seed generates the workload's
input parquet; the job (jobs/extract.py or jobs/curate.py) is launched
through spark-submit at local[N], N = usable cores, by one closed-loop
client: the next launch starts when the previous one has exited. Every
launch's committed snapshot is checked against the expected rows.

--trace 0 launches the job repeatedly for --seconds (at least twice)
and prints the end-to-end metrics as medians over the launches.
--trace 1 makes three launches -- untraced local[N], traced local[N],
untraced local[1] -- and prints the per-layer metrics; the spans and
counters go to .perfbench_work/traces/<workload>-seed<seed>.json.

The last stdout line is one JSON object: correct, attempted (docs
submitted), failed (docs of launches that failed or committed wrong
rows) and metrics. Exit status 1 when any check fails, 2 on a usage or
environment error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import jobrun  # noqa: E402
import layers  # noqa: E402
import verify  # noqa: E402
import workloads  # noqa: E402

MAX_LAUNCHES = 8
RUN_BUDGET_S = 165.0  # launches end by then: a run must end within 180 s

END_TO_END = {"docs_per_s": "docs/s", "setup_s": "s", "peak_rss_mb": "MB",
              "ok_share": "ratio"}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def run_checked(launcher, inputs, pre_files, deadline: float, *,
                cores_: int, traced: bool = False):
    launch = launcher.run(inputs.job, inputs.input_arg, cores=cores_,
                          lake_template=inputs.lake_template, traced=traced,
                          timeout=max(5.0, deadline - time.monotonic()))
    if launch.exit != 0 or "session_ready" not in launch.report:
        outcome = verify.Outcome(False, [f"job exited {launch.exit}: "
                                         f"{launch.stderr_tail[-1500:]}"],
                                 0, inputs.n_docs)
    else:
        outcome = verify.check(inputs, launch.lake, pre_files)
    kind = "traced" if traced else "untraced"
    log(f"{kind} local[{cores_}] exit={launch.exit} ok={outcome.ok} "
        f"setup={launch.report.get('session_ready', 0) - launch.launched:.2f}s "
        f"rows={outcome.new_rows} digest={outcome.digest}"
        + ("" if outcome.ok else f" expected={outcome.expected_digest} "
           f"problems={outcome.problems}"))
    return launch, outcome


def _drop_lake(launch) -> None:
    shutil.rmtree(launch.lake, ignore_errors=True)


def untraced(launcher, inputs, pre_files, seconds: float, n: int,
             deadline: float) -> dict:
    runs = []
    t0 = time.monotonic()
    while len(runs) < MAX_LAUNCHES:
        elapsed = time.monotonic() - t0
        if runs and elapsed >= seconds:
            break
        if runs and time.monotonic() + elapsed / len(runs) > deadline:
            break
        launch, outcome = run_checked(launcher, inputs, pre_files, deadline,
                                      cores_=n)
        runs.append((launch, outcome))
        _drop_lake(launch)
        if not outcome.ok:
            break
    correct = all(o.ok for _, o in runs)
    attempted = inputs.n_docs * len(runs)
    failed = sum(inputs.n_docs for _, o in runs if not o.ok)
    if not correct:
        return {"correct": False, "attempted": attempted,
                "failed": max(failed, 1), "metrics": {}}
    dps = [o.settled / verify.job_wall(l, o) for l, o in runs]
    setup = [l.setup_s for l, _ in runs]
    rss = [l.peak_rss / 2 ** 20 for l, _ in runs]
    ok_share = 1 - sum(o.failed for _, o in runs) / attempted
    for name, vals in (("docs_per_s", dps), ("setup_s", setup),
                       ("peak_rss_mb", rss)):
        log(f"{name}: median {statistics.median(vals):.4f} "
            f"min {min(vals):.4f} max {max(vals):.4f} n={len(vals)}")
    values = {"docs_per_s": statistics.median(dps),
              "setup_s": statistics.median(setup),
              "peak_rss_mb": statistics.median(rss),
              "ok_share": ok_share}
    return {"correct": True, "attempted": attempted, "failed": 0,
            "metrics": {k: {"value": v, "unit": END_TO_END[k]}
                        for k, v in values.items()}}


def traced_run(launcher, inputs, pre_files, n: int, trace_out: str,
               deadline: float) -> dict:
    base = run_checked(launcher, inputs, pre_files, deadline, cores_=n)
    _drop_lake(base[0])
    traced = run_checked(launcher, inputs, pre_files, deadline, cores_=n,
                         traced=True)
    _drop_lake(traced[0])
    single = run_checked(launcher, inputs, pre_files, deadline, cores_=1)
    _drop_lake(single[0])
    runs = (base, traced, single)
    attempted = inputs.n_docs * len(runs)
    if not all(o.ok for _, o in runs):
        failed = sum(inputs.n_docs for _, o in runs if not o.ok)
        return {"correct": False, "attempted": attempted, "failed": failed,
                "metrics": {}}
    with open(traced[0].trace_file, encoding="utf-8") as f:
        trace = json.load(f)
    serial = layers.serial_parse(inputs.sample)
    values = layers.compute(inputs, base, traced, single, serial, trace, n)
    os.makedirs(os.path.dirname(trace_out), exist_ok=True)
    with open(trace_out, "w", encoding="utf-8") as f:
        json.dump({"run_id": trace["run_id"], "spans": trace["spans"],
                   "counters": values,
                   "executions": [{"span": e["span"], "func": e["func"],
                                   "duration_s": e["duration_s"],
                                   "nodes": len(e["nodes"])}
                                  for e in trace["executions"]]}, f, indent=1)
    log(f"trace written to {os.path.relpath(trace_out, ROOT)}")
    return {"correct": True, "attempted": attempted, "failed": 0,
            "metrics": {k: {"value": v, "unit": layers.PER_LAYER[k]}
                        for k, v in values.items()}}


def main(argv=None) -> int:
    deadline = time.monotonic() + RUN_BUDGET_S
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("jobs/extract.py", "jobs/curate.py",
                           "docling_spark/__init__.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"not a docling_spark checkout, missing: {missing}")
        return 2
    sys.path.insert(0, ROOT)  # docling_spark, for pool builders and parsers
    if args.workload not in workloads.GENERATORS:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.GENERATORS)}")
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t = time.monotonic()
        inputs = workloads.GENERATORS[args.workload](
            args.seed, work, workloads.Pools(os.path.join(base, "cache")))
        pre_files = (verify.file_stats(inputs.lake_template)
                     if inputs.lake_template else {})
        n = cores()
        launcher = jobrun.Launcher(ROOT, work, partitions=n)
        log(f"{args.workload} seed={args.seed}: {inputs.n_docs} docs, "
            f"inputs in {time.monotonic() - t:.1f}s, local[{n}]")
        if args.trace:
            trace_out = os.path.join(
                base, "traces", f"{args.workload}-seed{args.seed}.json")
            result = traced_run(launcher, inputs, pre_files, n, trace_out,
                                deadline)
        else:
            result = untraced(launcher, inputs, pre_files, args.seconds, n,
                              deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

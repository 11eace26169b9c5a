#!/usr/bin/env python3
"""Freeze the expected rows of the pool documents.

    python3 perfbench/freeze.py

Builds every pool variant once (heavy HTML pages, PDFs, Office, md,
csv, corrupt payloads), extracts them with jobs/extract.py through the
same spark-submit launch the benchmark uses, and writes
perfbench/frozen.json: for each variant the digest of its payload and
of the (status, spans) row the job committed. Re-run it only when a
change to the parsers is meant to change their output; the benchmark
fails on any row that differs from the frozen one.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import jobrun  # noqa: E402
import workloads as wl  # noqa: E402
from verify import data_files, row_digests  # noqa: E402


def main() -> int:
    import pyarrow.parquet as pq

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"freeze-{os.getpid()}")
    os.makedirs(work)
    try:
        rows, shas = [], {}
        for pool, spec in wl.POOLS.items():
            for v in range(spec.size):
                kind, payload = spec.build(v)
                key = f"{pool}/{v}"
                shas[key] = wl.payload_sha(kind, payload)
                rows.append((key, [(kind, payload, "", 0)]))
        in_dir = os.path.join(work, "input")
        wl.write_input(rows, in_dir)
        launcher = jobrun.Launcher(ROOT, work, partitions=os.cpu_count())
        launch = launcher.run("extract", in_dir, cores=os.cpu_count(),
                              timeout=600)
        if launch.exit != 0:
            print(launch.stderr_tail, file=sys.stderr)
            return 1
        with open(os.path.join(launch.lake, "_snapshots.json")) as f:
            entry = json.load(f)["snapshots"][-1]
        table = pq.read_table(data_files(entry["data"]))
        digests, dups = row_digests(table)
        status = dict(zip(table.column("doc_id").to_pylist(),
                          table.column("status").to_pylist()))
        n_spans = dict(zip(table.column("doc_id").to_pylist(),
                           table.column("n_spans").to_pylist()))
        if dups or set(digests) != set(shas):
            print(f"freeze: {dups} duplicate rows, "
                  f"{len(set(shas) - set(digests))} missing", file=sys.stderr)
            return 1
        frozen = {"variants": {
            key: {"payload_sha": shas[key], "row": digests[key],
                  "status": status[key], "n_spans": n_spans[key]}
            for key in sorted(shas)}}
        with open(wl.FROZEN_PATH, "w", encoding="utf-8") as f:
            json.dump(frozen, f, indent=1, sort_keys=True)
            f.write("\n")
        by_status = {}
        for s in status.values():
            by_status[s] = by_status.get(s, 0) + 1
        print(f"froze {len(shas)} pool rows: {by_status}")
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

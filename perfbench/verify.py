"""Correctness check of one launch: read the committed snapshot table
with pyarrow and compare it, row by row and as an order-insensitive
digest, against the expected rows of the workload."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Dict, List

import pyarrow.parquet as pq

from workloads import Inputs, curate_digest, span_digest, table_digest


@dataclass
class Outcome:
    ok: bool
    problems: List[str]
    settled: int            # input docs committed now or already committed
    failed: int             # failure rows + docs missing from the snapshot
    committed_at: float = 0.0
    new_rows: int = 0
    digest: str = ""
    expected_digest: str = ""
    wall_us: Dict[str, int] = field(default_factory=dict)  # doc_id → wall
    failure_modules: Dict[str, int] = field(default_factory=dict)
    snapshot_bytes: int = 0
    snapshot_files: int = 0


def data_files(path: str) -> List[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet") and not f.startswith((".", "_")))


def row_digests(table) -> tuple:
    """doc_id → row digest of a committed extraction table, and the
    number of doc_ids seen more than once."""
    rows: Dict[str, str] = {}
    dups = 0
    spans = table.column("spans").to_pylist()
    for doc_id, sp, status in zip(table.column("doc_id").to_pylist(), spans,
                                  table.column("status").to_pylist()):
        if doc_id in rows:
            dups += 1
        rows[doc_id] = span_digest(
            status, [(s["kind"], s["text"], s["media_ref"], s["offset"])
                     for s in sp])
    return rows, dups


def check(inputs: Inputs, lake: str, pre_files: Dict[str, tuple]) -> Outcome:
    problems: List[str] = []
    manifest_path = os.path.join(lake, "_snapshots.json")
    if not os.path.exists(manifest_path):
        return Outcome(False, ["no snapshot manifest committed"], 0,
                       inputs.n_docs)
    with open(manifest_path, encoding="utf-8") as f:
        snaps = json.load(f)["snapshots"]
    pre_ids = set(inputs.pre_snapshots)
    new = [s for s in snaps if s["id"] not in pre_ids]
    if len(new) != 1:
        return Outcome(False, [f"expected one new snapshot, found {len(new)}"],
                       0, inputs.n_docs)
    entry = new[0]
    files = data_files(entry["data"])
    table = pq.read_table(files) if files else None
    if table is None or table.num_rows == 0:
        return Outcome(False, ["new snapshot has 0 rows"], 0, inputs.n_docs)

    if inputs.job == "curate":
        ids = [str(d) for d in table.column("doc_id").to_pylist()]
        rows = {d: curate_digest(t, n) for d, t, n in zip(
            ids, table.column("text").to_pylist(),
            table.column("n_tokens").to_pylist())}
        dups = len(ids) - len(rows)
        failed = 0
    else:
        rows, dups = row_digests(table)
        status = table.column("status").to_pylist()
        failed = sum(s == "failure" for s in status)
    if dups:
        problems.append(f"{dups} doc_ids committed more than once")

    expected = dict(inputs.expected)
    missing = [d for d in expected if d not in rows]
    extra = [d for d in rows if d not in expected]
    wrong = [d for d in expected if d in rows and rows[d] != expected[d]]
    if missing:
        problems.append(f"{len(missing)} expected docs missing, e.g. {missing[:3]}")
    if extra:
        problems.append(f"{len(extra)} unexpected docs, e.g. {extra[:3]}")
    if wrong:
        problems.append(f"{len(wrong)} rows differ from the expected, "
                        f"e.g. {wrong[:3]}")

    settled = len(rows) - len(extra)
    if inputs.job == "curate":
        settled = inputs.n_docs if not (missing or extra or wrong) else 0
        failed += len(missing)
    else:
        failed += len(missing)

    # resume: the pre-committed snapshots are untouched and, with the
    # new one, hold every input doc exactly once
    if inputs.precommitted:
        seen: Dict[str, int] = {}
        for s in snaps:
            if s["id"] not in pre_ids:
                continue
            for path in data_files(s["data"]):
                rel = os.path.relpath(path, lake)
                st = os.stat(path)
                if pre_files.get(rel) != (st.st_size, st.st_mtime_ns):
                    problems.append(f"pre-committed file changed: {rel}")
                for d in pq.read_table(path, columns=["doc_id"]).column(
                        "doc_id").to_pylist():
                    seen[d] = seen.get(d, 0) + 1
        if {s["id"] for s in snaps} & pre_ids != pre_ids:
            problems.append("pre-committed snapshot entries changed")
        if set(seen) != set(inputs.precommitted) or any(
                c != 1 for c in seen.values()):
            problems.append("pre-committed snapshots do not hold the "
                            "pre-committed docs exactly once")
        overlap = set(seen) & set(rows)
        if overlap:
            problems.append(f"{len(overlap)} pre-committed docs extracted "
                            "again (resume filter missed them)")
        union = {**inputs.precommitted, **rows}
        want = {**inputs.precommitted, **expected}
        if table_digest(union) != table_digest(want):
            problems.append("union of snapshots differs from the template "
                            "expectation")
        settled += len(seen) if not overlap else 0

    out = Outcome(not problems, problems, settled, failed,
                  committed_at=entry["committed_at"], new_rows=len(rows),
                  digest=table_digest(rows),
                  expected_digest=table_digest(expected))
    if inputs.job == "extract":
        out.wall_us = dict(zip(table.column("doc_id").to_pylist(),
                               table.column("wall_us").to_pylist()))
        for status, errs in zip(table.column("status").to_pylist(),
                                table.column("errors").to_pylist()):
            if status == "failure":
                mod = errs[0]["module"] if errs else "unknown"
                out.failure_modules[mod] = out.failure_modules.get(mod, 0) + 1
    out.snapshot_files = len(files)
    out.snapshot_bytes = sum(os.path.getsize(p) for p in files)
    return out


def job_wall(launch, outcome: Outcome) -> float:
    """Session ready → manifest commit, as seen by the job's driver."""
    return outcome.committed_at - launch.report["session_ready"]


def file_stats(lake: str) -> Dict[str, tuple]:
    """(size, mtime) of every data file of a pre-committed table."""
    out = {}
    for base, _dirs, files in os.walk(lake):
        for name in files:
            if name.endswith(".parquet"):
                path = os.path.join(base, name)
                st = os.stat(path)
                out[os.path.relpath(path, lake)] = (st.st_size, st.st_mtime_ns)
    return out

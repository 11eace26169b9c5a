"""Task records from a Spark event log (one JSON event per line)."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Dict, List


@dataclass
class Task:
    launch_ms: int
    run_ms: int
    failed: bool
    updates: Dict[int, int] = field(default_factory=dict)  # accumulator → update


def read_tasks(log_dir: str) -> List[Task]:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    tasks = []
    with open(files[0], encoding="utf-8") as f:
        for line in f:
            if '"SparkListenerTaskEnd"' not in line[:60]:
                continue
            ev = json.loads(line)
            info = ev["Task Info"]
            updates = {}
            for acc in info.get("Accumulables", []):
                try:
                    updates[int(acc["ID"])] = int(acc["Update"])
                except (KeyError, TypeError, ValueError):
                    pass
            metrics = ev.get("Task Metrics") or {}
            tasks.append(Task(
                launch_ms=info["Launch Time"],
                run_ms=metrics.get("Executor Run Time", 0),
                failed=ev["Task End Reason"]["Reason"] != "Success",
                updates=updates))
    if not tasks:
        raise RuntimeError(f"event log in {log_dir} has no finished tasks")
    return tasks


def touching(tasks: List[Task], ids: set) -> List[Task]:
    """Tasks that reported an update for any of the accumulators."""
    return [t for t in tasks if ids.intersection(t.updates)]

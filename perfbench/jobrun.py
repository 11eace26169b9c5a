"""Launch one production job through spark-submit and watch it.

The package is zipped from the working tree of the checkout and shipped
with ``--py-files``; the Spark driver imports it from the checkout, as the
job files do themselves. Everything Spark writes (local dirs, temp
files, event logs, warehouse) stays under the run's work directory.
The launch gets its own session; once the job exits, any process left
in that session is killed and reaped.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import zipfile
from dataclasses import dataclass, field
from typing import List, Optional

HERE = os.path.dirname(os.path.abspath(__file__))


def build_package(root: str, dest: str) -> str:
    """Zip ``docling_spark`` from the working tree (never dist/)."""
    path = os.path.join(dest, "docling_spark.zip")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for base, dirs, files in os.walk(os.path.join(root, "docling_spark")):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for name in sorted(files):
                if name.endswith(".py"):
                    full = os.path.join(base, name)
                    zf.write(full, os.path.relpath(full, root))
    return path


def spark_submit() -> str:
    found = shutil.which("spark-submit")
    if found:
        return found
    home = os.environ.get("SPARK_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "spark-submit")):
        return os.path.join(home, "bin", "spark-submit")
    raise RuntimeError("spark-submit not found (PATH or SPARK_HOME)")


def _session_members(sid: int) -> List[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(b")") + 2:].split()
        if int(fields[3]) == sid:  # field 6 of stat: session id
            pids.append(int(entry))
    return pids


def _pss_bytes(pids: List[int]) -> int:
    """Summed proportional set size: pages shared between the forked
    Python workers are split between them, not counted once each."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
                for line in f:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    """Peak summed resident set (PSS) of every process in one session."""

    def __init__(self, sid: int, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.sid = sid
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, _pss_bytes(_session_members(self.sid)))
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def reap_session(sid: int, timeout: float = 10.0) -> None:
    """SIGKILL whatever is left in the session and wait until it is gone."""
    deadline = time.time() + timeout
    while True:
        left = _session_members(sid)
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if time.time() > deadline:
            raise RuntimeError(f"processes {left} survived SIGKILL")
        time.sleep(0.05)


@dataclass
class Launch:
    launched: float
    exit: int
    peak_rss: int
    lake: str
    report: dict = field(default_factory=dict)
    trace_file: Optional[str] = None
    eventlog_dir: Optional[str] = None
    stderr_tail: str = ""

    @property
    def setup_s(self) -> float:
        return self.report["session_ready"] - self.launched


class Launcher:
    def __init__(self, root: str, work: str, partitions: int) -> None:
        self.root = root
        self.work = work
        self.partitions = partitions
        self.submit = spark_submit()
        self.pkg = build_package(root, work)
        self.count = 0
        for d in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(work, d), exist_ok=True)

    def _env(self) -> dict:
        env = dict(os.environ)
        env.update({
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": os.path.join(self.work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            # no hsperfdata files in the system temp dir
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        })
        return env

    def run(self, job: str, input_arg: str, *, cores: int,
            lake_template: Optional[str] = None, traced: bool = False,
            timeout: float = 170.0) -> Launch:
        self.count += 1
        k = self.count
        lake = os.path.join(self.work, f"lake-{k}")
        if lake_template:
            copy_lake(lake_template, lake)
        report = os.path.join(self.work, f"report-{k}.json")
        tmp = os.path.join(self.work, "tmp")
        cmd = [self.submit, "--master", f"local[{cores}]",
               "--py-files", self.pkg,
               "--conf", "spark.ui.enabled=false",
               "--conf", f"spark.local.dir={self.work}/spark-local",
               "--conf", f"spark.sql.warehouse.dir={self.work}/warehouse",
               "--driver-java-options",
               f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"]
        trace_file = eventlog = None
        own = ["--job", os.path.join(self.root, "jobs", f"{job}.py"),
               "--report", report]
        if traced:
            eventlog = os.path.join(self.work, f"eventlog-{k}")
            os.makedirs(eventlog)
            trace_file = os.path.join(self.work, f"trace-{k}.json")
            cmd += ["--conf", "spark.eventLog.enabled=true",
                    "--conf", "spark.eventLog.rolling.enabled=false",
                    "--conf", "spark.eventLog.compress=false",
                    "--conf", f"spark.eventLog.dir=file://{eventlog}"]
            own += ["--trace-file", trace_file, "--run-id", f"launch-{k}"]
        cmd += [os.path.join(HERE, "launch.py"), *own, "--",
                "--input", input_arg, "--output", lake,
                "--partitions", str(self.partitions)]
        out_path = os.path.join(self.work, f"stdout-{k}.txt")
        err_path = os.path.join(self.work, f"stderr-{k}.txt")
        with open(out_path, "wb") as out, open(err_path, "wb") as err:
            launched = time.time()
            proc = subprocess.Popen(cmd, cwd=self.work, env=self._env(),
                                    stdout=out, stderr=err,
                                    stdin=subprocess.DEVNULL,
                                    start_new_session=True)
            sampler = RssSampler(proc.pid)
            sampler.start()
            try:
                code = proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                code = -9
            finally:
                sampler.stop()
                reap_session(proc.pid)
                proc.wait()
        with open(err_path, encoding="utf-8", errors="replace") as f:
            stderr_tail = f.read()[-4000:]
        rep = {}
        if os.path.exists(report):
            with open(report, encoding="utf-8") as f:
                rep = json.load(f)
        return Launch(launched=launched,
                      exit=code if code == 0 else (code or 1),
                      peak_rss=sampler.peak, lake=lake, report=rep,
                      trace_file=trace_file, eventlog_dir=eventlog,
                      stderr_tail=stderr_tail)


def copy_lake(template: str, dest: str) -> None:
    """Hard-link copy of a pre-committed snapshot table (the job only
    adds files and replaces the manifest), with the manifest's data
    paths rewritten to the copy."""
    shutil.copytree(template, dest, copy_function=os.link)
    path = os.path.join(dest, "_snapshots.json")
    with open(path, encoding="utf-8") as f:
        manifest = json.load(f)
    for s in manifest["snapshots"]:
        s["data"] = os.path.join(dest, s["data"])
    os.remove(path)  # break the hard link before rewriting
    with open(path, "w", encoding="utf-8") as f:
        json.dump(manifest, f, indent=1)

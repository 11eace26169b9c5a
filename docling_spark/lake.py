"""Snapshot table — the checkpoint/resume layer (north rule:
"resumable from checkpoint with per-partition lineage + metrics").

Iceberg semantics over plain Parquet + an atomic JSON snapshot
manifest: a snapshot's data files only become visible when the
manifest is atomically replaced (os.replace), so a killed job never
exposes partial output, and the next run resumes by anti-joining its
input against the committed keys (SURVEY.md §4 "resume = anti-join
input against committed output snapshot").

When a real Iceberg runtime jar is on the classpath (probe:
:func:`iceberg_available`), :func:`open_table` returns
:class:`IcebergTable` — the same API backed by `spark.read.table` /
`writeTo(...).append()` with Iceberg's native snapshot atomicity. The
Parquet+manifest :class:`SnapshotTable` is the offline-safe default
that preserves the semantics (SURVEY.md §7.0); its manifest commit is
serialized by a flock sidecar so concurrent committers can't drop each
other's snapshots.

A snapshot is written in one pass over its frame; an empty frame
commits nothing.

Layout:
    <root>/_snapshots.json          atomic manifest (committed snapshots)
    <root>/snap-<id>/part-*.parquet data files of one snapshot
    <root>/metrics/snap-<id>/       lineage + metrics, a row per data file
    <root>/<name>/snap-<id>/        a job's side output of one snapshot
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
from typing import Callable, List, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


MetricsFn = Callable[[DataFrame], DataFrame]  # written rows → metrics


class SnapshotTable:
    def __init__(self, root: str) -> None:
        self.root = root
        self.manifest_path = os.path.join(root, "_snapshots.json")
        self.lock_path = os.path.join(root, "_snapshots.lock")

    @contextlib.contextmanager
    def _commit_lock(self):
        """Inter-process commit mutex (flock on a sidecar file): the
        manifest read-modify-replace happens under it, so two
        concurrent committers serialize instead of the loser's
        snapshot entry being silently dropped — the optimistic-
        concurrency guarantee Iceberg gives at the catalog swap."""
        import fcntl

        os.makedirs(self.root, exist_ok=True)
        fd = os.open(self.lock_path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    # -- manifest ----------------------------------------------------------

    def _read_manifest(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {"snapshots": []}
        with open(self.manifest_path, "r", encoding="utf-8") as f:
            return json.load(f)

    def _commit_manifest(self, manifest: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self.manifest_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(manifest, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.manifest_path)  # atomic commit point

    def snapshots(self) -> List[dict]:
        return self._read_manifest()["snapshots"]

    # -- write -------------------------------------------------------------

    def write_snapshot(self, df: DataFrame,
                       metrics: Optional[MetricsFn] = None) -> Optional[dict]:
        """Write df once as a new snapshot, counting its rows on that
        write. At 0 rows, remove the data and return None. Otherwise
        write ``metrics`` of the files just written (``partition_id`` =
        each file's ``part-NNNNN`` index), then flip the manifest, the
        single atomic commit point. Returns the entry, with ``rows``."""
        snap_id = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        data_dir = os.path.join(self.root, f"snap-{snap_id}")
        obs = Observation()
        (df.observe(obs, F.count(F.lit(1)).alias("rows"))
         .write.mode("errorifexists").parquet(data_dir))
        rows = obs.get["rows"]
        if rows == 0:
            shutil.rmtree(data_dir)
            return None
        metrics_dir = None
        if metrics is not None:
            written = (df.sparkSession.read.schema(df.schema)
                       .parquet(data_dir)
                       .withColumn("partition_id", F.regexp_extract(
                           "_metadata.file_name", r"^part-(\d+)", 1)
                           .cast("int")))
            metrics_dir = os.path.join(self.root, "metrics",
                                       f"snap-{snap_id}")
            metrics(written).write.mode("errorifexists").parquet(metrics_dir)
        entry = {"id": snap_id, "data": data_dir, "metrics": metrics_dir,
                 "key_col": "doc_id", "rows": rows,
                 "committed_at": time.time()}
        with self._commit_lock():
            manifest = self._read_manifest()
            manifest["snapshots"].append(entry)
            self._commit_manifest(manifest)
        return entry

    def write_side_output(self, spark: SparkSession, name: str,
                          render: Callable[[DataFrame], DataFrame]
                          ) -> dict:
        """Write ``render`` of each committed snapshot's rows to
        ``<root>/<name>/snap-<id>`` unless a finished write is there, so
        a run killed after its commit leaves it to the next run.
        Returns {snapshot id: directory}."""
        dirs = {}
        for s in self.snapshots():
            path = os.path.join(self.root, name, f"snap-{s['id']}")
            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                (render(spark.read.parquet(s["data"]))
                 .write.mode("overwrite").parquet(path))
            dirs[s["id"]] = path
        return dirs

    # -- read --------------------------------------------------------------

    def read(self, spark: SparkSession,
             as_of: Optional[str] = None) -> Optional[DataFrame]:
        """Read the committed table; ``as_of=<snapshot id>`` time-travels
        to the table as of that commit (inclusive) — the manifest is
        append-only under the commit lock, so list order IS commit
        order, exactly like Iceberg's snapshot log."""
        snaps = self.snapshots()
        if as_of is not None:
            idx = [i for i, s in enumerate(snaps) if s["id"] == as_of]
            if not idx:
                raise KeyError(f"unknown snapshot id: {as_of}")
            snaps = snaps[:idx[0] + 1]
        dirs = [s["data"] for s in snaps]
        if not dirs:
            return None
        return spark.read.parquet(*dirs)

    def read_metrics(self, spark: SparkSession) -> Optional[DataFrame]:
        dirs = [s["metrics"] for s in self.snapshots() if s.get("metrics")]
        if not dirs:
            return None
        return spark.read.parquet(*dirs)

    def committed_keys(self, spark: SparkSession) -> Optional[DataFrame]:
        df = self.read(spark)
        return None if df is None else df.select("doc_id")


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg Spark runtime is on the session classpath
    (e.g. launched with --packages
    org.apache.iceberg:iceberg-spark-runtime-3.5_2.12) AND a spark_catalog
    /catalog extension is configured. Capability probe only — never
    raises."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        return False
    conf = spark.conf
    try:
        impl = conf.get("spark.sql.catalog.spark_catalog", None)
        ext = conf.get("spark.sql.extensions", "") or ""
        return bool(impl) or "IcebergSparkSessionExtensions" in ext
    except Exception:
        return False


class IcebergTable:
    """The same checkpoint/resume API backed by a real Iceberg catalog
    table: commits are Iceberg's own atomic snapshot swaps
    (optimistic concurrency at the catalog), resume reads the current
    snapshot. Metrics land in ``<identifier>_metrics``."""

    def __init__(self, spark: SparkSession, identifier: str) -> None:
        self.spark = spark
        self.identifier = identifier
        self.metrics_identifier = f"{identifier}_metrics"

    def _append(self, df: DataFrame, identifier: str) -> None:
        if self.spark.catalog.tableExists(identifier):
            df.writeTo(identifier).append()
        else:
            df.writeTo(identifier).using("iceberg").create()

    def write_snapshot(self, df: DataFrame,
                       metrics: Optional[MetricsFn] = None) -> dict:
        """Append df, then ``metrics(df)`` to the metrics table. An
        Iceberg append commits inside the write, so there are no
        written-but-uncommitted files to aggregate: ``metrics`` runs
        over the input, a second pass over it, and an empty append
        commits like any other."""
        self._append(df, self.identifier)
        if metrics is not None:
            self._append(metrics(df), self.metrics_identifier)
        snaps = self.snapshots()
        return snaps[-1] if snaps else {"id": None}

    def snapshots(self) -> List[dict]:
        if not self.spark.catalog.tableExists(self.identifier):
            return []
        rows = self.spark.sql(
            f"SELECT snapshot_id, committed_at FROM "
            f"{self.identifier}.snapshots ORDER BY committed_at").collect()
        return [{"id": r["snapshot_id"],
                 "committed_at": str(r["committed_at"])} for r in rows]

    def read(self, spark: SparkSession) -> Optional[DataFrame]:
        if not spark.catalog.tableExists(self.identifier):
            return None
        return spark.read.table(self.identifier)

    def read_metrics(self, spark: SparkSession) -> Optional[DataFrame]:
        if not spark.catalog.tableExists(self.metrics_identifier):
            return None
        return spark.read.table(self.metrics_identifier)

    def committed_keys(self, spark: SparkSession) -> Optional[DataFrame]:
        df = self.read(spark)
        return None if df is None else df.select("doc_id")


def open_table(spark: SparkSession, location: str, *,
               backend: str = "auto"):
    """Checkpoint-table factory. ``backend='auto'`` uses Iceberg when
    the runtime probe passes (``location`` is then a catalog table
    identifier), else the Parquet+manifest SnapshotTable (``location``
    is a directory). 'iceberg' / 'manifest' force a branch."""
    if backend == "iceberg" or (backend == "auto"
                                and iceberg_available(spark)):
        return IcebergTable(spark, location)
    return SnapshotTable(location)


def resume_filter(input_df: DataFrame, table) -> DataFrame:
    """Drop rows whose doc_id is already committed (the resume
    anti-join). At scale the committed-keys side is a column-pruned
    parquet scan of just the doc_id column; AQE broadcasts it when
    small. A key committed in several snapshots needs no dedup first:
    an anti-join only asks whether a match exists."""
    committed = table.committed_keys(input_df.sparkSession)
    if committed is None:
        return input_df
    return input_df.join(committed, on="doc_id", how="left_anti")


def partition_metrics(written: DataFrame) -> DataFrame:
    """Per-partition lineage + span-count/error metrics (north rule):
    a row per ``partition_id`` (from ``write_snapshot``: one per data
    file), else per Spark partition. Doc count and doc_id range, plus
    the span/error/wall_us sums of extract output or the n_tokens sum
    of curate output."""
    cols = set(written.columns)
    if "partition_id" not in cols:
        written = written.withColumn("partition_id", F.spark_partition_id())
    aggs = [F.count("*").alias("n_docs")]
    if "n_spans" in cols:
        aggs += [F.sum("n_spans").alias("n_spans"),
                 F.sum((F.col("status") != "success").cast("long"))
                  .alias("n_errors"),
                 F.sum("wall_us").alias("wall_us")]
    if "n_tokens" in cols:
        aggs.append(F.sum("n_tokens").alias("n_tokens"))
    return written.groupBy("partition_id").agg(
        *aggs, F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"))

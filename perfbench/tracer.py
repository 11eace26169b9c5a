"""In-driver tracer for one traced job run.

Spans are recorded from outside the program: the public functions of
each layer are replaced by wrappers before the job file runs, so every
call from the job opens a span (name, start, end, parent, run id).
Layer functions that only build a lazy plan get short spans; the work
shows under the Spark action spans (``spark.count``, ``spark.write``)
that run it, each of which carries the SQL executions it triggered,
captured by a ``QueryExecutionListener`` and flattened with
``planmetrics.walk_plan`` before the session stops. Nothing inside
``docling_spark`` is modified.
"""

from __future__ import annotations

import functools
import json
import time
from typing import List, Optional

from planmetrics import walk_plan


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._pending: list = []
        self._executions: list = []  # (span index, funcName, ns, qe)
        self._spark = None
        self.persist_bytes = 0
        self.harvested: Optional[list] = None

    # -- spans -------------------------------------------------------------

    def _wrap(self, owner, attr: str, name: str, *, action: bool = False,
              before=None, after=None) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if before is not None:
                before(args)
            idx = len(tracer.spans)
            span = {"name": name, "start": time.time(), "end": None,
                    "parent": tracer._stack[-1] if tracer._stack else None,
                    "run_id": tracer.run_id}
            if action and name == "spark.write" and len(args) > 1:
                span["path"] = str(args[1])
            tracer.spans.append(span)
            tracer._stack.append(idx)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer._stack.pop()
                if action:
                    tracer._drain(idx)
                span["end"] = time.time()
            if after is not None:
                after(result)
            return result

        setattr(owner, attr, wrapper)

    # -- SQL executions ----------------------------------------------------

    def _on_session(self, spark) -> None:
        if self._spark is not None:
            return
        self._spark = spark
        from pyspark.java_gateway import ensure_callback_server_started
        gateway = spark.sparkContext._gateway
        ensure_callback_server_started(gateway)
        pending = self._pending

        class Listener:
            def onSuccess(self, func_name, qe, duration_ns):
                pending.append((func_name, duration_ns, qe))

            def onFailure(self, func_name, qe, exc):
                pending.append((func_name, -1, qe))

            class Java:
                implements = [
                    "org.apache.spark.sql.util.QueryExecutionListener"]

        self._listener = Listener()
        spark._jsparkSession.listenerManager().register(self._listener)

    def _drain(self, span_idx: Optional[int]) -> None:
        if self._spark is None:
            return
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        while self._pending:
            func, ns, qe = self._pending.pop(0)
            self._executions.append((span_idx, func, ns, qe))

    def _record_storage(self, _args=None) -> None:
        """Cached bytes (memory + disk) held right now."""
        if self._spark is None:
            return
        infos = self._spark.sparkContext._jsc.sc().getRDDStorageInfo()
        total = sum(i.memSize() + i.diskSize() for i in infos)
        self.persist_bytes = max(self.persist_bytes, total)

    def _harvest(self, _args=None) -> None:
        """Walk every captured plan while the JVM is still up."""
        if self.harvested is not None or self._spark is None:
            return
        self._record_storage()
        self._drain(None)
        self.harvested = []
        for span_idx, func, ns, qe in self._executions:
            self.harvested.append({
                "span": span_idx, "func": func, "duration_s": ns / 1e9,
                "nodes": walk_plan(qe.executedPlan())})

    # -- install -----------------------------------------------------------

    def install(self) -> None:
        from pyspark.sql import SparkSession
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        import docling_spark.lake as lake
        import docling_spark.operators.curate as curate
        import docling_spark.operators.dedup as dedup
        import docling_spark.operators.extract as extract
        import docling_spark.operators.pdfnative as pdfnative
        import docling_spark.sources.corpus as corpus

        w = self._wrap
        # Spark runtime
        w(SparkSession.Builder, "getOrCreate", "runtime.session",
          after=self._on_session)
        w(SparkSession, "stop", "runtime.stop", before=self._harvest)
        w(DataFrame, "count", "spark.count", action=True)
        w(DataFrame, "unpersist", "spark.unpersist",
          before=self._record_storage)
        w(DataFrameWriter, "parquet", "spark.write", action=True)
        w(DataFrameReader, "parquet", "spark.read")
        # sources
        w(corpus, "corpus_from_documents", "sources.corpus_from_documents")
        # lake
        w(lake.SnapshotTable, "committed_keys", "lake.committed_keys")
        w(lake.SnapshotTable, "write_snapshot", "lake.write_snapshot")
        w(lake, "resume_filter", "lake.resume_filter")
        w(lake, "partition_metrics", "lake.partition_metrics")
        # operators
        w(extract, "extract_routed", "extract.extract_routed")
        w(extract, "extract_spans", "extract.extract_spans")
        w(extract, "extract_spans_paged", "extract.extract_spans_paged")
        w(pdfnative, "pdf_to_page_spans", "pdfnative.pdf_to_page_spans")
        w(curate, "curate", "curate.curate")
        w(dedup, "simhash_pairs", "dedup.simhash_pairs")
        curate.simhash_pairs = dedup.simhash_pairs  # bound at import

    def write(self, path: str) -> None:
        self._harvest()
        out = {"run_id": self.run_id, "spans": self.spans,
               "executions": self.harvested or [],
               "persist_bytes": self.persist_bytes}
        with open(path, "w", encoding="utf-8") as f:
            json.dump(out, f)

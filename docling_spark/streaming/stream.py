"""Structured Streaming helpers for the registry's streaming queries.

Extraction is stateless per document, so ``extract_spans`` runs
unchanged on a ``spark.readStream`` source (mapInPandas works on
streaming DataFrames); the event rollup is a watermarked windowed
aggregation. writeStream's own checkpointLocation gives exactly-once
sink semantics; the batch path's snapshot-manifest resume
(docling_spark.lake) stays the coarse-grained re-run story.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(events: DataFrame,
                          window: str = "1 hour",
                          watermark: str = "2 hours",
                          slide: str = None) -> DataFrame:
    """Tumbling (or, with ``slide``, SLIDING/hopping) window event
    rollup; on a streaming input the watermark bounds state for late
    data, on a batch input it is a no-op. Sliding state is
    window/slide× larger per key — size the watermark accordingly."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    w = (F.window("ts", window, slide) if slide
         else F.window("ts", window))
    return (events
            .groupBy(w.alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.floor(F.sum("value") * 100).cast("long")
                  .alias("sum_value_e2"))
            .select(F.col("w.start").alias("window_start"),
                    "event_type", "n_events", "sum_value_e2"))


_MEMORY_SINK_SEQ = iter(range(1, 1 << 30))


def run_to_memory_table(stream_df: DataFrame, *,
                        prefix: str = "stream_out") -> str:
    """Drain a streaming DataFrame into an in-memory sink table with
    trigger(availableNow) and return the (unique) table name. The
    memory sink keeps rows on the driver — the harness for
    registry/interactive queries over BOUNDED backlogs, not a
    production sink (write parquet with a checkpointLocation for
    exactly-once). The rows stay pinned until the caller
    drops the view: consume the table, then
    ``spark.catalog.dropTempView(name)`` — repeated invocations
    otherwise accumulate a full output copy each."""
    name = f"{prefix}_{next(_MEMORY_SINK_SEQ)}"
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return name

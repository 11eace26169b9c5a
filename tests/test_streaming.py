"""Structured Streaming parity: extract_spans on a readStream source and
the windowed rollup must produce exactly the batch results on the same
input."""

from docling_spark.operators.extract import extract_spans
from docling_spark.schema import INPUT_SCHEMA
from docling_spark.streaming.stream import windowed_event_counts


def _write_corpus(spark, path, n=20):
    rows = [(f"d{i}",
             [("html", f"<html><body><h1>T{i}</h1><p>body {i}</p>"
                       f"</body></html>", "", 0)])
            for i in range(n)]
    df = spark.createDataFrame(rows, schema=INPUT_SCHEMA)
    df.repartition(4).write.parquet(path)
    return df


def _drain_extraction(spark, src, out, ckpt, **reader_options):
    """readStream -> extract_spans -> parquet sink, checkpointed, over
    the current backlog (trigger availableNow)."""
    stream = extract_spans(spark.readStream.schema(INPUT_SCHEMA)
                           .options(**reader_options).parquet(src))
    assert stream.isStreaming
    (stream.writeStream.format("parquet")
     .option("path", out).option("checkpointLocation", ckpt)
     .outputMode("append").trigger(availableNow=True)
     .start().awaitTermination())


def test_streaming_extraction_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    batch_input = _write_corpus(spark, src)

    _drain_extraction(spark, src, out, ckpt, maxFilesPerTrigger=2)

    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    want = {r["doc_id"]: r
            for r in extract_spans(batch_input).collect()}
    assert set(got) == set(want)
    for doc_id in want:
        assert got[doc_id]["spans"] == want[doc_id]["spans"]
        assert got[doc_id]["status"] == "success"


def test_streaming_restart_is_exactly_once(spark, tmp_path):
    """Re-running the drained stream with the same checkpoint must not
    duplicate output rows."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_corpus(spark, src, n=10)

    for _ in range(2):  # second run replays nothing
        _drain_extraction(spark, src, out, ckpt)
    assert spark.read.parquet(out).count() == 10


def test_windowed_counts_streaming_vs_batch(spark, tmp_path):
    import datetime

    rows = [(i, datetime.datetime(2024, 1, 1, hour, minute), "click",
             1.0 + i)
            for i, (hour, minute) in enumerate(
                [(0, 5), (0, 55), (1, 5), (2, 30), (2, 45)])]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, "
              "value double")
    src = str(tmp_path / "events")
    df.write.parquet(src)

    batch = {(r["window_start"], r["event_type"]):
             (r["n_events"], r["sum_value_e2"])
             for r in windowed_event_counts(df).collect()}
    assert len(batch) == 3  # hours 0, 1, 2

    stream_df = (spark.readStream.schema(df.schema).parquet(src))
    windowed = windowed_event_counts(stream_df)
    q = (windowed.writeStream.format("memory")
         .queryName("win_test").outputMode("complete")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["window_start"], r["event_type"]):
           (r["n_events"], r["sum_value_e2"])
           for r in spark.sql("SELECT * FROM win_test").collect()}
    assert got == batch


def test_sliding_window_streaming_vs_batch(spark, tmp_path):
    """The sliding-window rollup (1h window / 15min slide) is the SAME
    expression batch and streaming: a drained watermarked stream must
    reproduce the batch result, with each event in 4 windows."""
    import datetime

    rows = [(i, datetime.datetime(2024, 1, 1, hour, minute), "view",
             2.0)
            for i, (hour, minute) in enumerate(
                [(0, 5), (0, 40), (1, 10), (3, 59)])]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, "
              "value double")
    src = str(tmp_path / "sliding")
    df.write.parquet(src)

    batch = {(r["window_start"], r["event_type"]):
             (r["n_events"], r["sum_value_e2"])
             for r in windowed_event_counts(
                 df, slide="15 minutes").collect()}
    # every event lands in exactly 4 overlapping windows
    assert sum(n for n, _ in batch.values()) == 4 * len(rows)

    stream_df = spark.readStream.schema(df.schema).parquet(src)
    q = (windowed_event_counts(stream_df, slide="15 minutes")
         .writeStream.format("memory").queryName("slide_test")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["window_start"], r["event_type"]):
           (r["n_events"], r["sum_value_e2"])
           for r in spark.sql("SELECT * FROM slide_test").collect()}
    assert got == batch

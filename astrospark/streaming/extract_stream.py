"""Structured-Streaming surface of the extraction engine.

The reference is strictly request/response batch (no streaming anywhere —
SURVEY.md §2.6), but a web-scale ingestion pipeline needs a streaming
front: new document files land continuously and spans should flow out
incrementally. The SAME broadcast artifacts and Arrow kernel run inside
``mapInArrow`` on a streaming DataFrame — extraction is stateless
per-document, so no watermark/state is needed for the core op; the
windowed-metrics stream shows the stateful side (watermark + tumbling
window over extraction counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from astrospark.engine.extraction import KERNEL_SCHEMA, OUTPUT_COLUMNS, make_extractor
from astrospark.io.sources import DOCS_SCHEMA_DDL


def stream_docs_from_dir(spark: SparkSession, input_dir: str, max_files: int = 32) -> DataFrame:
    """File-source stream of docs parquet landing in a directory."""
    return (
        spark.readStream.schema(DOCS_SCHEMA_DDL)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def stream_extract(docs_stream: DataFrame, bcast) -> DataFrame:
    """Streaming extraction: stateless narrow map — same kernel as batch."""
    extractor = make_extractor(bcast)
    out = docs_stream.mapInArrow(extractor, schema=KERNEL_SCHEMA)
    return out.select(*OUTPUT_COLUMNS)


def run_to_parquet(
    spans_stream: DataFrame, output_dir: str, checkpoint_dir: str, available_now: bool = True
):
    """Write the span stream to parquet with exactly-once file-sink
    semantics; availableNow drains the backlog then stops (backfill mode)."""
    w = (
        spans_stream.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_dedup_exact(docs_stream: DataFrame, watermark: str = "30 seconds") -> DataFrame:
    """Streaming exact dedup: first-seen-wins on the content fingerprint.

    The fingerprint is md5 over the doc's concatenated chunk texts (same
    exact-dup notion as ops.dedup.dedup_exact, streaming-side). Built-in
    ``dropDuplicatesWithinWatermark`` carries the dedup state — idiomatic
    and watermark-bounded, vs an applyInPandasWithState reimplementation
    the engine would have to size by hand. Duplicates arriving within the
    watermark horizon are dropped; the horizon is the dedup guarantee
    window (at ingestion scale, cross-horizon dedup belongs to the batch
    compaction pass)."""
    fp = F.md5(
        F.concat_ws(
            "\x1e", F.transform("spans", lambda s: F.coalesce(s["text"], F.lit("")))
        )
    )
    with_fp = docs_stream.withColumn("content_md5", fp).withColumn(
        "_ts", F.current_timestamp()
    )
    return with_fp.withWatermark("_ts", watermark).dropDuplicatesWithinWatermark(
        ["content_md5"]
    )


def windowed_extraction_metrics(
    spans_stream: DataFrame, window: str = "10 seconds", watermark: str = "30 seconds"
) -> DataFrame:
    """Stateful leg: per-kind span counts over processing-time tumbling
    windows with a watermark bounding state (late data dropped after it)."""
    with_ts = spans_stream.withColumn("_ts", F.current_timestamp())
    return (
        with_ts.withWatermark("_ts", watermark)
        .groupBy(F.window("_ts", window), F.col("kind"))
        .agg(F.count("*").alias("n_spans"))
        .select(
            F.col("window.start").alias("window_start"),
            "kind",
            "n_spans",
        )
    )

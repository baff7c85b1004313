"""Streaming page-upload ingest (S5 analog).

The reference accepts uploaded documents over HTTP multipart / raw
bytestream into a temp file, capped at 5 MB, then runs the extractor
stack on them (src/service.py:146-165,184-224; cap service.py:26).
Spark-first analog: uploads land as parquet drops in an arrival
directory, a file-source stream picks them up (exactly-once per file,
checkpointed), the size cap becomes a row-level gate that turns an
oversized upload into an error row (the 413 of the batch world), and
the same Arrow extract stage used in batch runs unchanged on the
stream — one extraction code path for both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdfmef_spark import schemas

UPLOAD_CAP_BYTES = 5 * 1024 * 1024  # reference cap: service.py:26


def read_page_uploads(
    spark: SparkSession, input_dir: str, max_files: int = 8
) -> DataFrame:
    """Unbounded stream of uploaded page batches (each file = one drop)."""
    return (
        spark.readStream.schema(schemas.PAGES)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def gate_upload_size(pages: DataFrame, cap_bytes: int = UPLOAD_CAP_BYTES) -> DataFrame:
    """Oversized uploads become error rows with the payload dropped —
    never a failed micro-batch."""
    too_big = F.length("html") > cap_bytes
    return pages.withColumn(
        "upload_error",
        F.when(too_big, F.concat(F.lit("TooLarge: "), F.length("html").cast("string"))),
    ).withColumn("html", F.when(too_big, F.lit(None)).otherwise(F.col("html")))


def run_upload_ingest(
    spark: SparkSession,
    input_dir: str,
    query_name: str = "page_uploads",
    cap_bytes: int = UPLOAD_CAP_BYTES,
):
    """stream -> size gate -> extract -> in-memory sink (availableNow).

    Production swaps the sink for partitioned parquet/Iceberg with a
    checkpointLocation; the transformation chain is identical.
    """
    from pdfmef_spark.operators import extract

    uploads = gate_upload_size(read_page_uploads(spark, input_dir), cap_bytes)
    ok = uploads.filter(F.col("upload_error").isNull())
    rejected = uploads.filter(F.col("upload_error").isNotNull()).select(
        "url",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("array<string>").alias("links"),
        F.lit(None).cast("string").alias("title"),
        F.lit(None).cast("array<string>").alias("figures"),
        F.lit(None).cast("int").alias("n_blocks"),
        "lang",
        F.col("upload_error").alias("error"),
    )
    out = extract.extract_pages(ok).unionByName(rejected)
    return (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def run_streaming_kg_updates(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    cap_bytes: int = UPLOAD_CAP_BYTES,
):
    """Page drops -> incremental KG refresh, one batch per micro-batch.

    foreachBatch hands each micro-batch to
    :func:`pdfmef_spark.pipeline.run_pipeline_incremental`: doc-local
    stages extract only the new urls into a fresh ``batch_id``
    partition and the graph tail is rebuilt over the merged mentions.
    Effectively-once stacks twice: the stream checkpoint deduplicates
    FILES across restarts, and the pipeline's url ledger deduplicates
    ROWS — a replayed micro-batch anti-joins to an empty delta and
    becomes a no-op, so the graph never double-counts a page (the
    streaming generalization of the reference's polling daemon,
    src/extractor/main.py:139-176).
    """
    from pdfmef_spark import pipeline as P

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        P.run_pipeline_incremental(
            spark, batch_df, out_dir, run_id=f"stream-{epoch_id}"
        )

    ok = (
        gate_upload_size(read_page_uploads(spark, input_dir), cap_bytes)
        .filter(F.col("upload_error").isNull())
        .drop("upload_error")
    )
    writer = ok.writeStream.foreachBatch(_apply).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()

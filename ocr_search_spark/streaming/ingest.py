"""Incremental ingest as Structured Streaming.

The reference's "streaming" is a 15-minute poll loop re-listing the
whole remote tree (S5, /root/reference/src/DropboxSynchronizer/
DropboxSynchronizer.class.js:64-110, interval at config/
AppConfig.const.js:26). The Spark-first replacement is a file-source
stream with ``Trigger.AvailableNow``: each invocation processes exactly
the files that appeared since the last checkpointed offset, then stops —
deterministic incremental batch, no custom diff bookkeeping (the stream
checkpoint IS the fileLib state S1-S3 maintained by hand).

The extraction transform is the same pure-columnar stage as batch —
one definition, two execution modes.

At scale: the file-source checkpoint tracks seen files; compaction via
``maxFilesPerTrigger``/``latestFirst`` options; for true continuous
ingest swap the trigger for ``processingTime``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_spans_columnar
from ..schemas import DOCUMENTS


def stream_extract(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint_path: str,
    await_termination: bool = True,
    max_files_per_trigger: int | None = None,
):
    """documents parquet dir (growing) → extracted_spans parquet, exactly
    the new files each run (Trigger.AvailableNow).

    ``max_files_per_trigger`` splits the available backlog into multiple
    micro-batches (AvailableNow honors it) — bounded state/commit units
    at scale, and the lever the kill-and-resume chaos test uses to stop a
    run with the backlog half-committed."""
    reader = spark.readStream.schema(DOCUMENTS)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(input_path)
    extracted = extract_spans_columnar(src)
    q = (
        extracted.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


# Watermarks require TIMESTAMP_LTZ event time (EVENT_TIME_IS_NOT_ON_
# TIMESTAMP_TYPE on NTZ) — the explicit schema forces the LTZ read; the
# batch twin must read with the same schema for window-boundary parity.
EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def stream_hourly_event_counts(
    spark: SparkSession,
    events_path: str,
    out_path: str,
    checkpoint_path: str,
    watermark: str = "2 hours",
    await_termination: bool = True,
):
    """Windowed streaming aggregation with late-data handling: tumbling
    1-hour counts per event_type, watermarked. With AvailableNow this is
    the incremental-batch twin of the batch ``events_hourly`` query —
    same logical plan, plus state store + watermark semantics."""
    src = spark.readStream.schema(EVENTS_DDL).parquet(events_path)
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
        )
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def batch_hourly_event_counts(events: DataFrame) -> DataFrame:
    """The batch twin of ``stream_hourly_event_counts`` for equivalence
    tests (same plan minus the state store)."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def stream_dedup_exact(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint_path: str,
    await_termination: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Streaming EXACT dedup gate: documents parquet dir (growing) →
    first-seen documents only, across micro-batches AND restarts.

    ``dropDuplicates`` on the content digest runs against the streaming
    state store, so a document whose text already passed in ANY earlier
    micro-batch (or an earlier run — the state lives in the checkpoint)
    is suppressed. This is the streaming twin of
    :func:`ocr_search_spark.training.dedup.exact_duplicates`: the batch
    operator labels duplicates corpus-wide; this gate admits the first
    occurrence in arrival order and drops the rest at ingest time —
    the shape a continuously-fed training corpus needs.

    State sizing at scale: one digest (16 bytes keyed state) per unique
    document ever seen. Unbounded by design here because the corpus
    identity is global; bound it with ``withWatermark`` on an event-time
    column when the producer guarantees bounded lateness (then dedup
    state ages out, Spark's documented watermarked-dedup contract).

    No within-batch order guarantee exists between two docs with equal
    digests in ONE micro-batch (Spark keeps an arbitrary first); the
    batch dedup's min-id canonicalization is the deterministic twin.
    """
    reader = spark.readStream.schema(DOCUMENTS)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(input_path)
    # content digest over the canonical JSON of the FULL span payload
    # (kind/text/media_ref/offset) — two docs are duplicates iff their
    # interleaved streams are identical, doc_id excluded
    deduped = src.withColumn(
        "digest", F.md5(F.to_json(F.col("spans")))
    ).dropDuplicates(["digest"])
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def stream_dedup_watermarked(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint_path: str,
    delay: str = "1 hour",
    await_termination: bool = True,
):
    """Watermark-BOUNDED streaming dedup: the state-ages-out variant the
    :func:`stream_dedup_exact` docstring promises. Input rows carry an
    event-time column ``ts``; ``dropDuplicatesWithinWatermark`` keeps a
    digest key only until the watermark passes ``ts + delay``, so state
    is bounded by the duplicate-arrival horizon instead of corpus
    cardinality — the correct shape for a continuously-fed pipeline
    where producers guarantee bounded duplicate lateness (e.g. at-least-
    once upstream delivery), while corpus-global identity stays with the
    batch operator / the unbounded exact gate.

    Consequence (asserted in the chaos test): a digest re-sent AFTER its
    state aged out is admitted again — by design; watermarked dedup
    suppresses delivery duplicates, not historical re-publications.

    State sizing at 10^12 docs/day: keys ∝ docs within the lateness
    window only (hours, not history); the state store is RocksDB-backed
    and checkpointed, surviving restarts like every other gate here.
    """
    src = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(input_path)
    deduped = (
        src.withColumn("digest", F.md5("text"))
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["digest"])
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def stream_convert_binary(
    spark: SparkSession,
    input_glob: str,
    out_path: str,
    checkpoint_path: str,
    await_termination: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Raw container files on disk (PDF/PPTX/PNG, the Dropbox download
    dir of DropboxSynchronizer.class.js:249-273) → interleaved spans,
    incrementally: Spark's ``binaryFile`` source streams exactly the
    files that appeared since the last checkpointed offset, the
    magic-byte conversion stage (operators.convert) parses them, and the
    span table appends. doc_id = the file's base name (the reference's
    flat-rename key, ProcessDirector.class.js:119-141); conversion
    failures are recorded rows, never stream crashes (X2)."""
    from ..operators.convert import convert_to_spans

    reader = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, length long, content binary"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.load(input_glob).select(
        F.regexp_replace(
            F.element_at(F.split(F.col("path"), "/"), -1), r"\.[A-Za-z0-9]+$", ""
        ).alias("doc_id"),
        F.col("content").alias("payload"),
    )
    spans = convert_to_spans(src)
    q = (
        spans.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def stream_warc_archives(
    spark: SparkSession,
    input_glob: str,
    out_path: str,
    checkpoint_path: str,
    await_termination: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Crawl archives landing on disk → interleaved spans,
    incrementally: the ``binaryFile`` source streams exactly the .warc
    files that appeared since the last checkpointed offset, each
    archive explodes to response records (operators.warc), the
    200/text-html policy keep + html_to_spans run inside the same
    micro-batch plan, and the span table appends. Capture identity is
    ``doc_id = sha2(url)`` (content-addressed URL identity), so a batch
    backfill keyed the same way agrees with the streamed tail on keys.
    Archive framing failures append an error row (X2), never crash the
    stream."""
    from ..operators.warc import warc_responses
    from ..operators.webtext import html_to_spans

    reader = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, length long, content binary"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.load(input_glob).select(
        F.regexp_replace(
            F.element_at(F.split(F.col("path"), "/"), -1), r"\.[A-Za-z0-9]+$", ""
        ).alias("warc_id"),
        F.col("content").alias("payload"),
    )
    resp = warc_responses(src)
    ok = resp.where(
        F.col("error").isNull()
        & (F.col("status") == 200)
        & F.col("content_type").startswith("text/html")
    ).select(F.sha2(F.col("url"), 256).alias("doc_id"), F.col("text").alias("html"))
    spans = html_to_spans(ok).withColumn("error", F.lit(None).cast("string"))
    empty = (
        "CAST(array() AS array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>)"
    )
    errs = resp.where(F.col("error").isNotNull()).select(
        F.concat(F.lit("archive-error-"), F.col("warc_id")).alias("doc_id"),
        F.expr(empty).alias("spans"),
        F.col("error"),
    )
    q = (
        spans.unionByName(errs)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q

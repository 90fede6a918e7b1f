"""The end-to-end extraction job with per-partition lineage + resume.

BASELINE.json north_rule: "resumable from checkpoint with per-partition
lineage + metrics … failed runs resume without recomputation".

Design (SURVEY §4.2.2):

* The unit of checkpointing is a **bucket** = ``pmod(xxhash64(doc_id),
  n_buckets)`` — deterministic from data, independent of partitioning,
  so a resumed run at any parallelism sees identical bucket membership.
* Write-then-commit ordering: extracted data is committed (dynamic
  partition overwrite of only the processed buckets) BEFORE the
  checkpoint rows are appended. A crash between the two re-processes
  those buckets into an identical overwrite — idempotent, never lost
  lineage claiming unwritten data (SURVEY §7.2 "checkpoint correctness
  under retries").
* Resume = anti-join of bucket ids against ``status='done'`` checkpoint
  rows for the same (run_id, run_config). Completed buckets are
  *skipped*, not re-upserted — unlike the reference, whose only "resume"
  is idempotent Mongo upserts re-doing all the work
  (/root/reference/src/DbInterface/DbInterface.class.js:241-245).
* Lineage row per bucket: doc range, doc/span/media/error counts,
  status, timestamp (schemas.CHECKPOINT).

At 100 TB: n_buckets is the resume granularity (256-4096); the data
write is one distributed job regardless of bucket count — the bucket
loop never runs driver-side.
"""

from __future__ import annotations

import hashlib
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.extract import extract_spans
from .operators.tokenize import term_postings

EXTRACTED_DIR = "extracted_spans"
POSTINGS_DIR = "term_postings"
CHECKPOINT_DIR = "checkpoint"


def bucket_col(doc_id, n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(doc_id), F.lit(n_buckets))


def run_config_hash(
    n_buckets: int, impl: str, skew_threshold: int | None, source_format: str = "spans"
) -> str:
    """Stable digest of everything bucket membership / output shape depends
    on. Persisted in every checkpoint row so a resume under a DIFFERENT
    config (e.g. another n_buckets — a different bucketing scheme entirely)
    is refused instead of silently skipping wrong buckets. ``source_format``
    participates because a binary-source run and a span-source run produce
    differently-derived rows for the same doc_ids."""
    return hashlib.md5(
        f"n_buckets={n_buckets}:impl={impl}:skew={skew_threshold}"
        f":src={source_format}".encode()
    ).hexdigest()[:16]


def _has_committed_files(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` directly holds a committed data file. A missing
    dir, or one holding only ``_temporary`` / ``_SUCCESS`` / hidden
    entries (a writer that died before its first commit), has none."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return False
    return any(
        st.isFile() and not st.getPath().getName().startswith(("_", "."))
        for st in fs.listStatus(jpath)
    )


def read_done_buckets(
    spark: SparkSession, out_dir: str, run_id: str, config_hash: str
) -> set[int]:
    """Buckets already committed for (run_id, config_hash). Empty only when
    no checkpoint file has been committed yet; a checkpoint that exists but
    cannot be read raises instead of silently re-extracting every bucket.
    Raises if the run_id was previously checkpointed under a different
    config — resuming it would mix incompatible bucketing schemes."""
    cp_dir = f"{out_dir}/{CHECKPOINT_DIR}"
    if not _has_committed_files(spark, cp_dir):
        return set()
    cp = spark.read.parquet(cp_dir)
    rows = (
        cp.where((F.col("run_id") == run_id) & (F.col("status") == "done"))
        .select("partition_id", "config_hash")
        .distinct()
        .collect()
    )
    foreign = {r["config_hash"] for r in rows} - {config_hash}
    if foreign:
        raise ValueError(
            f"run_id={run_id!r} has checkpoints under different run config "
            f"(config_hash {sorted(foreign)} != {config_hash}); use a new "
            "run_id or rerun with the original n_buckets/impl/skew_threshold"
        )
    return {r["partition_id"] for r in rows}


def run_extraction_job(
    spark: SparkSession,
    documents: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    n_buckets: int = 32,
    impl: str = "arrow",
    skew_threshold: int | None = 64,
    num_partitions: int | None = None,
    bucket_filter=None,
    source_format: str = "spans",
) -> dict:
    """Extract `documents` into ``out_dir/extracted_spans`` (bucketed,
    resumable) and append per-bucket lineage to ``out_dir/checkpoint``.

    ``source_format='spans'`` (default): `documents` is (doc_id, spans).
    ``source_format='binary'``: `documents` is (doc_id, payload) raw
    PDF/PPTX/PNG bytes — the conversion stage (operators.convert,
    magic-byte dispatch) runs INSIDE the same bucket-checkpoint
    envelope, so a crash mid-corpus resumes the conversion too and a
    converted-but-uncommitted bucket is simply re-converted
    (idempotent). Conversion errors flow into the lineage ``n_errors``
    exactly like extraction errors (X2).

    ``bucket_filter`` (tests/chaos only): optional predicate limiting
    which buckets this invocation processes — simulates a partial run.
    Returns a summary dict."""
    if source_format not in ("spans", "binary"):
        raise ValueError(f"unknown source_format {source_format!r}")
    run_id = run_id or uuid.uuid4().hex[:12]
    cfg = run_config_hash(n_buckets, impl, skew_threshold, source_format)
    done = read_done_buckets(spark, out_dir, run_id, cfg)

    todo = documents.withColumn("bucket", bucket_col(F.col("doc_id"), n_buckets))
    if done:
        todo = todo.where(~F.col("bucket").isin(*sorted(done)))
    if bucket_filter is not None:
        todo = todo.where(bucket_filter(F.col("bucket")))

    if todo.isEmpty():
        return {"run_id": run_id, "buckets_done": len(done), "buckets_processed": 0}

    convert_errors = None
    if source_format == "binary":
        from .operators.convert import convert_to_spans, repartition_payload_bucketed

        src = todo.select("doc_id", "payload")
        if num_partitions:
            # north rule: OCR-heavy payloads get size-bucketed batching
            src = repartition_payload_bucketed(src, num_partitions)
        conv = convert_to_spans(src)
        todo = conv.select("doc_id", "spans")
        convert_errors = conv.select(
            "doc_id", F.col("error").alias("convert_error")
        )

    ext = extract_spans(
        todo.select("doc_id", "spans"),
        impl=impl,
        skew_threshold=skew_threshold,
        num_partitions=num_partitions,
    )
    if convert_errors is not None:
        ext = (
            ext.join(convert_errors, "doc_id", "left")
            .withColumn("error", F.coalesce("error", "convert_error"))
            .drop("convert_error")
        )
    # hash-partitioned on the bucket so each bucket's rows sit in one
    # task and every written bucket is one file, whatever partitioning
    # the extraction ran at
    ext = ext.withColumn("bucket", bucket_col(F.col("doc_id"), n_buckets))
    ext = ext.repartition(n_buckets, F.col("bucket"))

    # 1) data commit first (dynamic overwrite of only the touched buckets)
    with_dyn = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        ext.write.mode("overwrite").partitionBy("bucket").parquet(
            f"{out_dir}/{EXTRACTED_DIR}"
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", with_dyn)

    # 2) lineage append AFTER the data commit (recomputed from the
    # committed files, so counts describe what is actually on disk)
    committed = spark.read.parquet(f"{out_dir}/{EXTRACTED_DIR}")
    if done:
        committed = committed.where(~F.col("bucket").isin(*sorted(done)))
    if bucket_filter is not None:
        committed = committed.where(bucket_filter(F.col("bucket")))
    lineage = committed.groupBy("bucket").agg(
        F.min("doc_id").alias("doc_id_min"),
        F.max("doc_id").alias("doc_id_max"),
        F.count("*").alias("n_docs"),
        F.sum(F.size("spans")).alias("n_spans"),
        F.sum(
            F.size(F.filter("spans", lambda s: s["kind"] == "media"))
        ).alias("n_media"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_errors"),
    )
    cp_rows = lineage.select(
        F.lit(run_id).alias("run_id"),
        F.lit(cfg).alias("config_hash"),
        F.col("bucket").cast("int").alias("partition_id"),
        "doc_id_min",
        "doc_id_max",
        F.col("n_docs").cast("long"),
        F.col("n_spans").cast("long"),
        F.col("n_media").cast("long"),
        F.col("n_errors").cast("long"),
        F.lit("done").alias("status"),
        F.current_timestamp().alias("ts"),
    )
    cp_rows.write.mode("append").parquet(f"{out_dir}/{CHECKPOINT_DIR}")
    n_processed = cp_rows.count()
    return {
        "run_id": run_id,
        "buckets_done": len(done),
        "buckets_processed": n_processed,
    }


def build_postings(spark: SparkSession, out_dir: str) -> None:
    """Derive the inverted index from the committed extracted_spans.
    Postings are term-keyed (not doc-bucketed), so they are rebuilt from
    the committed extraction — the cheap stage. Incremental maintenance
    of a changed source tree is ``sync``'s job: it doc-replaces the
    changed documents' postings through
    ``storage.BucketedTable.replace_group``."""
    ext = spark.read.parquet(f"{out_dir}/{EXTRACTED_DIR}")
    term_postings(ext.select("doc_id", "spans")).write.mode("overwrite").parquet(
        f"{out_dir}/{POSTINGS_DIR}"
    )


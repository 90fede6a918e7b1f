"""Catalog + index maintenance, set-oriented (SURVEY §2.1 S3/S6-S8, §2.3).

The reference does all of this row-at-a-time against MongoDB (one upsert
per page, one per (doc, term) posting — DbInterface.class.js:140-156,
:236-251, :366-381; one deleteMany per doc — :335-356). Every operation
here is a single DataFrame statement over natural keys, which preserves
the reference's idempotence contract (X4: re-processing a file is a
no-op) while being mergeable at any scale.

Without Iceberg jars the MERGE INTO of a changed document is emulated
by storage.BucketedTable.replace_group (anti-join + union over the
touched buckets only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def doc_catalog(synthesized: DataFrame) -> DataFrame:
    """E7 + S10: the `docs` catalog from a corpus carrying provenance
    columns. file_id = sha256(ori_file_path) (PdfUtil.class.js:55);
    img_path = '<doc_id>.png' (ProcessDirector.class.js:119-141 flat
    rename)."""
    return synthesized.select(
        "doc_id",
        F.sha2(F.col("ori_file_path"), 256).alias("file_id"),
        "ori_file_path",
        F.col("page_idx").cast("int").alias("page_idx"),
        F.concat(F.col("doc_id"), F.lit(".png")).alias("img_path"),
    )


def diff_filelib(original: DataFrame, changed: DataFrame) -> DataFrame:
    """S3 (DropboxSynchronizer.class.js:198-242): classify paths into
    added / modified / deleted by full-outer join on path.

    Inputs: (path, mtime). Output: (path, status) with status ∈
    {'added','modified','deleted'}; unchanged paths are dropped.
    `modified` means present in both with strictly newer changed mtime —
    exactly the reference's `>` comparison (:216)."""
    o = original.select(F.col("path"), F.col("mtime").alias("o_mtime"))
    c = changed.select(F.col("path"), F.col("mtime").alias("c_mtime"))
    joined = o.join(c, "path", "full_outer")
    status = (
        F.when(F.col("o_mtime").isNull(), F.lit("added"))
        .when(F.col("c_mtime").isNull(), F.lit("deleted"))
        .when(F.col("c_mtime") > F.col("o_mtime"), F.lit("modified"))
    )
    return joined.select("path", status.alias("status")).where(F.col("status").isNotNull())

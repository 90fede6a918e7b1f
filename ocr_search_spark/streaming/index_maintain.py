"""Incremental inverted-index maintenance for ``sync``.

The reference re-tokenizes a changed file and fires one Mongo upsert per
(doc, term) (DbInterface.class.js:366-381) — doc-level replace semantics,
row-at-a-time. Here the same semantics run as one set-oriented MERGE per
sync poll: each changed document is extracted + tokenized and REPLACES
its previous postings in a standing
:class:`~ocr_search_spark.storage.BucketedTable` bucketed by ``doc_id``
(merge key ``(term, doc_id)``), so a poll touching k documents rewrites
only those documents' buckets — never the index. ``replace_group`` is
idempotent (re-applying a batch reproduces identical table state), so a
poll that dies after this write converges when the next poll repeats it.

At 10^12-doc scale the same code runs with n_buckets in the thousands;
per-batch cost is O(batch docs / n_buckets × bucket size), independent
of total index size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import extract_spans_columnar
from ..operators.tokenize import term_postings
from ..storage import BucketedTable


def postings_table(
    spark: SparkSession, table_path: str, n_buckets: int = 32
) -> BucketedTable:
    return BucketedTable(
        spark,
        table_path,
        keys=["term", "doc_id"],
        n_buckets=n_buckets,
        bucket_keys=["doc_id"],
    )


def merge_doc_batch(
    table: BucketedTable, docs: DataFrame, drop: DataFrame | None = None
) -> None:
    """Extract + tokenize one batch of (latest-version) documents and
    doc-replace them into the postings table, in one ``replace_group``
    (which creates the table on the first batch). ``drop`` holds more
    doc_ids whose postings go with no new version: the pages of files
    ``sync`` deleted, or a modified file no longer holds."""
    # Last version wins within a batch: two files in one batch can both
    # carry a doc_id; keep the max spans tuple deterministically (the
    # source files give no order — at scale carry an explicit version
    # column and max_by it instead).
    latest = (
        docs.groupBy("doc_id")
        .agg({"spans": "max"})
        .withColumnRenamed("max(spans)", "spans")
    )
    ext = extract_spans_columnar(latest)
    posts = term_postings(ext.select("doc_id", "spans"))
    # groups = the batch's doc_ids, NOT the postings' doc_ids: a doc
    # whose new version tokenizes to ZERO terms produces no posting
    # rows, but its old postings must still be dropped
    groups = latest.select("doc_id")
    if drop is not None:
        groups = groups.unionByName(drop.select("doc_id"))
    table.replace_group(posts, group_keys=["doc_id"], groups=groups)


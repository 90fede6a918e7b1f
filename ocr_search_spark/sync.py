"""One-shot source-tree synchronization — the reference's poll loop
(DropboxSynchronizer.class.js:125-156 list/download, :198-242 diff →
ProcessDirector.handle*Update/Delete per file) re-expressed as ONE
idempotent set-oriented iteration:

    list source dir → diff vs standing file library → touched files
    (added, modified, deleted) → read the changed files' new versions
    once → one doc-replace per table, in order:
      postings:    extract + tokenize the changed files' documents; drop
                   every doc the touched files held and insert the new
                   versions
      membership:  replace the touched paths' (path, doc_id) rows
      file library: replace the touched paths' (path, mtime) rows

A "file" here is a parquet file of (doc_id, spans) document versions —
the unit the reference moves around as pptx/pdf. Ownership follows the
reference's ``deleteFile({oriFilePath})`` semantics: the membership
table records which file contributed each doc_id; deleting a file
deletes its documents, and a page a modified file no longer holds goes
with the same replace. Re-running with an unchanged source touches
NOTHING (the diff is empty — every table file stays byte-identical),
which is what makes a 15-minute cron of this loop exactly the
reference's ``SYNC_INTERVAL`` behavior.

The three writes are not atomic, but a poll that dies at any step
converges on the next one. The file library is written last, so until
it commits, the next poll's diff reports the same touched files again.
Each write is a group replace keyed by the touched set, so repeating
it reproduces the same rows. A crash after the postings write leaves
membership as it was, and the rerun drops the same old docs; a crash
after the membership write leaves it holding the new docs, whose
postings are already in place, while the old docs' postings are
already gone.

At scale the same code runs with the listing as a DataFrame from an
object-store inventory instead of a local walk; everything after the
diff is already set-oriented.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.maintenance import diff_filelib
from .schemas import DOCUMENTS
from .storage import BucketedTable
from .streaming.index_maintain import merge_doc_batch, postings_table

# polls touching at most this many files take the per-file read path
# (driver path list bounded by CHOICE — SCALE.md rule 3); larger change
# sets switch to one full-source scan + semi-join with no driver lists
_SMALL_POLL_FILES = 128

_FILELIB = "path string, mtime long"
_MEMBERSHIP = "path string, doc_id string"
_SOURCE_ROWS = T.StructType([*DOCUMENTS.fields, T.StructField("path", T.StringType())])


def _list_source(spark: SparkSession, source_path: str) -> DataFrame:
    """(path, mtime) for every parquet data file under ``source_path`` —
    the driver-side directory listing, exactly the reference's
    filesLibrary shape (path + server_modified). The mtime is in
    nanoseconds: in whole seconds, a file rewritten within the second
    the previous poll listed it would never read as modified."""
    rows = []
    for root, _dirs, files in os.walk(source_path):
        for name in sorted(files):
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                p = os.path.join(root, name)
                rows.append((os.path.relpath(p, source_path), os.stat(p).st_mtime_ns))
    return spark.createDataFrame(rows, _FILELIB)


def filelib_table(spark: SparkSession, path: str, n_buckets: int = 8) -> BucketedTable:
    return BucketedTable(spark, path, keys=["path"], n_buckets=n_buckets)


def membership_table(
    spark: SparkSession, path: str, n_buckets: int = 8
) -> BucketedTable:
    return BucketedTable(
        spark, path, keys=["path", "doc_id"], n_buckets=n_buckets,
        bucket_keys=["path"],
    )


def _stored(table: BucketedTable, schema: str) -> DataFrame:
    """The table's rows; no rows of ``schema`` before its first write."""
    return table.read() if table.exists() else table.spark.createDataFrame([], schema)


def _read_files(spark: SparkSession, source_path: str, rels: list[str]) -> DataFrame:
    """(doc_id, spans, path) of the named source files, one read each,
    tagged with lit(path) (robust against input_file_name URL-encoding)."""
    parts = [
        spark.read.parquet(os.path.join(source_path, rel))
        .select("doc_id", "spans", F.lit(rel).alias("path"))
        for rel in rels
    ]
    if not parts:
        return spark.createDataFrame([], _SOURCE_ROWS)
    return reduce(DataFrame.unionByName, parts)


def _read_changed(
    spark: SparkSession, source_path: str, changed: DataFrame, n_changed: int
) -> DataFrame:
    """The new versions (doc_id, spans, path) of the ``changed`` files,
    materialized (eager localCheckpoint): the postings and membership
    writes both use them, and each changed file is scanned once per
    poll. The checkpoint is bounded by the poll, like the diff."""
    if n_changed <= _SMALL_POLL_FILES:
        # steady-state poll: a handful of files, read one by one; the
        # driver path list is bounded by _SMALL_POLL_FILES by
        # construction, never by catalog size
        rels = [rel for (rel,) in changed.collect()]
        return _read_files(spark, source_path, rels).localCheckpoint(eager=True)
    # cold start / bulk change: one scan of the whole source tree, each
    # row tagged with its url-decoded relative path and semi-joined
    # against the changed set — zero driver lists, and scanning
    # everything is exactly right when (nearly) everything changed.
    #
    # input_file_name() yields a URI whose %XX escapes need decoding, but
    # it leaves a literal '+' unescaped — and url_decode is
    # x-www-form-urlencoded, which would turn that '+' into a space and
    # silently drop the file from the semi-join. Shield '+' as %2B first
    # so it round-trips.
    absroot = os.path.abspath(source_path).rstrip("/") + "/"
    marker = absroot.replace("'", "\\'")
    src = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(source_path)
        .withColumn(
            "_fn",
            F.url_decode(F.regexp_replace(F.input_file_name(), r"\+", "%2B")),
        )
        .withColumn(
            "path",
            F.expr(f"substring(_fn, instr(_fn, '{marker}') + {len(absroot)})"),
        )
        .join(changed, "path")
        .select("doc_id", "spans", "path")
        .localCheckpoint(eager=True)
    )
    # Loud-failure guard: any changed path the decoded scan failed to
    # match is re-read per-file (bounded — a miss is either a zero-row
    # file, which contributes nothing, or a decode bug, which the bounded
    # repair makes correct and visible instead of silently dropping docs
    # while the filelib still records the new mtime forever).
    missed = [
        r["path"]
        for r in changed.join(src.select("path").distinct(), "path", "left_anti")
        .limit(_SMALL_POLL_FILES + 1)
        .collect()
    ]
    if len(missed) > _SMALL_POLL_FILES:
        raise RuntimeError(
            f"bulk sync path join missed >{_SMALL_POLL_FILES} "
            f"changed files (first: {missed[0]!r}) — "
            "input_file_name decoding is broken for this source"
        )
    if not missed:
        return src
    return src.unionByName(_read_files(spark, source_path, missed)).localCheckpoint(
        eager=True
    )


def sync_once(
    spark: SparkSession,
    source_path: str,
    warehouse: str,
    n_buckets: int = 32,
) -> dict:
    """One poll iteration; returns counts per change class. Idempotent:
    an unchanged source yields {'added': 0, 'modified': 0, 'deleted': 0}
    and zero table writes. Otherwise each table gets one
    ``replace_group``: postings, then membership, then filelib."""
    lib = filelib_table(spark, f"{warehouse}/filelib")
    mem = membership_table(spark, f"{warehouse}/membership")
    posts = postings_table(spark, f"{warehouse}/postings", n_buckets)

    listing = _list_source(spark, source_path)
    # eager localCheckpoint, not cache(): (a) the diff reads the very
    # filelib files the tail of this function rewrites, so it must be
    # fully materialized first; (b) a cache() entry would leak per poll
    # iteration, a localCheckpoint is reclaimed when the DataFrame goes
    # out of scope.
    diff = diff_filelib(_stored(lib, _FILELIB), listing).localCheckpoint(eager=True)
    counts = {
        r["status"]: r["n"]
        for r in diff.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    out = {k: counts.get(k, 0) for k in ("added", "modified", "deleted")}
    if not any(out.values()):
        return out

    # the change sets stay DataFrames throughout — a cold-start sync of
    # a full catalog never materializes every path on the driver. A
    # path deleted and re-added in one poll is a modify; the diff never
    # emits both states for one path.
    touched = diff.select("path")
    changed = diff.where(F.col("status") != "deleted").select("path")
    src = _read_changed(spark, source_path, changed, out["added"] + out["modified"])
    # the docs the touched files held before this poll: a deleted file's
    # pages and the pages a modified file dropped lose their postings.
    # Read before membership is rewritten below, hence eager.
    held = (
        _stored(mem, _MEMBERSHIP).join(touched, "path").select("doc_id")
        .localCheckpoint(eager=True)
    )
    merge_doc_batch(posts, src.select("doc_id", "spans"), drop=held)
    # groups = the touched PATHS (not the paths present in src): a
    # modified file that now carries zero docs, or a deleted one, must
    # still have its stale rows replaced away
    mem.replace_group(
        src.select("path", "doc_id").distinct(), group_keys=["path"], groups=touched
    )
    lib.replace_group(listing.join(changed, "path"), group_keys=["path"], groups=touched)
    return out

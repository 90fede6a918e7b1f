"""Catalog + index maintenance, set-oriented (SURVEY §2.1 S3/S6-S8, §2.3).

The reference does all of this row-at-a-time against MongoDB (one upsert
per page, one per (doc, term) posting — DbInterface.class.js:140-156,
:236-251, :366-381; one deleteMany per doc — :335-356). Every operation
here is a single DataFrame statement over natural keys, which preserves
the reference's idempotence contract (X4: re-processing a file is a
no-op) while being mergeable at any scale.

Without Iceberg jars the MERGE INTO statements are emulated with
anti-join + union (last-writer-wins on the natural key) — see storage.py
for the table-level wrapper; these functions are the pure-plan versions.
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


# E7 original-file attribution: when a converted PDF's provenance is
# resolved, the reference probes for sibling originals in this order and
# attributes the first that exists (PdfUtil.class.js:46-55: pptx, then
# docx, falling back to the pdf itself).
FORMAT_PREFERENCE = ["pptx", "docx", "pdf"]


def prefer_original(
    files: DataFrame, stem_col: str = "stem", formats_col: str = "formats"
) -> DataFrame:
    """Attribute each file stem to its preferred original format.

    Input: (stem, formats: array<string> of formats that exist for the
    stem). Output adds ``ori_format`` (first of FORMAT_PREFERENCE present;
    'pdf' fallback when none matched — the reference keeps the pdf path)
    and ``ori_file_path`` = stem.ori_format. Pure columnar — the
    existence probe of the reference becomes a precomputed availability
    column at scale (one listing join, no per-file stat calls)."""
    pref = F.array(*[F.lit(x) for x in FORMAT_PREFERENCE])
    # try_element_at, NOT element_at: under ANSI mode (Spark 4 default)
    # element_at on the empty filtered array THROWS, making the 'pdf'
    # fallback unreachable for stems with only unknown formats.
    chosen = F.try_element_at(
        F.filter(pref, lambda p: F.array_contains(F.col(formats_col), p)), F.lit(1)
    )
    fmt = F.coalesce(chosen, F.lit("pdf"))
    return files.select(
        "*",
        fmt.alias("ori_format"),
        F.concat(F.col(stem_col), F.lit("."), fmt).alias("ori_file_path"),
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


def upsert_by_key(
    existing: DataFrame,
    updates: DataFrame,
    keys: list[str],
    version_col: str | None = None,
) -> DataFrame:
    """MERGE emulation: last-writer-wins upsert on natural keys (X4).
    Equivalent to `MERGE INTO existing USING updates ON keys WHEN MATCHED
    UPDATE * WHEN NOT MATCHED INSERT *`.

    Duplicate keys inside ``updates`` are resolved DETERMINISTICALLY (a
    bare dropDuplicates keeps an arbitrary, partitioning-dependent row):
    the survivor is the max payload tuple, compared with ``version_col``
    first when given (the natural "newest version wins"), then the
    remaining payload columns in table order as tie-break."""
    updates = updates.select(*existing.columns)
    payload = [c for c in existing.columns if c not in keys]
    if payload:
        order = (
            [version_col] + [c for c in payload if c != version_col]
            if version_col
            else payload
        )
        surv = updates.groupBy(*keys).agg(
            F.max(F.struct(*order)).alias("_payload")
        )
        updates = surv.select(
            *keys, *[F.col(f"_payload.{c}").alias(c) for c in payload]
        ).select(*existing.columns)
    else:
        updates = updates.dropDuplicates(keys)
    return (
        existing.join(updates, keys, "left_anti")
        .select(*existing.columns)
        .unionByName(updates)
    )


def delete_by_key(existing: DataFrame, doomed_keys: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE … WHEN MATCHED DELETE emulation: anti-join. Column order is
    preserved (a bare join moves the key columns first, which silently
    breaks positional set ops like exceptAll downstream)."""
    return existing.join(doomed_keys.select(*keys).distinct(), keys, "left_anti").select(
        *existing.columns
    )


def postings_varint_stats(postings: DataFrame) -> DataFrame:
    """Index-compression planning: per-term size of the posting list
    under delta + varint encoding (how Lucene/PFOR-class indexes store
    doc-id lists) vs fixed 8-byte ids. Doc ids map to DENSE ordinals
    (delta coding only wins on dense numbering — a hash id space would
    make every delta ~2^54 and varint WORSE than fixed, measured in
    test_postings_search.py history), lists sort ascending, and each
    delta varint-encodes in ceil(bits/7) bytes via exact threshold
    compares (no log/float). The first entry stores its absolute value.

    Scale shape: ordinals come from a dense_rank over the DISTINCT doc
    ids — a doc-catalog-sized (not postings-sized) single-partition
    window standing in for the monotonic doc numbering an ingest
    pipeline assigns at write time; it broadcast-joins back onto the
    postings stream. The per-term window matches the on-disk layout of
    a posting list. No global ordering over postings anywhere.
    """
    from pyspark.sql import Window as W

    docnums = (
        postings.select("doc_id")
        .distinct()
        .select("doc_id", F.dense_rank().over(W.orderBy("doc_id")).alias("dn"))
    )
    pn = postings.join(F.broadcast(docnums), "doc_id").select("term", "dn")
    w = W.partitionBy("term").orderBy("dn")
    delta = F.coalesce(F.col("dn") - F.lag("dn").over(w), F.col("dn"))
    d = pn.select("term", delta.alias("delta"))
    vb = F.lit(9)
    for nbytes in range(8, 0, -1):
        vb = F.when(F.col("delta") < F.lit(1 << (7 * nbytes)), nbytes).otherwise(vb)
    return d.groupBy("term").agg(
        F.count("*").cast("long").alias("n_postings"),
        F.sum(vb).cast("long").alias("bytes_varint"),
        (F.count("*") * 8).cast("long").alias("bytes_fixed"),
    )


def index_drift(old_postings: DataFrame, new_postings: DataFrame) -> DataFrame:
    """Term-level document-frequency drift between two index builds —
    the vocabulary-health audit an operator reads after every reindex
    (the reference rebuilds its Mongo postings blind on every sync,
    DbInterface.class.js:236-251; it has no before/after comparison at
    all, so a bad extractor release silently reshapes the index).

    Input: two (term, doc_id, ...) posting sets. Output one row per
    term in either build: (term, df_old, df_new, delta, status) with
    status in {new, vanished, grew, shrunk, stable}.

    Scale shape: the two sides union into ONE tagged stream (no join of
    posting lists, no second pass over either input), collapse to
    doc-level membership, then to per-term df — two partial-agg
    shuffles total, both vocab/postings-bounded; driver holds nothing.
    When both builds derive from one filtered source (the reindex-audit
    case), prefer ``index_drift_flags`` — it reads the source ONCE.
    """
    tagged = old_postings.select(
        "term", "doc_id", F.lit(1).alias("in_old"), F.lit(0).alias("in_new")
    ).unionByName(
        new_postings.select(
            "term", "doc_id", F.lit(0).alias("in_old"), F.lit(1).alias("in_new")
        )
    )
    per_doc = tagged.groupBy("term", "doc_id").agg(
        F.max("in_old").alias("in_old"), F.max("in_new").alias("in_new")
    )
    return index_drift_flags(per_doc)


def index_drift_flags(tagged: DataFrame) -> DataFrame:
    """``index_drift`` over a single tagged posting set: input rows are
    UNIQUE (term, doc_id) pairs carrying 0/1 ``in_old``/``in_new``
    membership flags. One per-term aggregation (partial-agg map-side
    combine → vocab-sized) — the shape to use when old and new builds
    are row-filters of one postings table, so the expensive extraction
    lineage executes exactly once."""
    j = tagged.groupBy("term").agg(
        F.sum("in_old").cast("long").alias("df_old"),
        F.sum("in_new").cast("long").alias("df_new"),
    )
    delta = (F.col("df_new") - F.col("df_old")).cast("long")
    status = (
        F.when(F.col("df_old") == 0, F.lit("new"))
        .when(F.col("df_new") == 0, F.lit("vanished"))
        .when(delta > 0, F.lit("grew"))
        .when(delta < 0, F.lit("shrunk"))
        .otherwise(F.lit("stable"))
    )
    return j.where((F.col("df_old") > 0) | (F.col("df_new") > 0)).select(
        "term", "df_old", "df_new", delta.alias("delta"), status.alias("status")
    )

"""The vectorized extraction stage (SURVEY.md §2.2 E1-E7, §3.1).

Replaces the reference's per-file subprocess chain (soffice → pdftoppm →
pdfinfo → pdftotext per page → python3 per page, all behind numParallel=1
queues — TypeConverter.class.js:24-191, PdfUtil.class.js:41-164,
Tokenizer.class.js:28-75) with one distributed pass over the interleaved
`documents` table:

* media spans  → OCR text        (deterministic OCR-sim; a real Tesseract
                                  binding slots into the same batch function)
* text spans   → boilerplate strip (HTML tags, chrome lines, char strip)
* media_ref    → normalized '<doc_id>-<offset>.png'
                 (mirrors ProcessDirector.class.js:119-141 flat renaming)
* offset order → preserved per doc (the golden-fixture invariant,
                 PdfUtil.class.js:63-76)

Two batch implementations, each tested for span equality against
``golden``:

``impl='arrow'``    — one ``mapInArrow`` stage over Arrow batches: the
contract a real OCR / layout-parsing engine needs (BASELINE.json
north_star: "vectorized pandas/Arrow UDF stage"). Per-batch failure is
recorded in an ``error`` column instead of silently dropped
(X2: PromiseUtil.const.js:20-38 swallowed rejections; we record them).
The ``extract`` job runs this one.

``impl='columnar'`` — pure Spark expressions via ``F.transform`` over the
span array: zero shuffle, zero Python, whole-stage codegen. Used where
the extraction functions are expressible as SQL (sync, stream
maintenance, the serve set-up).

Skew (SURVEY §4.2.1): ~1% mega-docs (100×-median span arrays). Row-weight
skew is handled by (a) salted hash repartition on doc_id so mega-docs
spread uniformly across tasks, and (b) a span-level split path
(``extract_spans_exploded``) for rows too big for one Arrow batch:
posexplode → columnar per-span transform → regroup with
``array_sort(collect_list(struct(offset, …)))`` — offset is the only
order authority, so the regroup is exactly order-restoring (E6).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import EXTRACTED_WITH_ERRORS
from ..textproc import (
    MEDIA_REF_PAD,
    normalize_media_ref_col,
    ocr_text_batch,
    ocr_text_col,
    strip_boilerplate_batch,
    strip_boilerplate_col,
)


def _extracted_span_expr(doc_id, s):
    """Columnar per-span transform (shared by array and exploded paths)."""
    is_media = s["kind"] == "media"
    return F.struct(
        s["kind"].alias("kind"),
        F.when(is_media, ocr_text_col(s["media_ref"]))
        .otherwise(strip_boilerplate_col(s["text"]))
        .alias("text"),
        F.when(is_media, normalize_media_ref_col(doc_id, s["offset"]))
        .otherwise(F.lit(""))
        .alias("media_ref"),
        s["offset"].alias("offset"),
    )


def extract_spans_columnar(documents: DataFrame) -> DataFrame:
    """Zero-shuffle, zero-Python extraction: F.transform over the array."""
    doc_id = F.col("doc_id")
    spans = F.transform(F.col("spans"), lambda s: _extracted_span_expr(doc_id, s))
    return documents.select(
        "doc_id", spans.alias("spans"), F.lit(None).cast("string").alias("error")
    )


def _extract_arrow_batch(batch):
    """Arrow-native extraction of one RecordBatch: the list<struct> spans
    column stays columnar end-to-end — ``ListArray.flatten()`` exposes the
    span fields as flat Arrow arrays (zero-copy C, no per-span Python
    objects), the vectorized text functions run once per flat column, and
    the list is rebuilt with the original offsets."""
    import numpy as np
    import pyarrow as pa

    n = batch.num_rows
    doc_id = batch.column("doc_id")
    spans = batch.column("spans")
    if isinstance(spans, pa.ChunkedArray):
        spans = spans.combine_chunks()
    offsets = spans.offsets.to_numpy(zero_copy_only=False)
    counts = np.diff(offsets)
    flat = spans.flatten()
    kind = flat.field("kind")
    off = flat.field("offset")

    # Re-sort each row's spans by offset (the only order authority, E6) —
    # vectorized lexsort, no-op take when input is already canonical.
    row_idx = np.repeat(np.arange(n), counts)
    order = np.lexsort((off.to_numpy(zero_copy_only=False), row_idx))
    if not np.array_equal(order, np.arange(len(order))):
        flat = flat.take(pa.array(order))
        kind = flat.field("kind")
        off = flat.field("offset")

    kind_np = np.asarray(kind.to_pandas())
    media = kind_np == "media"
    texts = flat.field("text").to_pandas()
    out_text = strip_boilerplate_batch(texts.where(~media, ""))
    refs = pd.Series(np.repeat(np.asarray(doc_id.to_pandas()), counts))
    out_ref = pd.Series("", index=out_text.index, dtype=object)
    if media.any():
        out_text.loc[media] = ocr_text_batch(flat.field("media_ref").to_pandas()[media]).values
        off_np = off.to_numpy(zero_copy_only=False)
        out_ref.loc[media] = (
            refs[media]
            + "-"
            + pd.Series(off_np[media], index=out_ref.index[media])
            .astype(str)
            .str.zfill(MEDIA_REF_PAD)
            + ".png"
        )

    new_flat = pa.StructArray.from_arrays(
        [
            kind,
            pa.array(out_text, type=pa.string()),
            pa.array(out_ref, type=pa.string()),
            off,
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    # rebuild offsets from 0 (the incoming batch may be a slice whose
    # offsets don't start at zero; flatten() already normalized the values)
    new_offsets = np.concatenate(([0], np.cumsum(counts)))
    new_spans = pa.ListArray.from_arrays(pa.array(new_offsets, type=pa.int32()), new_flat)
    return pa.RecordBatch.from_arrays(
        [doc_id.combine_chunks() if isinstance(doc_id, pa.ChunkedArray) else doc_id,
         new_spans, pa.nulls(n, pa.string())],
        ["doc_id", "spans", "error"],
    )


def _extract_arrow_iter(batches):
    import pyarrow as pa

    for batch in batches:
        try:
            yield _extract_arrow_batch(batch)
        except Exception as exc:  # X3: degraded result, recorded not dropped
            n = batch.num_rows
            empty = pa.ListArray.from_arrays(
                pa.array([0] * (n + 1), type=pa.int32()),
                pa.array([], type=pa.struct(
                    [("kind", pa.string()), ("text", pa.string()),
                     ("media_ref", pa.string()), ("offset", pa.int32())]
                )),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), empty,
                 pa.array([f"{type(exc).__name__}: {exc}"] * n, type=pa.string())],
                ["doc_id", "spans", "error"],
            )


def extract_spans_arrow(documents: DataFrame) -> DataFrame:
    """mapInArrow extraction — the scale path: span arrays never leave
    Arrow representation, so batch cost is O(flat columns), not
    O(per-span Python dicts)."""
    return documents.mapInArrow(_extract_arrow_iter, schema=EXTRACTED_WITH_ERRORS)


def extract_spans_exploded(documents: DataFrame) -> DataFrame:
    """Span-level split path for pathological rows: posexplode → per-span
    columnar transform → order-restoring regroup. One shuffle, but
    parallelism becomes per-*span*, so a single 10^6-span doc no longer
    pins one task (SURVEY §7.2)."""
    flat = documents.select("doc_id", F.explode("spans").alias("s"))
    out = flat.select("doc_id", _extracted_span_expr(F.col("doc_id"), F.col("s")).alias("s"))
    # array_sort on struct sorts by fields in order → offset must lead.
    regrouped = (
        out.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("s.offset", "s.kind", "s.text", "s.media_ref"))
            ).alias("ordered")
        )
        .select(
            "doc_id",
            F.transform(
                "ordered",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans"),
            F.lit(None).cast("string").alias("error"),
        )
    )
    return regrouped


def repartition_salted(documents: DataFrame, num_partitions: int) -> DataFrame:
    """Uniform spread of row weight: hash-repartition on xxhash64(doc_id).

    doc_id is unique, so the only skew is per-row *weight* (mega span
    arrays); a salted hash scatters the heavy tail uniformly so no task
    inherits a cluster of mega-docs (e.g. all pages of one huge file,
    which ARE adjacent in the input ordering)."""
    return documents.repartition(num_partitions, F.xxhash64("doc_id"))


def extract_spans(
    documents: DataFrame,
    impl: str = "arrow",
    skew_threshold: int | None = 512,
    num_partitions: int | None = None,
) -> DataFrame:
    """The extraction stage. Docs with ≤ skew_threshold spans go through
    the batch path (no shuffle); bigger docs through the span-split path.
    Returns (doc_id, spans, error)."""
    if num_partitions:
        documents = repartition_salted(documents, num_partitions)
    batch_fn = {"arrow": extract_spans_arrow, "columnar": extract_spans_columnar}.get(impl)
    if batch_fn is None:
        raise ValueError(f"unknown impl {impl!r}")
    if skew_threshold is None:
        return batch_fn(documents)
    small = documents.where(F.size("spans") <= skew_threshold)
    big = documents.where(F.size("spans") > skew_threshold)
    return batch_fn(small).unionByName(extract_spans_exploded(big))

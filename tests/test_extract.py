"""Golden-fixture extraction tests — the authoritative invariant:
span-sequence equality (kind, text, media_ref, order) per doc_id
(BASELINE.json north_rule), for every extraction implementation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_search_spark.operators import extract


def _spans_of(df):
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in df.select("doc_id", "spans").collect()
    }


def _expected(golden_extracted):
    return {
        d: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
        for d, spans in golden_extracted.items()
    }


@pytest.mark.parametrize("impl", ["columnar", "arrow", "exploded", "combined"])
def test_extract_golden_equality(impl, corpus_df, golden_extracted):
    docs = corpus_df.select("doc_id", "spans")
    if impl == "columnar":
        out = extract.extract_spans_columnar(docs)
    elif impl == "arrow":
        out = extract.extract_spans_arrow(docs)
    elif impl == "exploded":
        out = extract.extract_spans_exploded(docs)
    else:
        out = extract.extract_spans(docs, impl="arrow", skew_threshold=64, num_partitions=8)
    got = _spans_of(out)
    exp = _expected(golden_extracted)
    assert set(got) == set(exp)
    for d in exp:
        assert got[d] == exp[d], f"span mismatch for {d}"


def test_extract_handles_unordered_spans(spark, corpus_df, golden_extracted):
    """Input spans shuffled within each doc → output must still be in
    offset order (offset is the only order authority, SURVEY §7.2)."""
    docs = corpus_df.select(
        "doc_id",
        F.expr(
            "array_sort(spans, (a, b) -> "
            "CASE WHEN xxhash64(a.offset) < xxhash64(b.offset) THEN -1 ELSE 1 END)"
        ).alias("spans"),
    )
    impls = {
        "arrow": extract.extract_spans_arrow,
        "exploded": extract.extract_spans_exploded,
    }
    for impl, fn in impls.items():
        got = _spans_of(fn(docs))
        exp = _expected(golden_extracted)
        for d in exp:
            assert got[d] == exp[d], (impl, d)


def test_extract_error_column_contract(spark):
    """X2/X3: a degraded batch records its error instead of dropping rows.

    The extraction never raises for weird-but-typed input; nulls inside
    text spans are treated as empty strings."""
    rows = [
        ("d1", [{"kind": "text", "text": None, "media_ref": "", "offset": 0}]),
        ("d2", []),
    ]
    from ocr_search_spark.schemas import DOCUMENTS

    df = spark.createDataFrame(rows, DOCUMENTS)
    out = extract.extract_spans_arrow(df).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id["d1"]["error"] is None
    assert by_id["d1"]["spans"][0]["text"] == ""
    assert by_id["d2"]["spans"] == []


def test_extract_arrow_failed_batch_keeps_rows_with_error(monkeypatch):
    """X3: when a batch raises, every doc_id of that batch survives with
    empty spans and an error ``Type: message``; other batches are
    unaffected. Driver-side, no Spark."""
    import pyarrow as pa

    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    spans = [[{"kind": "text", "text": "hello", "media_ref": "", "offset": 0}],
             [], [{"kind": "text", "text": "x", "media_ref": "", "offset": 0}]]
    good = pa.RecordBatch.from_arrays(
        [pa.array(["ok1"]), pa.array(spans[:1], type=pa.list_(span_t))],
        ["doc_id", "spans"])
    bad = pa.RecordBatch.from_arrays(
        [pa.array(["d1", "d2", "d3"]), pa.array(spans, type=pa.list_(span_t))],
        ["doc_id", "spans"])

    real = extract._extract_arrow_batch

    def flaky(batch):
        if batch.num_rows == 3:
            raise RuntimeError("ocr engine died")
        return real(batch)

    monkeypatch.setattr(extract, "_extract_arrow_batch", flaky)
    ok_out, bad_out = list(extract._extract_arrow_iter([good, bad]))

    assert ok_out.column("error").to_pylist() == [None]
    assert ok_out.column("spans").to_pylist()[0][0]["text"] == "hello"
    assert bad_out.schema.names == ["doc_id", "spans", "error"]
    assert bad_out.schema.field("spans").type == pa.list_(span_t)
    assert bad_out.column("doc_id").to_pylist() == ["d1", "d2", "d3"]
    assert bad_out.column("spans").to_pylist() == [[], [], []]
    assert bad_out.column("error").to_pylist() == ["RuntimeError: ocr engine died"] * 3


def test_extract_spans_rejects_unknown_impl():
    """Only the arrow and columnar batch paths exist; the impl is checked
    before the plan is built."""
    with pytest.raises(ValueError, match="pandas"):
        extract.extract_spans(None, impl="pandas")


def test_skew_tail_present(corpus_df):
    """The pinned corpus must actually contain mega-docs so the skew path
    is exercised, and the combined path must route them to the exploded
    branch (threshold 64)."""
    sizes = [r["n"] for r in corpus_df.select(F.size("spans").alias("n")).collect()]
    assert max(sizes) > 64, "no mega-doc in corpus — skew path untested"
    assert min(sizes) >= 2


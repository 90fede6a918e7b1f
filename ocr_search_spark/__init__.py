"""ocr_search_spark — a from-scratch PySpark-native extraction + search engine.

Re-expresses the capabilities of the reference system (``tom6311tom6311/
ocr_search``, a single-process Node.js document-OCR-and-term-search app) as
an idiomatic Spark engine:

* interleaved text+media documents as Parquet/Iceberg tables of
  ``(doc_id, spans: array<struct<kind,text,media_ref,offset>>)``;
* one vectorized ``mapInArrow`` extraction stage (OCR-sim on media spans,
  boilerplate strip on text spans) — no per-row Python anywhere;
* tokenization as columnar expressions + one Arrow-batched pandas UDF for
  the CJK segmenter;
* the inverted term-posting index and the search interface as plain
  Spark SQL (broadcast-semi-join + hash-agg + TakeOrderedAndProject);
* checkpoint/lineage + resume, salted/size-bucketed skew handling.

Layout:
    jobs        — the job CLI (``__main__`` is the spark-submit entry file)
    pipeline    — bucketed, resumable extraction + postings build
    sync        — one source-tree poll: diff, doc-replace, cascade delete
    api, server — the GET /pages contract and its stdlib HTTP server
    schemas     — fixed StructType schemas for all engine tables
    session     — SparkSession factory with scale-appropriate conf
    deploy      — package zip for ``spark-submit --py-files``
    textproc    — the deterministic text-processing SPEC + vectorized impl
    corpus      — Spark-native deterministic synthetic corpus generator
    golden      — independent pure-Python oracle (tests only)
    storage     — parquet-backed tables with MERGE/DELETE emulation
    storage_snapshots, mview — snapshot table format, materialized views
    sources, sources_cdc — source readers and change feeds
    operators/  — extract, convert, tokenize, search, boolquery,
                  maintenance, correlate, and the web/graph/join extras
    streaming/  — incremental (Trigger.AvailableNow) ingest and maintenance
    training/   — document codecs, glyph OCR, and corpus-preparation
                  operators (dedup, similarity, textstats, tokenizers)
"""

__version__ = "0.1.0"

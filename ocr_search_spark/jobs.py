"""spark-submit job entry points (BASELINE.json north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

Usage (cluster — spark-submit takes an application FILE, it has no -m):

    ZIP=$(python -c 'from ocr_search_spark.deploy import package_zip; print(package_zip())')
    spark-submit --py-files "$ZIP" path/to/ocr_search_spark/__main__.py \
        extract --input /data/documents --out /data/warehouse --n-buckets 1024

or locally: ``python -m ocr_search_spark <job> …`` (the session factory
ships the package itself via addPyFile — same mechanism).

Jobs:
  extract          resumable bucketed extraction (Arrow batches) +
                   postings build
  search           top-k query against a stored postings table
  serve            HTTP /pages + /pageImg façade over stored tables
                   (the reference's runserver.script.js equivalent,
                   default port 7055 = AppConfig.const.js:21)
  sync             one poll iteration: list source dir, diff vs the
                   standing file library, MERGE added/modified docs,
                   cascade-delete removed files' docs (the reference's
                   15-min DropboxSynchronizer loop, idempotent)
"""

from __future__ import annotations

import argparse
import json
import sys


def _positive_int(value: str) -> int:
    n = int(value)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be a positive integer, got {value}")
    return n


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--cores", type=int, default=None, help="local[N] cores")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="ocr_search_spark")
    sub = ap.add_subparsers(dest="job", required=True)

    pe = sub.add_parser("extract", help="bucketed extraction + postings build")
    pe.add_argument("--input", required=True, help="documents parquet dir")
    pe.add_argument("--out", required=True, help="warehouse output dir")
    pe.add_argument("--run-id", default=None)
    pe.add_argument("--n-buckets", type=int, default=32)
    pe.add_argument("--skew-threshold", type=int, default=64)
    pe.add_argument(
        "--source-format", default="spans", choices=["spans", "binary"],
        help="'binary': input rows are (doc_id, payload) raw PDF/PPTX/PNG "
        "bytes; the conversion stage runs inside the checkpoint envelope",
    )
    pe.add_argument("--skip-postings", action="store_true")
    _add_common(pe)

    ps = sub.add_parser("search", help="top-k query against stored postings")
    ps.add_argument("--postings", required=True, help="postings parquet dir")
    ps.add_argument("--query", required=True)
    ps.add_argument("--max-return", type=_positive_int, default=20)
    _add_common(ps)

    pv = sub.add_parser("serve", help="HTTP /pages facade over stored tables")
    pv.add_argument("--postings", required=True, help="postings parquet dir")
    pv.add_argument("--docs", required=True, help="doc catalog parquet dir")
    pv.add_argument("--png-root", default=None, help="static /pageImg root")
    pv.add_argument("--port", type=int, default=7055)
    pv.add_argument("--host", default="127.0.0.1")
    _add_common(pv)

    py = sub.add_parser("sync", help="one source-tree sync iteration")
    py.add_argument("--source", required=True, help="source documents dir")
    py.add_argument("--warehouse", required=True, help="standing tables dir")
    py.add_argument("--n-buckets", type=int, default=32)
    _add_common(py)

    args = ap.parse_args(argv)

    from .session import get_spark

    spark = get_spark("ocr_search_spark_job", cores=args.cores)

    if args.job == "extract":
        from .pipeline import build_postings, run_extraction_job

        src_col = "payload" if args.source_format == "binary" else "spans"
        docs = spark.read.parquet(args.input).select("doc_id", src_col)
        summary = run_extraction_job(
            spark,
            docs,
            args.out,
            run_id=args.run_id,
            n_buckets=args.n_buckets,
            skew_threshold=args.skew_threshold,
            source_format=args.source_format,
        )
        if not args.skip_postings:
            build_postings(spark, args.out)
        print(json.dumps(summary))
    elif args.job == "search":
        from .operators.search import search

        postings = spark.read.parquet(args.postings)
        rows = search(spark, postings, args.query, max_return=args.max_return).collect()
        print(
            json.dumps(
                {"hits": [{"doc_id": r["doc_id"], "score": r["score"]} for r in rows]}
            )
        )
    elif args.job == "serve":
        from . import serving_index
        from .server import PagesServer

        postings = spark.read.parquet(args.postings)
        docs = spark.read.parquet(args.docs)
        serving_index.of(postings, docs)  # build before accepting requests
        srv = PagesServer(
            spark, postings, docs,
            host=args.host, port=args.port, png_root=args.png_root,
        ).start()
        print(json.dumps({"job": "serve", "port": srv.port}), flush=True)
        try:
            srv._thread.join()
        except KeyboardInterrupt:
            srv.stop()
    elif args.job == "sync":
        from .sync import sync_once

        out = sync_once(
            spark, args.source, args.warehouse, n_buckets=args.n_buckets
        )
        print(json.dumps({"job": "sync", **out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

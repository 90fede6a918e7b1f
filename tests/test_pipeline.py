"""Checkpoint/resume pipeline tests (SURVEY §4.2.2, north_rule lineage).

Properties:
* resume-from-partial == cold full run (byte-identical extracted table);
* completed buckets are skipped, not recomputed;
* lineage rows describe committed data (counts match the table);
* re-running a completed run is a no-op;
* only a missing or never-committed checkpoint reads as "nothing done".
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from ocr_search_spark import golden, pipeline


@pytest.fixture()
def out_dir(tmp_path):
    d = str(tmp_path / "warehouse")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _flat(df):
    return df.select("doc_id", F.posexplode("spans").alias("pos", "s")).select(
        "doc_id", "pos", "s.*"
    )


def test_resume_equals_cold_run(spark, corpus_df, out_dir, tmp_path):
    docs = corpus_df.select("doc_id", "spans")
    n_buckets = 8

    # cold full run into a reference dir
    cold_dir = str(tmp_path / "cold")
    res = pipeline.run_extraction_job(
        spark, docs, cold_dir, run_id="cold", n_buckets=n_buckets
    )
    assert res["buckets_processed"] == n_buckets

    # partial run: only buckets < 3 (simulated failure after 3 buckets)
    r1 = pipeline.run_extraction_job(
        spark,
        docs,
        out_dir,
        run_id="r1",
        n_buckets=n_buckets,
        bucket_filter=lambda b: b < 3,
    )
    assert r1["buckets_processed"] == 3

    # resume: processes exactly the remaining buckets
    r2 = pipeline.run_extraction_job(
        spark, docs, out_dir, run_id="r1", n_buckets=n_buckets
    )
    assert r2["buckets_done"] == 3
    assert r2["buckets_processed"] == n_buckets - 3

    cold = _flat(spark.read.parquet(f"{cold_dir}/extracted_spans"))
    resumed = _flat(spark.read.parquet(f"{out_dir}/extracted_spans"))
    assert cold.exceptAll(resumed).count() == 0
    assert resumed.exceptAll(cold).count() == 0

    # re-run of a complete run: no-op
    r3 = pipeline.run_extraction_job(
        spark, docs, out_dir, run_id="r1", n_buckets=n_buckets
    )
    assert r3["buckets_processed"] == 0

    # resuming the same run_id under a DIFFERENT bucketing config must be
    # refused (the recorded buckets belong to another scheme entirely)
    with pytest.raises(ValueError, match="different run config"):
        pipeline.run_extraction_job(
            spark, docs, out_dir, run_id="r1", n_buckets=n_buckets * 2
        )


def _files_per_bucket(table_dir):
    """{bucket dir name: number of parquet data files in it}."""
    return {
        d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(table_dir, d)))
        for d in os.listdir(table_dir)
        if d.startswith("bucket=")
    }


def test_multi_partition_extraction_writes_one_file_per_bucket(
    spark, corpus_df, out_dir, tmp_path
):
    """Extraction spread over several partitions (and the skew path's
    shuffle) still commits each bucket as one file, on a cold run and on
    each leg of a partial run + resume; the resumed table equals the
    cold one."""
    docs = corpus_df.select("doc_id", "spans").repartition(6)
    n_buckets = 8

    cold_dir = str(tmp_path / "cold")
    pipeline.run_extraction_job(
        spark, docs, cold_dir, run_id="cold", n_buckets=n_buckets, num_partitions=4
    )
    cold_files = _files_per_bucket(f"{cold_dir}/{pipeline.EXTRACTED_DIR}")
    assert cold_files == {f"bucket={b}": 1 for b in range(n_buckets)}

    pipeline.run_extraction_job(
        spark, docs, out_dir, run_id="r", n_buckets=n_buckets, num_partitions=4,
        bucket_filter=lambda b: b < 3,
    )
    pipeline.run_extraction_job(
        spark, docs, out_dir, run_id="r", n_buckets=n_buckets, num_partitions=4
    )
    assert _files_per_bucket(f"{out_dir}/{pipeline.EXTRACTED_DIR}") == cold_files

    cold = _flat(spark.read.parquet(f"{cold_dir}/{pipeline.EXTRACTED_DIR}"))
    resumed = _flat(spark.read.parquet(f"{out_dir}/{pipeline.EXTRACTED_DIR}"))
    assert cold.exceptAll(resumed).count() == 0
    assert resumed.exceptAll(cold).count() == 0


def test_read_done_buckets_absent_checkpoint_is_empty(spark, out_dir):
    assert pipeline.read_done_buckets(spark, out_dir, "r", "cfg") == set()


def test_read_done_buckets_uncommitted_checkpoint_is_empty(spark, out_dir):
    """A writer that died before its first commit leaves only staged
    files under ``_temporary``: nothing is done yet. Once a checkpoint
    file is committed, its buckets read back."""
    cp = f"{out_dir}/{pipeline.CHECKPOINT_DIR}"
    staged = f"{cp}/_temporary/0/_temporary/attempt_0"
    os.makedirs(staged)
    with open(f"{staged}/part-00000.snappy.parquet", "wb") as fh:
        fh.write(b"half-written")
    assert pipeline.read_done_buckets(spark, out_dir, "r", "cfg") == set()

    spark.createDataFrame(
        [("r", "cfg", 3, "done"), ("other", "cfg", 5, "done")],
        "run_id string, config_hash string, partition_id int, status string",
    ).write.mode("append").parquet(cp)
    assert pipeline.read_done_buckets(spark, out_dir, "r", "cfg") == {3}


def test_read_done_buckets_unreadable_checkpoint_raises(spark, corpus_df, out_dir):
    """A committed checkpoint that cannot be read must fail the run, not
    read as "no checkpoint" (which would re-extract every bucket and skip
    the foreign-config guard)."""
    cp = f"{out_dir}/{pipeline.CHECKPOINT_DIR}"
    os.makedirs(cp)
    with open(f"{cp}/part-00000-corrupt.snappy.parquet", "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        pipeline.read_done_buckets(spark, out_dir, "r", "cfg")
    with pytest.raises(Exception, match="(?i)parquet"):
        pipeline.run_extraction_job(
            spark, corpus_df.select("doc_id", "spans"), out_dir, run_id="r",
            n_buckets=4,
        )


def test_lineage_matches_committed_data(spark, corpus_df, out_dir):
    docs = corpus_df.select("doc_id", "spans")
    pipeline.run_extraction_job(spark, docs, out_dir, run_id="x", n_buckets=4)
    cp = spark.read.parquet(f"{out_dir}/checkpoint")
    ext = spark.read.parquet(f"{out_dir}/extracted_spans")
    assert cp.where(F.col("status") != "done").count() == 0
    got = {r["partition_id"]: r for r in cp.collect()}
    actual = {
        r["bucket"]: r
        for r in ext.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size("spans")).alias("n_spans"),
        )
        .collect()
    }
    assert set(got) == set(actual)
    for b, row in actual.items():
        assert got[b]["n_docs"] == row["n_docs"]
        assert got[b]["n_spans"] == row["n_spans"]
    assert cp.agg(F.sum("n_docs")).collect()[0][0] == docs.count()
    assert cp.agg(F.sum("n_errors")).collect()[0][0] == 0


def test_postings_build_and_history(spark, corpus_df, out_dir):
    docs = corpus_df.select("doc_id", "spans").limit(60)
    pipeline.run_extraction_job(spark, docs, out_dir, run_id="p", n_buckets=2)
    pipeline.build_postings(spark, out_dir)
    postings = spark.read.parquet(f"{out_dir}/term_postings")
    assert postings.count() > 0
    assert postings.columns == ["term", "doc_id", "tf"]

    from ocr_search_spark.operators.search import search

    search(spark, postings, "tables merged").collect()


def test_incremental_update_equals_full_rebuild(spark, corpus_df):
    """M3/X4 end-to-end: when a diff of documents changes (modified +
    deleted + added), re-extracting ONLY the changed docs and replacing
    them in the standing tables (anti-join + union on doc_id) equals a
    full rebuild from the new corpus."""
    from ocr_search_spark.operators.extract import extract_spans_columnar
    from ocr_search_spark.operators.tokenize import term_postings

    docs_v1 = corpus_df.select("doc_id", "spans").limit(100).cache()
    ids = [r["doc_id"] for r in docs_v1.select("doc_id").collect()]
    modified, deleted = set(ids[:10]), set(ids[10:15])

    # v2 corpus: 10 docs get a prepended span, 5 are deleted
    new_span = F.struct(
        F.lit("text").alias("kind"),
        F.lit("brand new modified content").alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).cast("int").alias("offset"),
    )
    bumped = F.transform(
        "spans",
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            (s["offset"] + 1).cast("int").alias("offset"),
        ),
    )
    docs_v2 = (
        docs_v1.where(~F.col("doc_id").isin(*deleted))
        .withColumn(
            "spans",
            F.when(
                F.col("doc_id").isin(*modified),
                F.concat(F.array(new_span), bumped),
            ).otherwise(F.col("spans")),
        )
        .cache()
    )

    # full rebuild from v2
    full_ext = extract_spans_columnar(docs_v2).drop("error")
    full_post = term_postings(full_ext)

    # incremental: standing tables from v1, then MERGE the diff only
    ext_v1 = extract_spans_columnar(docs_v1).drop("error").cache()
    post_v1 = term_postings(ext_v1).cache()
    changed = docs_v2.where(F.col("doc_id").isin(*modified))
    ext_delta = extract_spans_columnar(changed).drop("error")
    post_delta = term_postings(ext_delta)

    doomed = spark.createDataFrame(
        [(d,) for d in sorted(deleted | modified)], "doc_id string"
    )

    def replaced(standing, delta):
        kept = standing.join(doomed, "doc_id", "left_anti")
        return kept.select(*standing.columns).unionByName(delta)

    ext_inc = replaced(ext_v1, ext_delta)
    post_inc = replaced(post_v1, post_delta)

    flat = lambda df: df.select(  # noqa: E731
        "doc_id", F.posexplode("spans").alias("p", "s")
    ).select("doc_id", "p", "s.*")
    assert flat(full_ext).exceptAll(flat(ext_inc)).count() == 0
    assert flat(ext_inc).exceptAll(flat(full_ext)).count() == 0
    assert full_post.exceptAll(post_inc).count() == 0
    assert post_inc.exceptAll(full_post).count() == 0


def test_jobs_cli_extract_and_search(spark, corpus_df, tmp_path, capsys):
    """The spark-submit job surface: extract job writes warehouse +
    postings and prints its summary; search job answers from the stored
    postings. (In-process smoke — the cluster path differs only by
    --py-files, which deploy.package_zip provides.)"""
    import json

    from ocr_search_spark import jobs

    docs_path = str(tmp_path / "docs")
    corpus_df.select("doc_id", "spans").limit(60).write.parquet(docs_path)
    out = str(tmp_path / "wh")
    rc = jobs.main(
        ["extract", "--input", docs_path, "--out", out, "--n-buckets", "4",
         "--run-id", "cli"]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["run_id"] == "cli"
    assert summary["buckets_processed"] == 4

    postings = f"{out}/term_postings"
    rc = jobs.main(["search", "--postings", postings, "--query", "tables merged"])
    assert rc == 0
    hits = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["hits"]
    stored = {
        (r["term"], r["doc_id"]): r["tf"] for r in spark.read.parquet(postings).collect()
    }
    want = golden.search(stored, "tables merged", 20)
    assert want and [(h["doc_id"], h["score"]) for h in hits] == want


@pytest.mark.parametrize("k", ["0", "-3"])
def test_jobs_cli_search_rejects_bad_max_return(k, capsys):
    """A max-return below 1 is a usage error (exit 2), caught before a
    Spark session starts."""
    from ocr_search_spark import jobs

    with pytest.raises(SystemExit) as exc:
        jobs.main(["search", "--postings", "p", "--query", "q", "--max-return", k])
    assert exc.value.code == 2
    assert "--max-return" in capsys.readouterr().err


def test_binary_source_pipeline_resume(spark, out_dir, tmp_path):
    """source_format='binary': PDF/PPTX payloads convert INSIDE the
    bucket-checkpoint envelope; partial run + resume == cold run; a bad
    payload lands in lineage n_errors instead of failing the job."""
    from ocr_search_spark.training.pdfmini import encode_pdf
    from ocr_search_spark.training.pptxmini import encode_pptx

    rows = []
    for i in range(40):
        text_lines = [f"doc {i} alpha beta line {j}" for j in range(3)]
        if i % 2 == 0:
            rows.append((f"doc{i:03d}", bytearray(encode_pdf(text_lines))))
        else:
            rows.append((f"doc{i:03d}", bytearray(encode_pptx([text_lines]))))
    rows.append(("docbad", bytearray(b"not a container")))
    docs = spark.createDataFrame(rows, "doc_id string, payload binary")

    cold_dir = str(tmp_path / "cold_bin")
    pipeline.run_extraction_job(
        spark, docs, cold_dir, run_id="bin", n_buckets=8, source_format="binary"
    )

    # partial run: only buckets < 4, then resume the rest
    r1 = pipeline.run_extraction_job(
        spark, docs, out_dir, run_id="bin", n_buckets=8,
        source_format="binary", bucket_filter=lambda b: b < 4,
    )
    assert 0 < r1["buckets_processed"] < 8
    r2 = pipeline.run_extraction_job(
        spark, docs, out_dir, run_id="bin", n_buckets=8, source_format="binary"
    )
    assert r2["buckets_done"] == r1["buckets_processed"]
    assert r2["buckets_processed"] == 8 - r1["buckets_processed"]

    cold = spark.read.parquet(f"{cold_dir}/{pipeline.EXTRACTED_DIR}")
    warm = spark.read.parquet(f"{out_dir}/{pipeline.EXTRACTED_DIR}")
    assert sorted(map(tuple, _flat(cold).collect())) == sorted(
        map(tuple, _flat(warm).collect())
    )

    # the bad payload is an error row, with its convert error recorded
    err = warm.where(F.col("error").isNotNull()).collect()
    assert [r["doc_id"] for r in err] == ["docbad"]
    assert "unknown" in err[0]["error"]
    cp = spark.read.parquet(f"{out_dir}/{pipeline.CHECKPOINT_DIR}")
    assert cp.agg(F.sum("n_errors")).first()[0] == 1

    # span-source and binary-source configs never share checkpoints
    with pytest.raises(ValueError, match="different run config"):
        pipeline.run_extraction_job(
            spark, docs.withColumn("spans", F.expr("array()")), out_dir,
            run_id="bin", n_buckets=8,
        )


def test_binary_source_search_end_to_end(spark, out_dir):
    from ocr_search_spark.training.pdfmini import encode_pdf

    docs = spark.createDataFrame(
        [
            ("w1", bytearray(encode_pdf(["xylophone orchestra rehearsal"]))),
            ("w2", bytearray(encode_pdf(["everyday ordinary content"]))),
        ],
        "doc_id string, payload binary",
    )
    pipeline.run_extraction_job(
        spark, docs, out_dir, run_id="s", n_buckets=4, source_format="binary"
    )
    pipeline.build_postings(spark, out_dir)
    post = spark.read.parquet(f"{out_dir}/{pipeline.POSTINGS_DIR}")
    from ocr_search_spark.operators.search import match_terms

    hits = match_terms(post, ["xylophone"]).collect()
    assert [h["doc_id"] for h in hits] == ["w1"]


def test_spark_submit_py_files_end_to_end(corpus_df, tmp_path):
    """The LITERAL north-rule deployment: ``spark-submit --master
    local[2] --py-files <zip> job.py extract …`` as a real subprocess,
    with the job file copied OUTSIDE the repo so ``ocr_search_spark``
    can resolve only from the shipped zip (driver and executor Python
    workers alike), and the submitted master honored by get_spark."""
    import json
    import os
    import shutil
    import subprocess
    import sys
    from pathlib import Path

    import ocr_search_spark
    from ocr_search_spark.deploy import package_zip

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pyspark

        spark_submit = os.path.join(
            os.path.dirname(pyspark.__file__), "bin", "spark-submit"
        )
    docs_path = str(tmp_path / "docs")
    corpus_df.select("doc_id", "spans").limit(40).write.parquet(docs_path)
    job_file = tmp_path / "submit_job.py"
    shutil.copyfile(
        Path(ocr_search_spark.__file__).parent / "__main__.py", job_file
    )
    out_dir = str(tmp_path / "wh")
    env = {
        **os.environ,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    env.pop("PYTHONPATH", None)  # the zip must be the ONLY import path
    env.pop("SPARK_GRAFT_CPUS", None)  # must not pin a local master
    res = subprocess.run(
        [
            spark_submit,
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", package_zip(),
            str(job_file),
            "extract", "--input", docs_path, "--out", out_dir,
            "--n-buckets", "2", "--run-id", "submit",
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env=env,
        timeout=420,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["run_id"] == "submit"
    assert summary["buckets_processed"] == 2


def test_run_extraction_job_rejects_unknown_source_format(tmp_path):
    """Only span and binary sources exist; the format is checked before
    any Spark work."""
    with pytest.raises(ValueError, match="warc"):
        pipeline.run_extraction_job(None, None, str(tmp_path), source_format="warc")


def test_snapshot_table_source_extraction(spark, corpus_df, tmp_path):
    """North-rule integration: the extraction job reading its corpus
    from the versioned lakehouse table (the repo's Iceberg analog,
    storage_snapshots.SnapshotTable) instead of a raw parquet dir.

    Properties:
    * partial run + resume over ``table.read()`` == cold run over the
      same frame (the checkpoint envelope is source-agnostic);
    * after a MERGE restates one document's spans, extracting the new
      version picks up exactly that change;
    * time-travel (``read(v1)``) still extracts the ORIGINAL spans —
      reproducibility of a past training-data build."""
    from ocr_search_spark.storage_snapshots import SnapshotTable

    docs = corpus_df.select("doc_id", "spans")
    t = SnapshotTable(spark, str(tmp_path / "corpus_tbl"))
    v1 = t.create(docs)

    cold_dir = str(tmp_path / "cold")
    pipeline.run_extraction_job(spark, docs, cold_dir, run_id="c", n_buckets=4)
    cold = _flat(spark.read.parquet(f"{cold_dir}/extracted_spans"))

    # partial + resume over the snapshot scan
    snap_dir = str(tmp_path / "snap")
    pipeline.run_extraction_job(
        spark, t.read(), snap_dir, run_id="s", n_buckets=4,
        bucket_filter=lambda b: b < 2,
    )
    r = pipeline.run_extraction_job(
        spark, t.read(), snap_dir, run_id="s", n_buckets=4
    )
    assert r["buckets_done"] == 2 and r["buckets_processed"] == 2
    got = _flat(spark.read.parquet(f"{snap_dir}/extracted_spans"))
    assert cold.exceptAll(got).count() == 0 and got.exceptAll(cold).count() == 0

    # MERGE restates one multi-span doc to its first span only
    victim = (
        docs.where(F.size("spans") > 1).select("doc_id").orderBy("doc_id").first()
    )["doc_id"]
    restated = docs.where(F.col("doc_id") == victim).select(
        "doc_id", F.slice("spans", 1, 1).alias("spans")
    )
    t.merge(restated, ["doc_id"])

    v2_dir = str(tmp_path / "v2")
    pipeline.run_extraction_job(spark, t.read(), v2_dir, run_id="v2", n_buckets=4)
    v2 = _flat(spark.read.parquet(f"{v2_dir}/extracted_spans"))
    assert v2.where(F.col("doc_id") == victim).count() == 1
    a = cold.where(F.col("doc_id") != victim)
    b = v2.where(F.col("doc_id") != victim)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # time travel: v1 extraction reproduces the original build
    tt_dir = str(tmp_path / "tt")
    pipeline.run_extraction_job(
        spark, t.read(version=v1), tt_dir, run_id="tt", n_buckets=4
    )
    tt = _flat(spark.read.parquet(f"{tt_dir}/extracted_spans"))
    assert cold.exceptAll(tt).count() == 0 and tt.exceptAll(cold).count() == 0

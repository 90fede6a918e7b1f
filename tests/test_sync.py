"""sync_once: the poll-diff-process loop end-to-end — add, modify,
delete, idempotence (byte-identical tables on a no-change poll)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ocr_search_spark import corpus, sync
from ocr_search_spark.operators.extract import extract_spans_columnar
from ocr_search_spark.operators.tokenize import term_postings
from ocr_search_spark.storage import BucketedTable
from tests.test_storage import _file_state


def _write_file(docs, path):
    docs.repartition(1).write.mode("overwrite").parquet(path + ".tmp")
    import glob
    import shutil

    part = glob.glob(path + ".tmp/part-*.parquet")[0]
    shutil.move(part, path)
    shutil.rmtree(path + ".tmp")


def test_sync_add_modify_delete_idempotent(spark, tmp_path):
    source = str(tmp_path / "source")
    wh = str(tmp_path / "wh")
    os.makedirs(source)
    all_docs = corpus.documents_table(spark, 60, skew=False).cache()
    ids = sorted(r["doc_id"] for r in all_docs.select("doc_id").collect())
    third = len(ids) // 3
    f1 = all_docs.where(F.col("doc_id").isin(ids[:third]))
    f2 = all_docs.where(F.col("doc_id").isin(ids[third : 2 * third]))
    f3 = all_docs.where(F.col("doc_id").isin(ids[2 * third :]))
    _write_file(f1, f"{source}/f1.parquet")
    _write_file(f2, f"{source}/f2.parquet")

    out = sync.sync_once(spark, source, wh)
    assert out == {"added": 2, "modified": 0, "deleted": 0}
    posts = sync.postings_table(spark, f"{wh}/postings", 32)

    def expect(docs):
        return term_postings(
            extract_spans_columnar(docs.select("doc_id", "spans"))
        )

    got = posts.read()
    want = expect(f1.unionByName(f2))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    # no-change poll: zero work, every table file byte-identical
    before = _file_state(wh)
    assert sync.sync_once(spark, source, wh) == {
        "added": 0, "modified": 0, "deleted": 0,
    }
    assert _file_state(wh) == before

    # modify f1 (new doc versions), add f3, delete f2
    f1b = f1.withColumn(
        "spans",
        F.concat(
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.lit("resynced fresh content").alias("text"),
                    F.lit("").alias("media_ref"),
                    F.lit(0).cast("int").alias("offset"),
                )
            ),
            F.transform(
                "spans",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    (s["offset"] + 1).cast("int").alias("offset"),
                ),
            ),
        ),
    )
    _write_file(f1b, f"{source}/f1.parquet")
    os.utime(f"{source}/f1.parquet", (2_000_000_000, 2_000_000_000))
    _write_file(f3, f"{source}/f3.parquet")
    os.remove(f"{source}/f2.parquet")

    out = sync.sync_once(spark, source, wh)
    assert out == {"added": 1, "modified": 1, "deleted": 1}
    got = posts.read()
    want = expect(f1b.unionByName(f3))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # f2's docs are fully gone
    f2_ids = [r["doc_id"] for r in f2.select("doc_id").collect()]
    assert got.where(F.col("doc_id").isin(f2_ids)).count() == 0


def test_cli_tokenizer_train_both_algos(spark, tmp_path):
    """Subword vocab training over a documents table, both algorithms
    (unigram hard-EM pieces and BPE merges), written out and read back.
    Formerly driven through a CLI subcommand; now the library calls."""
    from ocr_search_spark.training.bpe import learn_bpe_merges
    from ocr_search_spark.training.unigram_lm import train_unigram, word_counts

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(40)
    src = str(tmp_path / "docs")
    docs.write.parquet(src)

    vocab = train_unigram(spark.read.parquet(src), n_multi=30, iters=1)
    vocab.write.mode("overwrite").parquet(str(tmp_path / "uni"))
    assert vocab.count() > 0
    assert spark.read.parquet(str(tmp_path / "uni")).columns == ["piece", "cnt", "score_e6"]

    wf = word_counts(spark.read.parquet(src), "text").select(
        "word", F.col("wcnt").alias("freq")
    )
    merges = learn_bpe_merges(wf, n_merges=5)
    merges.write.mode("overwrite").parquet(str(tmp_path / "bpe"))
    assert merges.count() > 0


def test_sync_bulk_scan_path_equals_per_file(spark, tmp_path, monkeypatch):
    """Cold-start syncs past _SMALL_POLL_FILES take the one-scan +
    semi-join ingest (no driver path lists); forcing that path on a
    small source must produce tables identical to the per-file route,
    including a subdirectory and a space-bearing file name (the
    input_file_name URL-encoding hazard)."""
    monkeypatch.setattr(sync, "_SMALL_POLL_FILES", 0)
    source = str(tmp_path / "source")
    wh = str(tmp_path / "wh")
    os.makedirs(f"{source}/nested")
    all_docs = corpus.documents_table(spark, 30, skew=False).cache()
    ids = sorted(r["doc_id"] for r in all_docs.select("doc_id").collect())
    half = len(ids) // 2
    f1 = all_docs.where(F.col("doc_id").isin(ids[:half]))
    f2 = all_docs.where(F.col("doc_id").isin(ids[half:]))
    _write_file(f1, f"{source}/nested/f one.parquet")
    _write_file(f2, f"{source}/f2.parquet")

    out = sync.sync_once(spark, source, wh)
    assert out == {"added": 2, "modified": 0, "deleted": 0}
    posts = sync.postings_table(spark, f"{wh}/postings", 32)
    got = posts.read()
    want = term_postings(
        extract_spans_columnar(all_docs.select("doc_id", "spans"))
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # membership carries the decoded RELATIVE path for every file
    mem = sync.membership_table(spark, f"{wh}/membership")
    paths = {r["path"] for r in mem.read().select("path").distinct().collect()}
    assert paths == {"nested/f one.parquet", "f2.parquet"}
    # deletion driven off the DataFrame diff: drop one file, docs cascade
    os.remove(f"{source}/f2.parquet")
    out = sync.sync_once(spark, source, wh)
    assert out == {"added": 0, "modified": 0, "deleted": 1}
    f2_ids = [r["doc_id"] for r in f2.select("doc_id").collect()]
    assert posts.read().where(F.col("doc_id").isin(f2_ids)).count() == 0


def test_sync_bulk_plus_in_filename_not_dropped(spark, tmp_path, monkeypatch):
    """A literal '+' in a file name survives the bulk-scan path decode.
    input_file_name() leaves '+' unescaped while url_decode treats it
    as an encoded space — without the %2B shield the file's docs were
    silently dropped from postings/membership while the filelib still
    recorded its mtime (permanent data loss on every later poll)."""
    monkeypatch.setattr(sync, "_SMALL_POLL_FILES", 0)
    source = str(tmp_path / "source")
    wh = str(tmp_path / "wh")
    os.makedirs(source)
    all_docs = corpus.documents_table(spark, 20, skew=False).cache()
    ids = sorted(r["doc_id"] for r in all_docs.select("doc_id").collect())
    half = len(ids) // 2
    f1 = all_docs.where(F.col("doc_id").isin(ids[:half]))
    f2 = all_docs.where(F.col("doc_id").isin(ids[half:]))
    _write_file(f1, f"{source}/a+b.parquet")
    _write_file(f2, f"{source}/c %41+d.parquet")

    out = sync.sync_once(spark, source, wh)
    assert out == {"added": 2, "modified": 0, "deleted": 0}
    posts = sync.postings_table(spark, f"{wh}/postings", 32)
    got = posts.read()
    want = term_postings(
        extract_spans_columnar(all_docs.select("doc_id", "spans"))
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    mem = sync.membership_table(spark, f"{wh}/membership")
    paths = {r["path"] for r in mem.read().select("path").distinct().collect()}
    assert paths == {"a+b.parquet", "c %41+d.parquet"}


def test_sync_bulk_driver_collects_stay_bounded(spark, tmp_path, monkeypatch):
    """SCALE.md rule 3 as a regression test: a bulk sync over N files
    must never materialize a path list on the driver — every collect()
    during the poll returns a row count bounded by configuration
    (status classes, bucket ids), independent of N (=40 here)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # Spark 4: the concrete class (pyspark.sql.classic) overrides the
    # public DataFrame ABC — patch the class whose collect actually runs
    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.setattr(sync, "_SMALL_POLL_FILES", 0)
    source = str(tmp_path / "source")
    os.makedirs(source)
    span_t = pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))
    n_files = 40
    for i in range(n_files):
        tbl = pa.table({
            "doc_id": pa.array([i * 10 + j for j in range(3)], pa.int64()),
            "spans": pa.array(
                [[{"kind": "text", "text": f"alpha beta doc{i} row{j}",
                   "media_ref": "", "offset": 0}] for j in range(3)],
                span_t),
        })
        pq.write_table(tbl, f"{source}/f{i:03d}.parquet")

    sizes = []
    orig = DataFrame.collect

    def counting_collect(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    out = sync.sync_once(spark, source, str(tmp_path / "wh"))
    assert out == {"added": n_files, "modified": 0, "deleted": 0}
    assert sizes, "expected at least the status-count collect"
    # every driver materialization is config-bounded: 3 status classes /
    # 32 bucket ids — never the 40-path change set
    assert max(sizes) < n_files, sizes



def _diff_model(old: dict, new: dict) -> dict:
    """Dict model of the reference's filesLibrary diff: a path only in the
    listing is added, only in the library is deleted, and in both is
    modified only when the listing's mtime is STRICTLY newer."""
    out = {p: "added" for p in new.keys() - old.keys()}
    out.update({p: "deleted" for p in old.keys() - new.keys()})
    out.update({p: "modified" for p in old.keys() & new.keys() if new[p] > old[p]})
    return out


def test_diff_filelib_matches_dict_model(spark):
    import random

    from ocr_search_spark.operators.maintenance import diff_filelib

    rng = random.Random(11)
    old, new = {"same.pdf": 5, "older.pdf": 9, "newer.pdf": 3, "gone.pdf": 1}, {
        "same.pdf": 5, "older.pdf": 8, "newer.pdf": 4, "fresh.pdf": 2,
    }
    for i in range(300):
        p, t = f"dir{i % 7}/f{i}.pptx", rng.randrange(100)
        kind = rng.choice(["old", "new", "same", "newer", "older"])
        if kind != "new":
            old[p] = t
        if kind != "old":
            new[p] = {"same": t, "newer": t + 1 + rng.randrange(5),
                      "older": t - 1 - rng.randrange(5)}.get(kind, t)
    schema = "path string, mtime long"
    got = {
        r["path"]: r["status"]
        for r in diff_filelib(
            spark.createDataFrame(list(old.items()), schema),
            spark.createDataFrame(list(new.items()), schema),
        ).collect()
    }
    want = _diff_model(old, new)
    assert got == want
    assert {k: got[k] for k in ("newer.pdf", "gone.pdf", "fresh.pdf")} == {
        "newer.pdf": "modified", "gone.pdf": "deleted", "fresh.pdf": "added",
    }
    # unchanged and older-mtime paths are not changes
    assert "same.pdf" not in got and "older.pdf" not in got
    assert set(want.values()) == {"added", "deleted", "modified"}


# ------------------------------------------------- doc-replace per poll

_T0_NS = 1_700_000_000 * 10**9
_POLL_BUCKETS = 8


def _put(source: str, name: str, tbl, ns: int) -> None:
    """Write ``tbl`` as the source file ``name`` with mtime ``ns``."""
    path = os.path.join(source, name)
    pq.write_table(tbl, path)
    os.utime(path, ns=(ns, ns))


def _pairs(df, *cols) -> set:
    return {tuple(r) for r in df.select(*cols).collect()}


def _assert_matches_source(spark, source: str, wh: str) -> None:
    """postings = a fresh term_postings build over the current files,
    membership = their (path, doc_id) pairs, filelib = the listing."""
    posts = sync.postings_table(spark, f"{wh}/postings", _POLL_BUCKETS).read()
    want = term_postings(
        extract_spans_columnar(spark.read.parquet(source).select("doc_id", "spans"))
    )
    assert posts.exceptAll(want).count() == 0 and want.exceptAll(posts).count() == 0
    names = sorted(os.listdir(source))
    held = {
        (n, d)
        for n in names
        for d in pq.read_table(os.path.join(source, n), columns=["doc_id"])
        .column("doc_id").to_pylist()
    }
    mem = sync.membership_table(spark, f"{wh}/membership").read()
    assert _pairs(mem, "path", "doc_id") == held
    lib = sync.filelib_table(spark, f"{wh}/filelib").read()
    listing = {(n, os.stat(os.path.join(source, n)).st_mtime_ns) for n in names}
    assert _pairs(lib, "path", "mtime") == listing


def _cold_tree(spark, tmp_path):
    """f0..f3 of 8 docs each, cold-synced; returns (source, wh, docs)
    where docs holds 48 docs: 0-31 in the files, 32-47 spare."""
    source, wh = str(tmp_path / "source"), str(tmp_path / "wh")
    os.makedirs(source)
    docs = corpus.documents_table(spark, 48, skew=False).orderBy("doc_id").toArrow()
    assert docs.num_rows == 48
    for i in range(4):
        _put(source, f"f{i}.parquet", docs.slice(8 * i, 8), _T0_NS)
    assert sync.sync_once(spark, source, wh, _POLL_BUCKETS) == {
        "added": 4, "modified": 0, "deleted": 0,
    }
    return source, wh, docs


def test_sync_dropped_page_leaves_postings_and_file_delete_cascades(spark, tmp_path):
    """A modified file that no longer holds a page takes that page's
    postings with it in the same poll; deleting the file later leaves no
    postings for any page it ever held."""
    source, wh, docs = _cold_tree(spark, tmp_path)
    posts = sync.postings_table(spark, f"{wh}/postings", _POLL_BUCKETS)
    f1_ids = docs.slice(8, 8).column("doc_id").to_pylist()
    dropped = f1_ids[-1]
    assert posts.read().where(F.col("doc_id") == dropped).count() > 0

    _put(source, "f1.parquet", docs.slice(8, 7), _T0_NS + 10**9)
    assert sync.sync_once(spark, source, wh, _POLL_BUCKETS) == {
        "added": 0, "modified": 1, "deleted": 0,
    }
    assert posts.read().where(F.col("doc_id") == dropped).count() == 0
    _assert_matches_source(spark, source, wh)

    os.remove(os.path.join(source, "f1.parquet"))
    assert sync.sync_once(spark, source, wh, _POLL_BUCKETS) == {
        "added": 0, "modified": 0, "deleted": 1,
    }
    assert posts.read().where(F.col("doc_id").isin(f1_ids)).count() == 0
    _assert_matches_source(spark, source, wh)


def test_sync_sees_rewrite_within_the_listed_second(spark, tmp_path):
    """Two writes of one file whose mtimes fall in the same second: the
    second is a modification (the filelib keeps nanoseconds)."""
    source, wh = str(tmp_path / "source"), str(tmp_path / "wh")
    os.makedirs(source)
    docs = corpus.documents_table(spark, 8, skew=False).orderBy("doc_id").toArrow()
    _put(source, "f.parquet", docs.slice(0, 4), _T0_NS + 100_000_000)
    assert sync.sync_once(spark, source, wh, _POLL_BUCKETS) == {
        "added": 1, "modified": 0, "deleted": 0,
    }
    _put(source, "f.parquet", docs.slice(4, 4), _T0_NS + 600_000_000)
    assert sync.sync_once(spark, source, wh, _POLL_BUCKETS) == {
        "added": 0, "modified": 1, "deleted": 0,
    }
    _assert_matches_source(spark, source, wh)


@pytest.mark.parametrize("k", [1, 2, 3])
def test_sync_crash_at_kth_write_converges_on_next_poll(spark, tmp_path, monkeypatch, k):
    """A mixed poll (an add, a modify, a modify that drops a page, a
    delete) dies at its k-th table write; one clean poll then leaves all
    three tables equal to the source. Every poll mutates through exactly
    three replace_group calls, postings → membership → filelib."""
    source, wh, docs = _cold_tree(spark, tmp_path)
    mixed = {"added": 1, "modified": 2, "deleted": 1}
    f0_new = docs.slice(0, 8).set_column(1, "spans", docs.slice(32, 8).column("spans"))
    _put(source, "f0.parquet", f0_new, _T0_NS + 10**9)
    _put(source, "f1.parquet", docs.slice(8, 5), _T0_NS + 10**9)
    os.remove(os.path.join(source, "f2.parquet"))
    _put(source, "f4.parquet", docs.slice(40, 8), _T0_NS + 10**9)

    writes = []
    crash_at = [k]
    replace_group = BucketedTable.replace_group

    def counted_replace_group(self, *args, **kwargs):
        writes.append(os.path.basename(self.path))
        if len(writes) == crash_at[0]:
            raise RuntimeError("injected crash")
        return replace_group(self, *args, **kwargs)

    monkeypatch.setattr(BucketedTable, "replace_group", counted_replace_group)

    with pytest.raises(RuntimeError, match="injected crash"):
        sync.sync_once(spark, source, wh, _POLL_BUCKETS)
    assert writes == ["postings", "membership", "filelib"][:k]

    writes.clear()
    crash_at[0] = 0
    assert sync.sync_once(spark, source, wh, _POLL_BUCKETS) == mixed
    assert writes == ["postings", "membership", "filelib"]
    _assert_matches_source(spark, source, wh)

"""BucketedTable: partition-pruned group replace on parquet storage.

The contract under test: a replace_group must leave every untouched
bucket partition's files BYTE-IDENTICAL (never opened, never
rewritten), while the table contents equal the same replace applied to
the whole table as a plain anti-join + union.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ocr_search_spark.storage import BUCKET_COL, BucketedTable

N_BUCKETS = 8
KEYS = ["term", "doc_id"]


def _file_state(root: str) -> dict[str, str]:
    """{relative parquet file path: md5} — byte-level partition state."""
    out = {}
    for p in Path(root).rglob("*.parquet"):
        out[str(p.relative_to(root))] = hashlib.md5(p.read_bytes()).hexdigest()
    return out


def _by_bucket(state: dict[str, str]) -> dict[int, dict[str, str]]:
    out: dict[int, dict[str, str]] = {}
    for rel, digest in state.items():
        b = int(rel.split(f"{BUCKET_COL}=")[1].split("/")[0])
        out.setdefault(b, {})[rel] = digest
    return out


@pytest.fixture()
def base_df(spark):
    rows = [(f"t{i % 37}", f"d{i % 101}", i % 7 + 1) for i in range(400)]
    return spark.createDataFrame(rows, "term string, doc_id string, tf int").dropDuplicates(KEYS)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _replaced(base, updates, keys):
    """Whole-table reference for replace_group: drop every row of the
    replaced groups, add the update rows."""
    kept = base.join(updates.select(*keys).distinct(), keys, "left_anti")
    return kept.select(*base.columns).unionByName(updates.select(*base.columns))


def test_upsert_rewrites_only_touched_buckets(spark, base_df, tmp_path):
    path = str(tmp_path / "tbl")
    t = BucketedTable(spark, path, KEYS, n_buckets=N_BUCKETS)
    t.init(base_df)
    before = _by_bucket(_file_state(path))
    assert set(before) == set(range(N_BUCKETS))  # enough rows to fill all

    updates = spark.createDataFrame(
        [("t1", "d1", 99), ("zzz", "znew", 5)], "term string, doc_id string, tf int"
    )
    touched = t.replace_group(updates, KEYS)
    assert 0 < len(touched) <= 2

    after = _by_bucket(_file_state(path))
    for b in range(N_BUCKETS):
        if b in touched:
            assert after[b] != before[b], f"touched bucket {b} not rewritten"
        else:
            assert after[b] == before[b], f"untouched bucket {b} was modified"

    assert _rows(t.read()) == _rows(_replaced(base_df, updates, KEYS))


def test_delete_prunes_and_drops_emptied_buckets(spark, base_df, tmp_path):
    path = str(tmp_path / "tbl")
    t = BucketedTable(spark, path, KEYS, n_buckets=N_BUCKETS)
    t.init(base_df)
    before = _by_bucket(_file_state(path))

    bucketed = base_df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(*KEYS), F.lit(N_BUCKETS)).cast("int")
    )
    # every key of bucket 0 (empties it) + one key from another bucket.
    # Materialized: a lazy limit(1) would re-pick a different row on every
    # re-evaluation of the doomed plan.
    doom_all = bucketed.where(F.col(BUCKET_COL) == 0).select(*KEYS)
    other = bucketed.where(F.col(BUCKET_COL) != 0).select(*KEYS).limit(1)
    doomed = spark.createDataFrame(
        doom_all.unionByName(other).collect(), "term string, doc_id string"
    )

    touched = t.replace_group(base_df.where(F.lit(False)), KEYS, groups=doomed)
    assert 0 in touched and len(touched) == 2

    after = _by_bucket(_file_state(path))
    assert 0 not in after, "emptied bucket partition must be dropped"
    partial = [b for b in touched if b != 0][0]
    assert after[partial] != before[partial]
    for b in set(range(N_BUCKETS)) - set(touched):
        assert after[b] == before[b], f"untouched bucket {b} was modified"

    expected = base_df.join(doomed, KEYS, "left_anti").select(*base_df.columns)
    assert _rows(t.read()) == _rows(expected)


def test_upsert_noop_on_empty_updates(spark, base_df, tmp_path):
    path = str(tmp_path / "tbl")
    t = BucketedTable(spark, path, KEYS, n_buckets=N_BUCKETS)
    t.init(base_df)
    before = _file_state(path)
    empty = base_df.where(F.lit(False))
    assert t.replace_group(empty, KEYS) == []
    assert t.replace_group(empty, KEYS, groups=empty.select(*KEYS)) == []
    assert _file_state(path) == before


def test_layout_mismatch_refused(spark, base_df, tmp_path):
    """Reopening a table with a different bucket layout must refuse to
    merge — rows would scatter into buckets their old versions don't
    inhabit."""
    path = str(tmp_path / "tbl")
    BucketedTable(spark, path, KEYS, n_buckets=N_BUCKETS).init(base_df)
    wrong = BucketedTable(spark, path, KEYS, n_buckets=N_BUCKETS * 2)
    upd = base_df.limit(1)
    with pytest.raises(ValueError, match="bucket layout mismatch"):
        wrong.replace_group(upd, KEYS)
    with pytest.raises(ValueError, match="bucket layout mismatch"):
        wrong.replace_group(upd.where(F.lit(False)), KEYS, groups=upd)
    # the matching handle still works
    ok = BucketedTable(spark, path, KEYS, n_buckets=N_BUCKETS)
    assert ok.replace_group(upd, KEYS)


def test_reinit_clears_previous_load(spark, base_df, tmp_path):
    """init on an existing table must not leave stale buckets from the
    previous load (dynamic overwrite alone only replaces partitions
    present in the new data)."""
    path = str(tmp_path / "tbl")
    t = BucketedTable(spark, path, KEYS, n_buckets=N_BUCKETS)
    t.init(base_df)
    small = base_df.limit(3)
    t.init(small)
    assert sorted(tuple(r) for r in t.read().collect()) == sorted(
        tuple(r) for r in small.collect()
    )


def test_init_writes_one_file_per_bucket(spark, base_df, tmp_path):
    """A multi-partition load still lands as one file per bucket: init
    hash-partitions on the bucket column before the write, instead of
    every input partition writing its own file into every bucket."""
    path = str(tmp_path / "tbl")
    t = BucketedTable(spark, path, KEYS, n_buckets=N_BUCKETS)
    src = base_df.repartition(8)
    assert src.rdd.getNumPartitions() == 8
    t.init(src)
    files = _by_bucket(_file_state(path))
    assert set(files) == set(range(N_BUCKETS))
    assert {b: len(f) for b, f in files.items()} == {b: 1 for b in range(N_BUCKETS)}
    assert _rows(t.read()) == _rows(base_df)


def test_delete_everything_keeps_table_readable(spark, base_df, tmp_path):
    """Emptying every bucket leaves a parquet-less dir; read() and the
    next mutation must still work (schema persisted in the meta)."""
    path = str(tmp_path / "tbl")
    t = BucketedTable(spark, path, KEYS, n_buckets=N_BUCKETS)
    t.init(base_df)
    t.replace_group(base_df.where(F.lit(False)), KEYS, groups=base_df)
    assert t.read().count() == 0
    assert t.read().columns == base_df.columns
    # table keeps working: a replace into the empty table
    t.replace_group(base_df.limit(2), KEYS)
    assert t.read().count() == 2


def test_replace_group_with_empty_new_version(spark, base_df, tmp_path):
    """A group replaced by ZERO rows (re-processed doc with no tokens)
    must still have its old rows dropped — groups passed explicitly."""
    path = str(tmp_path / "tbl")
    t = BucketedTable(spark, path, KEYS, n_buckets=N_BUCKETS, bucket_keys=["doc_id"])
    t.init(base_df)
    vid = base_df.select("doc_id").distinct().limit(1).collect()[0]["doc_id"]
    victim = spark.createDataFrame([(vid,)], "doc_id string")
    empty_updates = base_df.where(F.lit(False))
    t.replace_group(empty_updates, group_keys=["doc_id"], groups=victim)
    left = t.read()
    assert left.where(F.col("doc_id") == vid).count() == 0
    assert left.count() == base_df.where(F.col("doc_id") != vid).count()


def test_corrupt_data_file_raises_not_empty(spark, base_df, tmp_path):
    """A parquet read failure while data files still exist must RAISE
    treating it as an empty table would let the next replace overwrite
    the surviving rows with only the update rows."""
    path = str(tmp_path / "tbl")
    t = BucketedTable(spark, path, KEYS, n_buckets=N_BUCKETS)
    t.init(base_df)
    victim = next(Path(path).rglob("*.parquet"))
    victim.write_bytes(b"PAR1 this is not a parquet file")
    with pytest.raises(Exception):
        t.read().count()
    with pytest.raises(Exception):
        t.replace_group(base_df.limit(3), KEYS)


def test_kn_counts_ivm_through_bucketed_merge(spark, tmp_path):
    """The KN bigram-count IVM (training/textstats.py) wired through the
    storage layer: the delta lands as one pruned replace_group over the
    changed (u, w) keys (changed counts re-inserted, exactly-cancelled
    rows left out); untouched u-buckets stay byte-identical and the
    stored table equals the full recount."""
    from ocr_search_spark.training import textstats as TS

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    changed = F.col("doc_id") % 9 == 2
    new_corpus = docs.withColumn(
        "text",
        F.when(
            changed,
            F.array_join(F.reverse(F.split(F.lower("text"), r"\s+")), " "),
        ).otherwise(F.col("text")),
    )
    t = BucketedTable(
        spark, str(tmp_path / "kn"), keys=["u", "w"], n_buckets=8, bucket_keys=["u"]
    )
    t.init(TS.kn_bigram_counts(docs))
    before = _file_state(t.path)

    merged = TS.kn_counts_upsert(
        t.read(), docs.where(changed), new_corpus.where(changed)
    )
    delta_keys = (
        TS.kn_bigram_counts(docs.where(changed))
        .select("u", "w")
        .unionByName(TS.kn_bigram_counts(new_corpus.where(changed)).select("u", "w"))
        .distinct()
    )
    # every changed key is replaced by its row in the merge, if any.
    # MATERIALIZE both before mutating the table: their lineage reads
    # the stored files, and replace_group rewrites those files in place
    # (the delta is batch-sized, so localizing it is the production
    # shape too)
    upserts = merged.join(delta_keys, ["u", "w"])
    upserts = spark.createDataFrame(upserts.collect(), upserts.schema)
    delta_keys = spark.createDataFrame(delta_keys.collect(), delta_keys.schema)
    touched = set(t.replace_group(upserts, ["u", "w"], groups=delta_keys))

    want = sorted(map(tuple, TS.kn_bigram_counts(new_corpus).collect()))
    got = sorted(map(tuple, t.read().select("u", "w", "c_uw").collect()))
    assert got == want
    after = _file_state(t.path)
    for rel, digest in before.items():
        b = int(rel.split(f"{BUCKET_COL}=")[1].split("/")[0])
        if b not in touched:
            assert after[rel] == digest, f"untouched bucket {b} rewritten"

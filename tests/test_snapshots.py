"""SnapshotTable: time travel, COW delete file-granularity, rollback,
expiry GC — with byte-identity assertions on untouched files."""

from __future__ import annotations

import glob
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from ocr_search_spark.storage_snapshots import SnapshotTable


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.lit(tag).alias("tag"),
    )


def _file_digests(root):
    out = {}
    for p in glob.glob(os.path.join(root, "data", "**", "*.parquet"), recursive=True):
        with open(p, "rb") as fh:
            out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.fixture()
def table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    t.create(_df(spark, 0, 100, "base").repartition(4))
    return t


def test_create_append_time_travel(spark, table):
    v2 = table.append(_df(spark, 100, 150, "extra"))
    assert v2 == 2
    assert table.read().count() == 150
    assert table.read(version=1).count() == 100  # time travel
    assert table.read(version=1).where("tag = 'extra'").count() == 0
    hist = table.history()
    assert [h["version"] for h in hist] == [2, 1]
    assert hist[0]["operation"] == "append"


def test_append_never_rewrites_existing_files(spark, table, tmp_path):
    before = _file_digests(str(tmp_path / "snap"))
    table.append(_df(spark, 100, 120, "extra"))
    after = _file_digests(str(tmp_path / "snap"))
    for rel, digest in before.items():
        assert after[rel] == digest  # immutable data files


def test_overwrite_keeps_history(spark, table):
    table.overwrite(_df(spark, 0, 10, "new"))
    assert table.read().count() == 10
    assert table.read(version=1).count() == 100


def test_delete_where_is_file_granular(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    # k controls the file: repartition on a range so files partition k-space
    df = _df(spark, 0, 100, "base").repartitionByRange(4, "k")
    t.create(df)
    before = _file_digests(str(tmp_path / "snap"))
    t.delete_where(F.col("k") < 5)  # hits exactly one range file
    out = t.read()
    assert out.count() == 95
    assert out.where("k < 5").count() == 0
    assert t.read(version=1).count() == 100
    # v1 files are immutable: every one is still on disk byte-identical
    # (the touched one is retained for time travel, just de-referenced)
    after = _file_digests(str(tmp_path / "snap"))
    assert all(after.get(r) == d for r, d in before.items())
    # exactly 3 of the 4 range files are carried by reference into v2;
    # the k<5 file is replaced by rewritten c2 files
    man_files = set(t._manifest(2)["files"])
    carried = man_files & set(before)
    assert len(carried) == 3
    assert any(f.startswith("data/c2/") for f in man_files)


def test_delete_where_no_match_commits_noop_snapshot(spark, table):
    v = table.delete_where(F.col("k") > 10_000)
    assert v == 2
    assert table.read().count() == 100
    assert table.history()[0]["operation"] == "delete"


def test_rollback_is_append_only(spark, table):
    table.overwrite(_df(spark, 0, 5, "new"))
    v3 = table.rollback(1)
    assert v3 == 3
    assert table.read().count() == 100
    assert [h["version"] for h in table.history()] == [3, 2, 1]


def test_expire_snapshots_gc(spark, table, tmp_path):
    table.overwrite(_df(spark, 0, 10, "new"))
    table.append(_df(spark, 10, 20, "more"))
    removed = table.expire_snapshots(keep_last=1)
    assert removed["manifests"] == 2
    assert removed["files"] > 0  # v1's 4 files are unreferenced now
    assert table.read().count() == 20  # current still intact
    with pytest.raises(ValueError):
        table.read(version=1)
    # expiry never breaks any retained version
    assert table.history()[0]["version"] == 3


def test_create_twice_and_missing_read_raise(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    with pytest.raises(ValueError):
        t.read()
    t.create(_df(spark, 0, 5, "x"))
    with pytest.raises(ValueError):
        t.create(_df(spark, 0, 5, "x"))


def test_append_schema_mismatch_raises(spark, table):
    bad = spark.range(5).select(F.col("id").alias("other"))
    with pytest.raises(ValueError):
        table.append(bad)


def test_diff_versions_cdc(spark, table):
    # v2: delete k<10 (10 deletes), then v3: append 100..120 (inserts)
    # and overwrite is avoided so untouched rows stay identical
    table.delete_where(F.col("k") < 10)
    v2 = table.current_version()
    table.append(_df(spark, 100, 120, "extra"))
    v3 = table.current_version()
    d12 = {(r["k"], r["op"]) for r in table.diff_versions(1, v2, ["k"]).collect()}
    assert d12 == {(k, "delete") for k in range(10)}
    d23 = {(r["k"], r["op"]) for r in table.diff_versions(v2, v3, ["k"]).collect()}
    assert d23 == {(k, "insert") for k in range(100, 120)}
    # update detection: rewrite the table with one changed value
    cur = table.read()
    mod = cur.withColumn(
        "v", F.when(F.col("k") == 50, F.lit(-1)).otherwise(F.col("v"))
    )
    table.overwrite(mod)
    v4 = table.current_version()
    d34 = {(r["k"], r["op"]) for r in table.diff_versions(v3, v4, ["k"]).collect()}
    assert d34 == {(50, "update")}
    # symmetric sanity: empty diff of a version with itself
    assert table.diff_versions(v4, v4, ["k"]).count() == 0


# ------------------------------------------------------------ round-3 ops


def test_merge_is_file_granular_upsert(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    t.create(_df(spark, 0, 100, "base").repartitionByRange(4, "k"))
    before = _file_digests(str(tmp_path / "snap"))
    src = spark.createDataFrame(
        [(5, 999, "upd"), (7, 777, "upd"), (200, 2000, "new")],
        "k long, v long, tag string",
    )
    v2 = t.merge(src, ["k"])
    out = t.read()
    assert out.count() == 101  # 2 updates in place + 1 insert
    assert {r["v"] for r in out.where("k in (5, 7)").collect()} == {999, 777}
    assert out.where("k = 200").count() == 1
    # keys 5 and 7 live in ONE range file: exactly 3 of 4 v1 files are
    # carried by reference, and every v1 file stays byte-identical
    man2 = set(t._manifest(v2)["files"])
    assert len(man2 & set(before)) == 3
    after = _file_digests(str(tmp_path / "snap"))
    assert all(after.get(rel) == d for rel, d in before.items())
    # time travel still sees the pre-merge table
    assert t.read(version=1).where("k = 5").collect()[0]["v"] == 50


def test_merge_no_match_is_pure_insert(spark, table):
    src = spark.createDataFrame([(500, 1, "new")], "k long, v long, tag string")
    v = table.merge(src, ["k"])
    assert table.read().count() == 101
    # no stored key matched: all parent files carried, nothing rewritten
    man = t_man = table._manifest(v)
    parent_files = set(table._manifest(v - 1)["files"])
    assert parent_files <= set(t_man["files"])
    assert table.history()[0]["operation"] == "merge"


def test_stats_recorded_and_scan_prunes_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    t.create(
        _df(spark, 0, 100, "base").repartitionByRange(4, "k"),
        stats_cols=["k"],
    )
    man = t._manifest(1)
    assert len(man["files"]) == 4
    assert set(man["stats"]) == set(man["files"])
    lo = min(s["k"][0] for s in man["stats"].values())
    hi = max(s["k"][1] for s in man["stats"].values())
    assert (lo, hi) == (0, 99)
    # range-partitioned on k: a tight k-range predicate should keep 1 file
    kept = t._pruned_files(man, [("k", ">=", 80)])
    assert len(kept) == 1
    # pruned result == unpruned filter (result transparency)
    got = sorted(r["k"] for r in t.scan([("k", ">=", 80), ("k", "<", 90)]).collect())
    assert got == list(range(80, 90))
    # equality predicate
    assert len(t._pruned_files(man, [("k", "=", 3)])) == 1
    assert t.scan([("k", "=", 3)]).count() == 1
    # a column with no stats never prunes, still filters
    assert t.scan([("tag", "=", "base")]).count() == 100
    assert t.scan([("tag", "=", "nope")]).count() == 0


def test_stats_maintained_across_commits(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    t.create(_df(spark, 0, 40, "base").repartitionByRange(2, "k"), stats_cols=["k"])
    t.append(_df(spark, 100, 140, "w1").coalesce(1))
    t.merge(
        spark.createDataFrame([(100, -1, "upd")], "k long, v long, tag string"),
        ["k"],
    )
    man = t._manifest(t.current_version())
    # every live file has a stats entry (carried ones kept, new ones computed)
    assert set(man["stats"]) == set(man["files"])
    # pruning still bites after the mixed history: k>=100 excludes base files
    kept = t._pruned_files(man, [("k", ">=", 100)])
    assert all("c1/" not in f for f in kept)
    got = t.scan([("k", ">=", 100)])
    assert got.count() == 40 and got.where("k = 100").collect()[0]["v"] == -1


def test_non_orderable_stats_col_raises(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    df = spark.range(3).select(F.array(F.col("id")).alias("a"))
    with pytest.raises(ValueError):
        t.create(df, stats_cols=["a"])


def test_incremental_scan_reads_only_added_files(spark, table):
    v1 = 1
    table.append(_df(spark, 100, 110, "w1"))
    table.append(_df(spark, 110, 130, "w2"))
    v3 = table.current_version()
    inc = table.incremental_scan(v1, v3)
    assert inc.count() == 30
    per = {r["_commit_version"]: r["n"] for r in
           inc.groupBy("_commit_version").agg(F.count("*").alias("n")).collect()}
    assert per == {2: 10, 3: 20}
    # from-genesis: create counts as the base append
    assert table.incremental_scan(0, v3).count() == 130
    # single-commit slice
    assert table.incremental_scan(2, 3).count() == 20


def test_incremental_scan_refuses_rewrites(spark, table):
    table.append(_df(spark, 100, 110, "w1"))
    table.delete_where(F.col("k") < 5)
    v = table.current_version()
    with pytest.raises(ValueError, match="non-append"):
        table.incremental_scan(1, v)
    with pytest.raises(ValueError, match="empty"):
        table.incremental_scan(v, v)


def test_compact_binpacks_small_files_content_identical(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    t.create(_df(spark, 0, 50, "base").repartition(8))  # 8 small files
    before = _file_digests(str(tmp_path / "snap"))
    pre = sorted((r["k"], r["v"], r["tag"]) for r in t.read().collect())
    v2 = t.compact(small_bytes=1 << 20, target_bytes=1 << 30)
    assert v2 == 2
    man = t._manifest(v2)
    assert len(man["files"]) == 1  # bin-packed into one
    assert t.history()[0]["operation"] == "compact"
    post = sorted((r["k"], r["v"], r["tag"]) for r in t.read().collect())
    assert post == pre
    # immutability: every v1 file still on disk byte-identical (time travel)
    after = _file_digests(str(tmp_path / "snap"))
    assert all(after.get(rel) == d for rel, d in before.items())
    assert t.read(version=1).count() == 50
    # nothing left to pack -> no empty commit
    assert t.compact(small_bytes=1) is None


# ------------------------------------------------------------ MOR / WAP / evolve


def test_mor_delete_is_o_batch_and_sequenced(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    t.create(_df(spark, 0, 100, "base").repartitionByRange(4, "k"))
    before = _file_digests(str(tmp_path / "snap"))
    t.delete_mor(spark.createDataFrame([(5,), (6,), (999,)], "k long"))
    # no data file rewritten — the commit only added a delete file
    after = _file_digests(str(tmp_path / "snap"))
    assert all(after.get(rel) == d for rel, d in before.items())
    man = t._manifest(t.current_version())
    assert man["files"] == t._manifest(1)["files"]
    assert len(man["delete_files"]) >= 1
    out = t.read()
    assert out.count() == 98 and out.where("k in (5, 6)").count() == 0
    assert t.read(version=1).count() == 100
    # sequence rule: a key re-inserted AFTER the delete survives
    t.append(_df(spark, 5, 6, "reborn"))
    assert t.read().where("k = 5").count() == 1
    # and a second delete batch stacks on top of the first
    t.delete_mor(spark.createDataFrame([(7,)], "k long"))
    assert t.read().count() == 98  # 100 - {5,6,7} + reborn 5


def test_mor_materialize_folds_to_cow(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    t.create(_df(spark, 0, 100, "base").repartitionByRange(4, "k"))
    t.delete_mor(spark.createDataFrame([(3,)], "k long"))
    logical = sorted((r["k"], r["v"]) for r in t.read().collect())
    v = t.materialize_deletes()
    assert v is not None
    man = t._manifest(v)
    assert man["delete_files"] == []
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == logical
    # only the file containing k=3 was rewritten
    carried = set(man["files"]) & set(t._manifest(1)["files"])
    assert len(carried) == 3
    # idempotent: nothing pending -> no commit
    assert t.materialize_deletes() is None


def test_mor_blocks_rewriting_ops(spark, table):
    table.delete_mor(spark.createDataFrame([(1,)], "k long"))
    src = spark.createDataFrame([(2, 0, "x")], "k long, v long, tag string")
    with pytest.raises(ValueError, match="merge-on-read"):
        table.merge(src, ["k"])
    with pytest.raises(ValueError, match="merge-on-read"):
        table.delete_where(F.col("k") < 5)
    with pytest.raises(ValueError, match="merge-on-read"):
        table.compact(small_bytes=1 << 30)
    # expire keeps the delete file alive (it is referenced state)
    table.expire_snapshots(keep_last=1)
    assert table.read().where("k = 1").count() == 0


def test_wap_stage_audit_publish_abort(spark, table):
    staged = table.stage_append(_df(spark, 100, 110, "w"))
    assert table.read().count() == 100          # invisible
    assert table.read(version=staged).count() == 110  # auditable
    assert table.current_version() == 1
    table.publish(staged)
    assert table.current_version() == staged
    assert table.read().count() == 110
    # abort path: files + manifest gone, parent untouched
    bad = table.stage_append(_df(spark, 500, 505, "bad"))
    table.abort_staged(bad)
    assert table.read().count() == 110
    with pytest.raises(ValueError):
        table._manifest(bad)
    # double-publish / publish of a live version refuse
    with pytest.raises(ValueError):
        table.publish(staged)


def test_wap_publish_conflict_detection(spark, table):
    staged = table.stage_append(_df(spark, 100, 110, "w"))
    # the table advances underneath the staged commit...
    with pytest.raises(ValueError, match="already exists"):
        table.append(_df(spark, 200, 210, "x"))  # version collision guard
    table.abort_staged(staged)
    table.append(_df(spark, 200, 210, "x"))
    assert table.read().count() == 110


def test_add_columns_reads_null_then_populated(spark, table):
    from pyspark.sql import types as T

    table.add_columns([T.StructField("score", T.LongType(), True)])
    out = table.read()
    assert out.where("score IS NULL").count() == 100
    table.append(_df(spark, 100, 102, "n").withColumn("score", F.lit(9)))
    assert table.read().where("score = 9").count() == 2
    with pytest.raises(ValueError, match="already exists"):
        table.add_columns([T.StructField("score", T.LongType(), True)])
    with pytest.raises(ValueError, match="nullable"):
        table.add_columns([T.StructField("req", T.LongType(), False)])


def test_optimize_zorder_content_identical_and_prunes_both_cols(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    # two independent keys; initial layout clusters NEITHER (hash-scattered)
    df = spark.range(4096).select(
        F.col("id").alias("k"),
        F.pmod(F.col("id") * 2654435761, F.lit(4096)).alias("ck"),
        (F.col("id") * 10).alias("v"),
    )
    t.create(df.repartition(16), stats_cols=["k", "ck"])
    man1 = t._manifest(1)
    # scattered layout: a tight ck-range predicate keeps ~all files
    pre = len(t._pruned_files(man1, [("ck", ">=", 100), ("ck", "<", 200)]))
    assert pre >= 12
    before = sorted((r["k"], r["ck"], r["v"]) for r in t.read().collect())
    v2 = t.optimize_zorder(["k", "ck"], n_files=16, bits=12)
    man2 = t._manifest(v2)
    assert t.history()[0]["operation"] == "optimize-zorder"
    assert sorted((r["k"], r["ck"], r["v"]) for r in t.read().collect()) == before
    # z-ordered layout: BOTH columns' range predicates prune hard
    post_ck = len(t._pruned_files(man2, [("ck", ">=", 100), ("ck", "<", 200)]))
    post_k = len(t._pruned_files(man2, [("k", ">=", 100), ("k", "<", 200)]))
    assert post_ck <= pre // 2
    assert post_k <= pre // 2
    # and the pruned scan stays exact
    got = sorted(r["k"] for r in t.scan([("ck", ">=", 100), ("ck", "<", 110)]).collect())
    want = sorted(r["k"] for r in df.where("ck >= 100 and ck < 110").collect())
    assert got == want
    # refuses over pending MOR deletes
    t.delete_mor(spark.createDataFrame([(1,)], "k long"))
    with pytest.raises(ValueError, match="merge-on-read"):
        t.optimize_zorder(["k", "ck"])


def test_jobs_cli_snapshot_maintenance(spark, tmp_path):
    """The lakehouse maintenance sequence: history → materialize (MOR) →
    zorder → compact → expire, each on a fresh handle of the table root.
    Formerly driven through a CLI subcommand; now the SnapshotTable
    methods it wrapped."""
    root = str(tmp_path / "snap")
    t = SnapshotTable(spark, root)
    t.create(
        spark.range(200).select(
            F.col("id").alias("k"), (F.col("id") % 37).alias("ck")
        ).repartition(8),
        stats_cols=["k", "ck"],
    )
    t.delete_mor(spark.createDataFrame([(5,)], "k long"))

    def table():
        return SnapshotTable(spark, root)

    hist = table().history()
    assert [h["operation"] for h in hist] == ["delete-mor", "create"]
    assert table().materialize_deletes() == 3
    assert table().optimize_zorder(["k", "ck"], n_files=4) == 4
    assert table().compact(small_bytes=512 << 20, target_bytes=128 << 20) == 5
    gc = table().expire_snapshots(keep_last=1)
    assert gc["manifests"] == 4 and gc["files"] > 0
    assert spark.read.parquet(*[
        f"{root}/{f}" for f in t._manifest(5)["files"]
    ]).count() == 199


def test_decimal_stats_col_refused(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    df = spark.range(3).select(F.col("id").cast("decimal(10,2)").alias("d"))
    with pytest.raises(ValueError, match="unsupported type"):
        t.create(df, stats_cols=["d"])


def test_maintain_policy_sweep(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    t.create(_df(spark, 0, 100, "base").repartition(12))  # 12 small files
    # below delete threshold: deletes stay MOR, but compaction is blocked
    t.delete_mor(spark.createDataFrame([(1,)], "k long"))
    out = t.maintain(small_bytes=1 << 20, max_small_files=8,
                     max_delete_files=4, keep_snapshots=10)
    assert out == {"materialized": None, "compacted": None, "expired": None}
    # push past the delete threshold: materialize, then compact fires
    for k in (2, 3, 4, 5):
        t.delete_mor(spark.createDataFrame([(k,)], "k long"))
    out = t.maintain(small_bytes=1 << 20, max_small_files=8,
                     max_delete_files=4, keep_snapshots=3)
    assert out["materialized"] is not None
    assert out["compacted"] is not None
    assert out["expired"] is not None and out["expired"]["manifests"] > 0
    final = t.read()
    assert final.count() == 95
    assert final.where("k in (1,2,3,4,5)").count() == 0
    assert len(t.history()) <= 3
    # idempotent: a second sweep is a full no-op
    out2 = t.maintain(small_bytes=1 << 20, max_small_files=8,
                      max_delete_files=4, keep_snapshots=3)
    assert out2 == {"materialized": None, "compacted": None, "expired": None}


def test_snapshot_random_walk_model(spark, tmp_path):
    """Model-based chaos: a seeded random sequence of append / merge /
    delete_mor / materialize / compact / zorder / rollback /
    delete_where / evolve-spec / tag+expire must keep the table
    bit-equal to a dict model after EVERY operation, with per-version
    model snapshots so rollback (to any still-retained version) and
    tagged reads are checked too."""
    import random

    rng = random.Random(20260818)
    t = SnapshotTable(spark, str(tmp_path / "walk"))

    def df_of(model):
        rows = [(k, v, tag) for k, (v, tag) in sorted(model.items())]
        return spark.createDataFrame(rows, "k long, v long, tag string")

    def make(keys, tag):
        return {k: (k * 10 + rng.randint(0, 9), tag) for k in keys}

    model = make(range(0, 40), "base")
    t.create(df_of(model).repartition(4))
    models = {1: dict(model)}

    def check():
        got = sorted((r["k"], r["v"], r["tag"]) for r in t.read().collect())
        want = sorted((k, v, tag) for k, (v, tag) in model.items())
        assert got == want, f"divergence: {len(got)} vs {len(want)} rows"

    next_key = 1000
    tags: dict = {}
    for step in range(20):
        op = rng.choice(
            ["append", "merge", "delete_mor", "materialize", "compact",
             "zorder", "rollback", "delete_where", "evolve", "tag",
             "expire"]
        )
        man = t._manifest(t.current_version())
        pending = bool(man.get("delete_files"))
        if op == "append":
            batch = make(range(next_key, next_key + rng.randint(1, 8)), f"a{step}")
            next_key += 100
            v = t.append(df_of(batch))
            model.update(batch)
        elif op == "merge" and not pending:
            upd_keys = rng.sample(sorted(model), min(3, len(model)))
            batch = make(upd_keys, f"m{step}")
            batch.update(make(range(next_key, next_key + 2), f"m{step}"))
            next_key += 100
            v = t.merge(df_of(batch), ["k"])
            model.update(batch)
        elif op == "delete_mor":
            doomed = rng.sample(sorted(model), min(4, len(model)))
            doomed.append(99999999)  # absent key: no-op
            v = t.delete_mor(
                spark.createDataFrame([(k,) for k in doomed], "k long")
            )
            for k in doomed:
                model.pop(k, None)
        elif op == "materialize":
            v = t.materialize_deletes()
            if v is None:
                continue
        elif op == "compact" and not pending:
            v = t.compact(small_bytes=1 << 30, target_bytes=1 << 40)
            if v is None:
                continue
        elif op == "zorder" and not pending and model:
            v = t.optimize_zorder(["k", "v"], n_files=4, bits=10)
        elif op == "rollback":
            retained = {h["version"] for h in t.history()}
            live = sorted(set(models) & retained)
            if not live:
                continue
            target = rng.choice(live)
            v = t.rollback(target)
            model = dict(models[target])
        elif op == "delete_where" and not pending and model:
            r = rng.randint(0, 4)
            v = t.delete_where(F.col("k") % 5 == r)
            model = {k: kv for k, kv in model.items() if k % 5 != r}
        elif op == "evolve":
            spec = rng.choice(
                [[("k", "bucket", 4)], [("tag", "truncate", 2)],
                 [("tag", "identity")]]
            )
            v = t.evolve_partition_spec(spec)
            if v in models:
                continue  # same-spec no-op: no new version
        elif op == "tag":
            v = t.current_version()
            t.tag(f"walk-{step}", v)
            tags[f"walk-{step}"] = v
            continue  # no new version, model unchanged
        elif op == "expire":
            t.expire_snapshots(keep_last=rng.randint(2, 4))
            retained = {h["version"] for h in t.history()} | set(tags.values())
            models = {vv: m for vv, m in models.items() if vv in retained}
            check()
            continue
        else:
            continue  # op skipped under pending-MOR guard
        models[v] = dict(model)
        check()
    # final: materialize everything and re-verify, then replay every tag
    t.materialize_deletes()
    check()
    for name, tv in tags.items():
        assert t.resolve_tag(name) == tv
        if tv in models:
            got = sorted(
                (r["k"], r["v"], r["tag"]) for r in t.read(tv).collect()
            )
            want = sorted((k, v_, g) for k, (v_, g) in models[tv].items())
            assert got == want, f"tag {name} diverged"


def test_metadata_only_count(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    t.create(_df(spark, 0, 100, "base").repartition(4), stats_cols=["k"])
    man = t._manifest(1)
    assert all(man["stats"][f]["#rows"] > 0 for f in man["files"])
    assert t.count() == 100
    t.append(_df(spark, 100, 130, "w"))
    assert t.count() == 130 and t.count(version=1) == 100
    # pending MOR deletes force the real count
    t.delete_mor(spark.createDataFrame([(5,), (6,)], "k long"))
    assert t.count() == 128
    t.materialize_deletes()
    assert t.count() == 128  # metadata path again (rewritten file re-counted)
    man2 = t._manifest(t.current_version())
    assert all("#rows" in man2["stats"][f] for f in man2["files"])
    # stats-less tables pay no read-back at commit and fall back on read
    t2 = SnapshotTable(spark, str(tmp_path / "nostats"))
    t2.create(_df(spark, 0, 10, "x"))
    assert t2._manifest(1)["stats"] == {}
    assert t2.count() == 10


def test_optimize_zorder_incremental_tail_only(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    df1 = spark.range(1024).select(
        F.col("id").alias("k"),
        F.pmod(F.col("id") * 2654435761, F.lit(1024)).alias("ck"),
        (F.col("id") * 10).alias("v"),
    )
    t.create(df1.repartition(8), stats_cols=["k", "ck"])
    v_full = t.optimize_zorder(["k", "ck"], n_files=8, bits=10)
    zfiles = set(t._manifest(v_full)["files"])
    before_digests = _file_digests(str(tmp_path / "snap"))
    # append a tail; incremental rewrites ONLY the tail
    df2 = spark.range(1024, 1536).select(
        F.col("id").alias("k"),
        F.pmod(F.col("id") * 2654435761, F.lit(1024)).alias("ck"),
        (F.col("id") * 10).alias("v"),
    )
    t.append(df2.repartition(6))
    pre = sorted((r["k"], r["ck"], r["v"]) for r in t.read().collect())
    v_inc = t.optimize_zorder(["k", "ck"], n_files=4, bits=10, incremental=True)
    man = t._manifest(v_inc)
    # the fully-zordered baseline files are carried by reference,
    # byte-identical; only the appended tail was rewritten
    assert zfiles <= set(man["files"])
    after_digests = _file_digests(str(tmp_path / "snap"))
    assert all(after_digests.get(r) == d for r, d in before_digests.items())
    assert sorted((r["k"], r["ck"], r["v"]) for r in t.read().collect()) == pre
    # stats cover every live file (carried + recomputed)
    assert set(man["stats"]) == set(man["files"])
    # nothing new -> no-op
    assert t.optimize_zorder(["k", "ck"], incremental=True) is None
    # metadata count still exact through the mixed history
    assert t.count() == 1536


def test_jobs_cli_snapshot_stream_append_and_retract(spark, tmp_path):
    """Exactly-once streaming into a SnapshotTable: an append stream,
    then a retraction stream of keys. Formerly driven through a CLI
    subcommand; now the snapshot_sink calls it wrapped."""
    from ocr_search_spark import corpus
    from ocr_search_spark.streaming import snapshot_sink

    docs = corpus.documents_table(spark, 40, skew=False)
    src = str(tmp_path / "src")
    docs.repartition(2).write.parquet(src)
    root = str(tmp_path / "tbl")
    t = SnapshotTable(spark, root)
    snapshot_sink.stream_append_snapshot(spark, src, t, str(tmp_path / "ck_a"))
    assert t.count() == 40

    keys = docs.limit(7).select("doc_id")
    kdir = str(tmp_path / "keys")
    keys.write.parquet(kdir)
    snapshot_sink.stream_delete_snapshot(
        spark, kdir, t, str(tmp_path / "ck_r"), key_schema="doc_id string"
    )
    assert SnapshotTable(spark, root).count() == 33


def test_incremental_zorder_survives_expired_history(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    t.create(_df(spark, 0, 50, "a").repartition(2), stats_cols=["k", "v"])
    t.append(_df(spark, 50, 80, "b").repartition(2))
    t.expire_snapshots(keep_last=1)  # v1 manifest is gone
    t.append(_df(spark, 80, 90, "c"))
    # walk hits the expired tail -> safe full-rewrite fallback, no crash
    v = t.optimize_zorder(["k", "v"], n_files=2, incremental=True)
    assert v is not None
    assert t.count() == 90


# --------------------------------------------------- hidden partitioning


def _pdf(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.concat(F.lit("user_"), (F.col("id") % 23).cast("string")).alias("uid"),
        (F.col("id") * 7).alias("v"),
    )


def test_partition_spec_bucket_prunes_and_is_result_transparent(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "pt"))
    t.create(_pdf(spark, 0, 800), partition_spec=[("uid", "bucket", 8)])
    t.append(_pdf(spark, 800, 1600))
    man = t._manifest(t.current_version())
    pred = [("uid", "=", "user_7")]
    kept = t._partition_pruned(man, man["files"], pred)
    assert 0 < len(kept) < len(man["files"])
    got = sorted(r["k"] for r in t.scan(pred).collect())
    exp = sorted(
        r["k"] for r in t.read().where(F.col("uid") == "user_7").collect()
    )
    assert got == exp and got  # non-empty and identical


def test_partition_values_hidden_from_schema(spark, tmp_path):
    """The derived _pk columns never appear in the read schema."""
    t = SnapshotTable(spark, str(tmp_path / "ph"))
    t.create(_pdf(spark, 0, 100), partition_spec=[("uid", "bucket", 4)])
    assert t.read().columns == ["k", "uid", "v"]


def test_partition_spec_survives_append_and_inherits(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "pi"))
    t.create(_pdf(spark, 0, 100), partition_spec=[("uid", "identity")])
    t.append(_pdf(spark, 100, 200))
    man = t._manifest(t.current_version())
    assert man["partition_spec"] == [["uid", "identity", None]]
    # every file (create's AND append's) carries its value
    assert all(man["partitions"].get(f) for f in man["files"])


def test_maintenance_rewrite_loses_values_but_stays_sound(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "pm"))
    t.create(_pdf(spark, 0, 500), partition_spec=[("uid", "bucket", 4)])
    before = sorted(
        (r["k"], r["uid"]) for r in t.scan([("uid", "=", "user_3")]).collect()
    )
    assert t.compact(small_bytes=1 << 30, target_bytes=1 << 40) is not None
    man = t._manifest(t.current_version())
    # compacted file has no partition values -> never pruned
    assert any(not man["partitions"].get(f) for f in man["files"])
    after = sorted(
        (r["k"], r["uid"]) for r in t.scan([("uid", "=", "user_3")]).collect()
    )
    assert after == before


def test_non_equality_predicates_do_not_partition_prune(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "pr"))
    t.create(_pdf(spark, 0, 300), partition_spec=[("uid", "bucket", 4)])
    man = t._manifest(1)
    assert t._partition_pruned(
        man, man["files"], [("uid", ">=", "user_5")]
    ) == man["files"]
    # ...but the residual filter still applies
    got = sorted(r["k"] for r in t.scan([("uid", ">=", "user_5")]).collect())
    exp = sorted(r["k"] for r in t.read().where(F.col("uid") >= "user_5").collect())
    assert got == exp


def test_partition_spec_validation(spark, tmp_path):
    df = _pdf(spark, 0, 10)
    t = SnapshotTable(spark, str(tmp_path / "pv"))
    with pytest.raises(ValueError, match="not in schema"):
        t.create(df, partition_spec=[("nope", "bucket", 4)])
    with pytest.raises(ValueError, match="bucket count"):
        t.create(df, partition_spec=[("uid", "bucket", 0)])
    with pytest.raises(ValueError, match="truncate needs a string"):
        t.create(df, partition_spec=[("k", "truncate", 4)])
    with pytest.raises(ValueError, match="unknown partition transform"):
        t.create(df, partition_spec=[("uid", "days")])


def test_truncate_transform_prunes_on_prefix_match(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ptr"))
    docs = spark.createDataFrame(
        [("alpha-1", 1), ("alpha-2", 2), ("beta-1", 3), ("gamma-9", 4)],
        "name string, n int",
    )
    t.create(docs.repartition(2), partition_spec=[("name", "truncate", 5)])
    man = t._manifest(1)
    kept = t._partition_pruned(man, man["files"], [("name", "=", "beta-1")])
    vals = {tuple(man["partitions"][f]) for f in kept}
    assert vals == {("beta-",)}
    got = [r["n"] for r in t.scan([("name", "=", "beta-1")]).collect()]
    assert got == [3]


# ------------------------------------------------------- replace_where


def test_replace_where_restates_slice_atomically(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "rw"))
    t.create(_df(spark, 0, 100, "base").repartition(4))
    repl = _df(spark, 0, 100, "restated").where(F.col("k") % 10 == 3)
    v = t.replace_where(F.col("k") % 10 == 3, repl)
    cur = t.read()
    assert cur.where(F.col("tag") == "restated").count() == 10
    assert cur.count() == 100
    # one commit: history gained exactly one version
    assert t.current_version() == v == 2
    # time travel still sees the pre-restatement slice
    assert t.read(version=1).where(F.col("tag") == "restated").count() == 0


def test_replace_where_is_idempotent_on_rerun(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "rwi"))
    t.create(_df(spark, 0, 60, "base").repartition(3))
    repl = _df(spark, 0, 60, "fix").where(F.col("k") < 20)
    t.replace_where(F.col("k") < 20, repl)
    t.replace_where(F.col("k") < 20, repl)
    assert t.read().count() == 60
    assert t.read().where(F.col("tag") == "fix").count() == 20


def test_replace_where_rejects_rows_outside_predicate(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "rwg"))
    t.create(_df(spark, 0, 50, "base"))
    with pytest.raises(ValueError, match="not be idempotent"):
        t.replace_where(F.col("k") < 10, _df(spark, 5, 15, "bad"))


def test_replace_where_only_rewrites_touched_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "rwf"))
    t.create(_df(spark, 0, 100, "base").repartitionByRange(4, "k"))
    before = _file_digests(str(tmp_path / "rwf"))
    repl = _df(spark, 0, 100, "fix").where(F.col("k") < 10)
    t.replace_where(F.col("k") < 10, repl)
    after = _file_digests(str(tmp_path / "rwf"))
    # untouched range files are byte-identical (carried by reference)
    man = t._manifest(t.current_version())
    carried = [f for f in man["files"] if f.startswith("data/c1")]
    assert carried and all(before[f] == after[f] for f in carried)


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    """Regression: a row where the predicate evaluates NULL is not
    matched, so the COW rewrite must keep it — a bare ~cond filter
    would silently drop it from the touched file."""
    t = SnapshotTable(spark, str(tmp_path / "dn"))
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "k long, v long"
    )
    t.create(df.repartition(1))
    t.delete_where(F.col("v") > 15)
    left = sorted(
        ((r["k"], r["v"]) for r in t.read().collect()),
        key=lambda x: x[0],
    )
    assert left == [(1, 10), (2, None)]


# --------------------------------------------------- materialized views


def test_mview_incremental_equals_full(spark, tmp_path):
    from ocr_search_spark.mview import MaterializedAggregate

    df = _df(spark, 0, 200, "x")
    src = SnapshotTable(spark, str(tmp_path / "mvsrc"))
    src.create(df.where(F.col("k") % 3 == 0))
    mv = MaterializedAggregate(
        spark, str(tmp_path / "mvview"), src, keys=["tag"], sum_cols=["v"]
    )
    mv.refresh()
    src.append(df.where(F.col("k") % 3 == 1))
    mv.refresh()
    src.append(df.where(F.col("k") % 3 == 2))
    mv.refresh()
    got = {
        (r["tag"], r["n"], str(r["sum_v"])) for r in mv.read().collect()
    }
    exp = {
        (r["tag"], r["n"], str(r["sum_v"]))
        for r in mv._agg(src.read()).collect()
    }
    assert got == exp
    assert mv.view._manifest(2)["info"]["mode"] == "incremental"
    assert mv.view._manifest(3)["info"]["mode"] == "incremental"


def test_mview_nonappend_falls_back_to_full(spark, tmp_path):
    from ocr_search_spark.mview import MaterializedAggregate

    src = SnapshotTable(spark, str(tmp_path / "mfsrc"))
    src.create(_df(spark, 0, 100, "x"))
    mv = MaterializedAggregate(
        spark, str(tmp_path / "mfview"), src, keys=["tag"], sum_cols=["v"]
    )
    mv.refresh()
    src.delete_where(F.col("k") < 50)
    v = mv.refresh()
    assert mv.view._manifest(v)["info"]["mode"] == "full"
    assert mv.read().collect()[0]["n"] == 50


def test_mview_refresh_is_noop_when_current(spark, tmp_path):
    from ocr_search_spark.mview import MaterializedAggregate

    src = SnapshotTable(spark, str(tmp_path / "mnsrc"))
    src.create(_df(spark, 0, 10, "x"))
    mv = MaterializedAggregate(
        spark, str(tmp_path / "mnview"), src, keys=["tag"]
    )
    v1 = mv.refresh()
    assert mv.refresh() == v1 == mv.view.current_version()


def test_mview_new_keys_insert_via_merge(spark, tmp_path):
    from ocr_search_spark.mview import MaterializedAggregate

    src = SnapshotTable(spark, str(tmp_path / "mksrc"))
    src.create(_df(spark, 0, 10, "a"))
    mv = MaterializedAggregate(
        spark, str(tmp_path / "mkview"), src, keys=["tag"]
    )
    mv.refresh()
    src.append(_df(spark, 10, 30, "b"))  # unseen key
    mv.refresh()
    got = {(r["tag"], r["n"]) for r in mv.read().collect()}
    assert got == {("a", 10), ("b", 20)}


def test_epochday_transform_prunes_per_day(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ped"))
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.lit(1700000000) + F.col("id") * 200).alias("ts_sec"),  # ~2.3 days
        (F.col("id") * 2).alias("v"),
    )
    t.create(df, partition_spec=[("ts_sec", "epochday")])
    man = t._manifest(1)
    days = {man["partitions"][f][0] for f in man["files"]}
    exp_days = {str((1700000000 + i * 200) // 86400) for i in range(1000)}
    assert days == exp_days and len(days) > 1
    probe = 1700000000 + 500 * 200
    kept = t._partition_pruned(man, man["files"], [("ts_sec", "=", probe)])
    vals = {man["partitions"][f][0] for f in kept}
    assert vals == {str(probe // 86400)}
    got = sorted(r["k"] for r in t.scan([("ts_sec", "=", probe)]).collect())
    exp = sorted(r["k"] for r in t.read().where(F.col("ts_sec") == probe).collect())
    assert got == exp and got == [500]


def test_files_df_metadata_table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ft"))
    t.create(
        _pdf(spark, 0, 100), stats_cols=["k"],
        partition_spec=[("uid", "bucket", 4)],
    )
    t.append(_pdf(spark, 100, 200))
    rows = t.files_df().collect()
    man = t._manifest(t.current_version())
    assert {r["file"] for r in rows} == set(man["files"])
    assert {r["commit_dir"] for r in rows} == {"c1", "c2"}
    import json as _json

    for r in rows:
        assert _json.loads(r["partition_values"])  # every file has pvals
        assert "k" in _json.loads(r["stats"])  # stats recorded for k


# ------------------------------------------------- partition evolution


def test_spec_evolution_routes_new_writes_and_prunes_per_era(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ev"))
    t.create(_pdf(spark, 0, 400), partition_spec=[("uid", "bucket", 4)])
    v2 = t.evolve_partition_spec([("uid", "truncate", 6)])
    man = t._manifest(v2)
    assert man["operation"] == "evolve-spec"
    assert man["partition_spec"] == [["uid", "truncate", 6]]
    assert len(man["spec_registry"]) == 2
    t.append(_pdf(spark, 400, 800))
    man = t._manifest(t.current_version())
    # era ids recorded per file: old files spec 0, new files spec 1
    sids = {man["file_spec_ids"][f] for f in man["files"]}
    assert sids == {0, 1}
    # equality predicate prunes BOTH eras, each under its own spec
    kept = t._partition_pruned(man, man["files"], [("uid", "=", "user_3")])
    assert len(kept) < len(man["files"])
    by_sid = {0: [], 1: []}
    for f in kept:
        by_sid[man["file_spec_ids"][f]].append(man["partitions"][f][0])
    # old era kept exactly the bucket(user_3) files; new era kept the
    # truncate-6 prefix ('user_3' truncates to 'user_3'; 'user_31' does
    # not exist with %23 so the single matching dir remains)
    import hashlib

    want_bucket = str(int(hashlib.md5(b"user_3").hexdigest()[:15], 16) % 4)
    assert set(by_sid[0]) == {want_bucket}
    assert set(by_sid[1]) == {"user_3"}
    # result transparency
    got = sorted(r["k"] for r in t.scan([("uid", "=", "user_3")]).collect())
    exp = sorted(
        r["k"] for r in t.read().where(F.col("uid") == "user_3").collect()
    )
    assert got == exp and len(got) > 0


def test_spec_evolution_cross_era_values_never_misprune(spark, tmp_path):
    # evolve to a DIFFERENT COLUMN: a predicate on the new column must
    # keep every old-era file (their values mean nothing for it), and a
    # predicate on the old column must keep every new-era file
    t = SnapshotTable(spark, str(tmp_path / "ev2"))
    t.create(_pdf(spark, 0, 300), partition_spec=[("uid", "bucket", 4)])
    t.evolve_partition_spec([("k", "bucket", 8)])
    t.append(_pdf(spark, 300, 600))
    man = t._manifest(t.current_version())
    old = [f for f in man["files"] if man["file_spec_ids"][f] == 0]
    new = [f for f in man["files"] if man["file_spec_ids"][f] == 1]
    kept_k = set(t._partition_pruned(man, man["files"], [("k", "=", 7)]))
    assert set(old) <= kept_k and len(kept_k & set(new)) < len(new)
    kept_u = set(t._partition_pruned(man, man["files"], [("uid", "=", "user_3")]))
    assert set(new) <= kept_u and len(kept_u & set(old)) < len(old)
    got = sorted(r["k"] for r in t.scan([("k", "=", 7)]).collect())
    assert got == [7]


def test_spec_evolution_noop_and_bad_column(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ev3"))
    t.create(_pdf(spark, 0, 50), partition_spec=[("uid", "bucket", 4)])
    v = t.current_version()
    assert t.evolve_partition_spec([("uid", "bucket", 4)]) == v  # no-op
    assert t.current_version() == v
    import pytest as _pt

    with _pt.raises(ValueError, match="not in schema"):
        t.evolve_partition_spec([("nope", "identity")])


def test_spec_evolution_survives_maintenance_and_rollback(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ev4"))
    t.create(_pdf(spark, 0, 200), partition_spec=[("uid", "bucket", 4)])
    t.evolve_partition_spec([("uid", "truncate", 6)])
    t.append(_pdf(spark, 200, 400))
    before = {(r["k"], r["uid"], r["v"]) for r in t.read().collect()}
    v = t.compact(small_bytes=1 << 30, target_bytes=1 << 40)
    assert v is not None
    man = t._manifest(v)
    # rewritten files have no partition values -> never pruned (sound)
    kept = t._partition_pruned(man, man["files"], [("uid", "=", "user_3")])
    assert set(kept) == set(man["files"])
    assert {(r["k"], r["uid"], r["v"]) for r in t.read().collect()} == before
    # registry + default spec survive the maintenance commit
    assert man["partition_spec"] == [["uid", "truncate", 6]]
    assert len(man["spec_registry"]) == 2


# ----------------------------------------------------------- tags


def test_tag_survives_expire_and_pins_content(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tag"))
    t.create(_pdf(spark, 0, 100))
    t.tag("eval-freeze")  # pins v1
    t.overwrite(_pdf(spark, 100, 250))
    t.append(_pdf(spark, 250, 300))
    removed = t.expire_snapshots(keep_last=1)
    assert removed["manifests"] >= 1  # v2 expired, v1 survived via tag
    v = t.resolve_tag("eval-freeze")
    frozen = sorted(r["k"] for r in t.read(v).collect())
    assert frozen == list(range(100))  # v1 content intact post-expire
    cur = sorted(r["k"] for r in t.read().collect())
    assert cur == list(range(100, 300))
    # untag -> next expire reclaims it
    t.untag("eval-freeze")
    t.expire_snapshots(keep_last=1)
    import pytest as _pt

    with _pt.raises(Exception):
        t.read(v).collect()


def test_tag_immutability_and_validation(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tag2"))
    t.create(_pdf(spark, 0, 10))
    t.append(_pdf(spark, 10, 20))
    t.tag("r1", 1)
    import pytest as _pt

    with _pt.raises(ValueError, match="immutable"):
        t.tag("r1", 2)
    assert t.tag("r1", 1) == 1  # same-version re-tag is a no-op
    with _pt.raises(ValueError):
        t.resolve_tag("nope")
    with _pt.raises(ValueError):
        t.tag("ghost", 99)


# ------------------------------------------------------- drop_column


def test_drop_column_projects_reads_and_keeps_history(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "dc"))
    t.create(_df(spark, 0, 50, "base").repartition(2), stats_cols=["k"])
    v1 = t.current_version()
    t.drop_column("tag")
    cur = t.read()
    assert cur.columns == ["k", "v"]
    assert sorted(r["k"] for r in cur.collect()) == list(range(50))
    # time travel: the pre-drop manifest still declares (and reads) tag
    old = t.read(v1)
    assert old.columns == ["k", "v", "tag"]
    assert {r["tag"] for r in old.collect()} == {"base"}
    # appends use the NEW schema; merge on surviving keys still works
    t.append(
        spark.range(50, 60).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    )
    t.merge(
        spark.createDataFrame([(0, 999)], "k long, v long"), ["k"]
    )
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert rows[0] == 999 and rows[59] == 118 and len(rows) == 60
    # metadata count survives the evolution
    assert t.count() == 60


def test_drop_column_refusals(spark, tmp_path):
    import pytest as _pt

    t = SnapshotTable(spark, str(tmp_path / "dc2"))
    t.create(_df(spark, 0, 20, "x"), partition_spec=[("tag", "identity")])
    with _pt.raises(ValueError, match="partition spec"):
        t.drop_column("tag")
    with _pt.raises(ValueError, match="not in schema"):
        t.drop_column("ghost")
    t.delete_mor(spark.createDataFrame([(3,)], "k long"))
    with _pt.raises(ValueError, match="merge-on-read"):
        t.drop_column("k")
    t.materialize_deletes()
    t.evolve_partition_spec([("k", "bucket", 2)])
    v = t.drop_column("tag")  # now legal
    assert t._manifest(v)["operation"] == "drop-column"
    assert t.read().columns == ["k", "v"]


def test_mor_delete_on_partitioned_table(spark, tmp_path):
    # regression: _file_seq's path parse used to require files DIRECTLY
    # under data/cN/, so materialize_deletes crashed (CAST_INVALID_INPUT
    # on '') for any hidden-partitioned table — the _pk0=value dir sits
    # between the commit dir and the file
    t = SnapshotTable(spark, str(tmp_path / "morpt"))
    t.create(_df(spark, 0, 40, "x"), partition_spec=[("tag", "identity")])
    t.append(_df(spark, 40, 60, "y"))
    t.delete_mor(spark.createDataFrame([(3,), (45,)], "k long"))
    got = sorted(r["k"] for r in t.read().collect())
    assert got == [k for k in range(60) if k not in (3, 45)]
    t.materialize_deletes()
    got = sorted(r["k"] for r in t.read().collect())
    assert got == [k for k in range(60) if k not in (3, 45)]
    # sequence semantics survive the nested layout: re-insert after the
    # delete file's sequence -> the new row must NOT be deleted
    t.delete_mor(spark.createDataFrame([(7,)], "k long"))
    t.append(_df(spark, 7, 8, "z"))
    got = sorted(r["k"] for r in t.read().collect())
    assert 7 in got


def test_expire_protects_staged_wap_commit(spark, tmp_path):
    # a pending write-audit-publish commit must survive a routine
    # retention sweep — its lifecycle belongs to publish()/abort_staged()
    t = SnapshotTable(spark, str(tmp_path / "wapexp"))
    t.create(_df(spark, 0, 30, "base"))
    t.append(_df(spark, 30, 40, "w1"))
    staged_v = t.stage_append(_df(spark, 40, 50, "audit"))
    removed = t.expire_snapshots(keep_last=1)
    assert removed["manifests"] == 1  # v1 reclaimed, staged v3 spared
    v = t.publish(staged_v)  # still publishable after the sweep
    assert v == staged_v
    got = sorted(r["k"] for r in t.read().collect())
    assert got == list(range(50))  # staged data files were not GC'd
    # aborted staged commits ARE reclaimable on the next sweep
    s2 = t.stage_append(_df(spark, 50, 60, "a2"))
    t.abort_staged(s2)
    t.expire_snapshots(keep_last=1)
    assert sorted(r["k"] for r in t.read().collect()) == list(range(50))


# ----------------------------------------------------------- checks


def test_check_constraints_gate_every_write_path(spark, tmp_path):
    import pytest as _pt

    t = SnapshotTable(spark, str(tmp_path / "chk"))
    t.create(_df(spark, 0, 30, "base"))
    t.set_check("v_nonneg", "v >= 0")
    t.set_check("k_bound", "k < 100000")
    v_ok = t.append(_df(spark, 30, 40, "w"))
    bad = spark.createDataFrame([(500, -1, "bad")], "k long, v long, tag string")
    for write in (
        lambda: t.append(bad),
        lambda: t.overwrite(bad),
        lambda: t.merge(bad, ["k"]),
        lambda: t.stage_append(bad),
        lambda: t.replace_where(F.col("k") == 500, bad),
    ):
        with _pt.raises(ValueError, match="v_nonneg"):
            write()
        assert t.current_version() == v_ok  # refusal never advances
    # the batch is refused WHOLESALE: one bad row poisons a mixed batch
    mixed = _df(spark, 40, 45, "m").union(bad.select("k", "v", "tag"))
    with _pt.raises(ValueError, match="v_nonneg"):
        t.append(mixed)
    assert sorted(r["k"] for r in t.read().collect()) == list(range(40))


def test_check_null_passes_and_lifecycle(spark, tmp_path):
    import pytest as _pt

    t = SnapshotTable(spark, str(tmp_path / "chk2"))
    t.create(_df(spark, 0, 10, "base"))
    t.set_check("tagged", "tag IS NOT NULL AND length(tag) > 0")
    # ANSI CHECK: NULL predicate passes — v IS NULL makes 'v >= 0' NULL
    t.set_check("v_nonneg", "v >= 0")
    nullv = spark.createDataFrame([(99, None, "x")], "k long, v long, tag string")
    t.append(nullv)  # admitted: unknown ≠ violation (pinned semantics)
    assert t.count() == 11
    # adding a check existing data violates is refused
    with _pt.raises(ValueError, match="existing data violates"):
        t.set_check("impossible", "k > 50")
    # same-definition re-set is a no-op; redefinition needs drop
    v = t.current_version()
    assert t.set_check("v_nonneg", "v >= 0") == v
    with _pt.raises(ValueError, match="drop_check"):
        t.set_check("v_nonneg", "v >= 1")
    t.drop_check("v_nonneg")
    t.append(spark.createDataFrame([(100, -5, "y")], "k long, v long, tag string"))
    assert t.count() == 12
    # checks survive unrelated commits (carried like the partition spec)
    t.compact(small_bytes=1 << 30, target_bytes=1 << 40)
    man = t._manifest(t.current_version())
    assert "tagged" in man["checks"]
    # drop_column refuses while a check references the column
    with _pt.raises(ValueError, match="referenced by check"):
        t.drop_column("tag")


# ----------------------------------------------------------- blooms


def test_bloom_prunes_where_minmax_cannot(spark, tmp_path):
    # tag sets per file interleave lexically (A={a,d}, B={b,c}) so
    # min/max ranges overlap every query — only the bloom can prune
    t = SnapshotTable(spark, str(tmp_path / "bl"))
    rows_a = [(1, "aa"), (2, "dd")] * 20
    rows_b = [(3, "bb"), (4, "cc")] * 20
    df = spark.createDataFrame(rows_a, "k long, tag string").coalesce(1)
    t.create(df, stats_cols=["tag"], bloom_cols=["tag"])
    t.append(spark.createDataFrame(rows_b, "k long, tag string").coalesce(1))
    man = t._manifest(t.current_version())
    assert len(man["files"]) == 2
    kept = t._pruned_files(man, [("tag", "=", "bb")])
    assert len(kept) == 1  # min/max keeps both; bloom drops file A
    got = sorted(r["k"] for r in t.scan([("tag", "=", "bb")]).collect())
    assert got == [3] * 20
    # non-equality ops never consult the bloom
    assert len(t._pruned_files(man, [("tag", ">", "bb")])) == 2
    # absent value prunes everything, result still exact (empty)
    assert t.scan([("tag", "=", "zz")]).count() == 0


def test_bloom_maintained_through_rewrites_and_int_keys(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "bl2"))
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("ck")
    )
    t.create(df.repartitionByRange(4, "k"), bloom_cols=["ck"])
    v = t.compact(small_bytes=1 << 30, target_bytes=1 << 40)
    man = t._manifest(v)
    # rewritten files re-collect blooms with their stats (unlike
    # partition values, which rewrites legitimately lose)
    assert all("#bloom:ck" in man["stats"][f] for f in man["files"])
    got = sorted(r["k"] for r in t.scan([("ck", "=", 13)]).collect())
    assert got == [k for k in range(400) if k % 97 == 13]


def test_bloom_type_refusal(spark, tmp_path):
    import pytest as _pt

    t = SnapshotTable(spark, str(tmp_path / "bl3"))
    df = spark.range(3).select(F.col("id").alias("k"), (F.col("id") * 0.5).alias("x"))
    with _pt.raises(ValueError, match="bloom_cols"):
        t.create(df, bloom_cols=["x"])


def test_null_count_stats_prune_null_tests(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "nulls"))
    with_nulls = spark.createDataFrame(
        [(1, None, "a"), (2, None, "a"), (3, 30, "a")], "k long, v long, tag string"
    ).coalesce(1)
    no_nulls = spark.createDataFrame(
        [(4, 40, "b"), (5, 50, "b")], "k long, v long, tag string"
    ).coalesce(1)
    all_nulls = spark.createDataFrame(
        [(6, None, "c"), (7, None, "c")], "k long, v long, tag string"
    ).coalesce(1)
    t.create(with_nulls, stats_cols=["v"])
    t.append(no_nulls)
    t.append(all_nulls)
    man = t._manifest(t.current_version())
    assert len(man["files"]) == 3
    # is_null skips the no-null file; is_not_null skips the all-null file
    assert len(t._pruned_files(man, [("v", "is_null", None)])) == 2
    assert len(t._pruned_files(man, [("v", "is_not_null", None)])) == 2
    got = sorted(r["k"] for r in t.scan([("v", "is_null", None)]).collect())
    assert got == [1, 2, 6, 7]
    got = sorted(r["k"] for r in t.scan([("v", "is_not_null", None)]).collect())
    assert got == [3, 4, 5]
    # composed with a range predicate on the same column
    got = sorted(
        r["k"] for r in t.scan([("v", "is_not_null", None), ("v", ">=", 40)]).collect()
    )
    assert got == [4, 5]


def test_checks_gate_the_streaming_sink(spark, tmp_path):
    # the streaming sink appends through table.append, so a declared
    # CHECK refuses a violating micro-batch BEFORE the fence commits —
    # the batch can be fixed and replayed (exactly-once state unharmed)
    from ocr_search_spark.streaming.snapshot_sink import (
        append_batch, last_committed_batch,
    )
    import pytest as _pt

    t = SnapshotTable(spark, str(tmp_path / "schk"))
    t.create(_df(spark, 0, 10, "base"))
    t.set_check("v_nonneg", "v >= 0")
    append_batch(t, _df(spark, 10, 20, "b0"), batch_id=0)
    bad = spark.createDataFrame([(99, -1, "x")], "k long, v long, tag string")
    with _pt.raises(ValueError, match="v_nonneg"):
        append_batch(t, bad, batch_id=1)
    # the fence did NOT advance: batch 1 is still owed, not skipped
    assert last_committed_batch(t, "default") == 0
    append_batch(t, _df(spark, 20, 25, "b1fixed"), batch_id=1)
    assert last_committed_batch(t, "default") == 1
    assert t.count() == 25


def test_scoped_compaction_touches_only_the_slice(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "optw"))
    lo = spark.range(0, 100).select(F.col("id").alias("k"), F.lit("old").alias("tag"))
    hi = spark.range(100, 200).select(F.col("id").alias("k"), F.lit("hot").alias("tag"))
    t.create(lo.repartition(3), stats_cols=["k"])
    t.append(hi.repartition(4))
    before = t._manifest(t.current_version())
    lo_files = {f for f in before["files"] if f.startswith("data/c1/")}
    v = t.compact(
        small_bytes=1 << 30, target_bytes=1 << 40,
        predicates=[("k", ">=", 100)],
    )
    man = t._manifest(v)
    # the cold slice's files are carried untouched; the hot slice packed
    assert lo_files <= set(man["files"])
    assert len(man["files"]) == len(lo_files) + 1
    got = sorted(r["k"] for r in t.read().collect())
    assert got == list(range(200))
    # a predicate matching nothing compacts nothing
    assert t.compact(small_bytes=1 << 30, predicates=[("k", ">=", 10_000)]) is None


# --------------------------------------------------------------- branches


def test_branch_isolation_and_fast_forward(spark, tmp_path):
    from ocr_search_spark.storage_snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "b1"))
    t.create(spark.createDataFrame([(1, "a")], "id long, s string"))
    t.append(spark.createDataFrame([(2, "b")], "id long, s string"))  # v2
    t.branch_create("exp")
    t.branch_append("exp", spark.createDataFrame([(3, "c")], "id long, s string"))
    t.branch_append("exp", spark.createDataFrame([(4, "d")], "id long, s string"))
    # main untouched; branch sees everything
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2]
    assert sorted(r["id"] for r in t.read_branch("exp").collect()) == [1, 2, 3, 4]
    # fast-forward: one pointer move, main adopts the branch head
    head = t.fast_forward("exp")
    assert t.current_version() == head
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2, 3, 4]
    # main can keep committing past the adopted branch numbering
    t.append(spark.createDataFrame([(5, "e")], "id long, s string"))
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2, 3, 4, 5]


def test_branch_divergence_refused_and_allocator_skips(spark, tmp_path):
    from ocr_search_spark.storage_snapshots import SnapshotTable
    import pytest

    t = SnapshotTable(spark, str(tmp_path / "b2"))
    t.create(spark.createDataFrame([(1,)], "id long"))
    t.branch_create("exp")
    t.branch_append("exp", spark.createDataFrame([(2,)], "id long"))  # owns v2
    # main's next commit steps OVER the branch-owned v2
    v = t.append(spark.createDataFrame([(9,)], "id long"))
    assert v == 3 and sorted(r["id"] for r in t.read().collect()) == [1, 9]
    assert sorted(r["id"] for r in t.read_branch("exp").collect()) == [1, 2]
    # diverged branch cannot fast-forward main
    with pytest.raises(ValueError, match="does not descend"):
        t.fast_forward("exp")
    # ref bookkeeping
    with pytest.raises(ValueError, match="already at"):
        t.branch_create("exp")
    with pytest.raises(ValueError, match="unknown branch"):
        t.resolve_branch("nope")
    with pytest.raises(ValueError, match="current pointer"):
        t.branch_create("main")
    with pytest.raises(ValueError, match="cannot be deleted"):
        t.branch_delete("main")


def test_branch_retention_and_delete(spark, tmp_path):
    from ocr_search_spark.storage_snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "b3"))
    t.create(spark.createDataFrame([(1,)], "id long"))
    t.branch_create("exp")
    t.branch_append("exp", spark.createDataFrame([(2,)], "id long"))
    t.append(spark.createDataFrame([(3,)], "id long"))
    t.append(spark.createDataFrame([(4,)], "id long"))
    # retention keeps the branch HEAD readable
    t.expire_snapshots(keep_last=1)
    assert sorted(r["id"] for r in t.read_branch("exp").collect()) == [1, 2]
    assert sorted(r["id"] for r in t.read().collect()) == [1, 3, 4]
    # dropping the ref makes the branch ordinary garbage
    t.branch_delete("exp")
    t.expire_snapshots(keep_last=1)
    import pytest

    with pytest.raises(ValueError, match="unknown branch"):
        t.read_branch("exp")


def test_branch_with_staged_wap_coexists(spark, tmp_path):
    from ocr_search_spark.storage_snapshots import SnapshotTable
    import pytest

    t = SnapshotTable(spark, str(tmp_path / "b4"))
    t.create(spark.createDataFrame([(1,)], "id long"))
    staged = t.stage_append(spark.createDataFrame([(2,)], "id long"))  # v2 staged
    t.branch_create("exp")
    bv = t.branch_append("exp", spark.createDataFrame([(3,)], "id long"))
    assert bv == 3  # numbered past the staged commit
    # the staged guard still fires for main (not silently skipped)
    with pytest.raises(ValueError, match="already exists"):
        t.append(spark.createDataFrame([(9,)], "id long"))
    t.publish(staged)
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2]
    assert sorted(r["id"] for r in t.read_branch("exp").collect()) == [1, 3]


def test_branch_append_partitioned_prunes(spark, tmp_path):
    from ocr_search_spark.storage_snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "b5"))
    df = spark.createDataFrame([(i, i % 3) for i in range(12)], "id long, g long")
    t.create(df, partition_spec=[["g", "identity"]])
    t.branch_create("exp")
    t.branch_append(
        "exp", spark.createDataFrame([(100, 1), (101, 2)], "id long, g long")
    )
    got = sorted(
        r["id"] for r in t.read_branch("exp").where("g = 1").collect()
    )
    assert got == [1, 4, 7, 10, 100]


# ---------------------------------------------------- aggregate pushdown


def test_agg_from_stats_matches_data_and_refuses(spark, tmp_path):
    import pytest

    from ocr_search_spark.storage_snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "agg"))
    df = spark.createDataFrame(
        [(i, float(i * 3 % 17), f"s{i:02d}" if i % 5 else None) for i in range(40)],
        "id long, x double, s string",
    )
    t.create(df, stats_cols=["id", "x", "s"])
    t.append(
        spark.createDataFrame(
            [(100, -2.5, "zz")], "id long, x double, s string"
        ).repartition(1)  # avoid empty part files: no stats row = "unknown"
    )
    t.delete_where(F.col("id") % 7 == 3)  # COW rewrite keeps stats complete
    got = t.agg_from_stats(["id", "x", "s"])
    data = t.read().agg(
        F.count("*"), F.min("id"), F.max("id"), F.min("x"), F.max("x"),
        F.min("s"), F.max("s"), F.count(F.when(F.col("s").isNull(), 1)),
    ).collect()[0]
    assert got["n_rows"] == data[0]
    assert (got["id"]["min"], got["id"]["max"]) == (data[1], data[2])
    assert (got["x"]["min"], got["x"]["max"]) == (data[3], data[4])
    assert (got["s"]["min"], got["s"]["max"]) == (data[5], data[6])
    assert got["s"]["n_nulls"] == data[7]
    # refusals: undeclared column; pending MOR deletes
    with pytest.raises(ValueError, match="not in stats_cols"):
        t.agg_from_stats(["nope"])
    before = t.agg_from_stats(["id"])["n_rows"]
    t.delete_mor(spark.createDataFrame([(7,)], "id long"))
    with pytest.raises(ValueError, match="MOR deletes"):
        t.agg_from_stats(["id"])
    t.materialize_deletes()
    after = t.agg_from_stats(["id"])
    assert after["n_rows"] == before - 1 and after["id"]["max"] == 100


# ------------------------------------------------- multi-table catalog


def test_catalog_txn_atomic_visibility_and_recover(spark, tmp_path):
    import pytest

    from ocr_search_spark.storage_snapshots import MultiTableCatalog, SnapshotTable

    docs = SnapshotTable(spark, str(tmp_path / "docs"))
    post = SnapshotTable(spark, str(tmp_path / "post"))
    docs.create(spark.createDataFrame([(1, "a")], "id long, t string"))
    post.create(spark.createDataFrame([("a", 1, 1)], "term string, id long, tf long"))
    cat = MultiTableCatalog(spark, str(tmp_path / "cat"))
    cat.register("docs", docs)
    cat.register("post", post)

    sd = docs.stage_append(spark.createDataFrame([(2, "b b")], "id long, t string"))
    sp = post.stage_append(
        spark.createDataFrame([("b", 2, 2)], "term string, id long, tf long")
    )
    # staged: invisible through the catalog AND through the tables
    assert cat.read("docs").count() == 1 and cat.read("post").count() == 1
    cat.commit_txn({"docs": sd, "post": sp})
    # committed: both flips visible transactionally and on the tables
    assert cat.read("docs").count() == 2 and cat.read("post").count() == 2
    assert docs.read().count() == 2 and post.read().count() == 2

    # concurrent-writer guard: member advanced since staging -> refuse
    s2 = docs.stage_append(spark.createDataFrame([(3, "c")], "id long, t string"))
    docs.publish(s2)
    s3 = post.stage_append(
        spark.createDataFrame([("c", 3, 1)], "term string, id long, tf long")
    )
    stale = {"docs": s2, "post": s3}
    with pytest.raises(ValueError, match="not a staged commit"):
        cat.commit_txn(stale)  # docs s2 already published outside the txn
    cat.abort_txn({"post": s3})
    with pytest.raises(ValueError, match="does not exist"):
        post._manifest(s3)


def test_catalog_crash_between_flip_and_publish(spark, tmp_path):
    """Simulate the crash window: catalog pointer flipped, member
    publishes skipped — catalog readers are already consistent and
    recover() replays the publishes idempotently."""
    from ocr_search_spark.storage_snapshots import MultiTableCatalog, SnapshotTable

    a = SnapshotTable(spark, str(tmp_path / "a"))
    b = SnapshotTable(spark, str(tmp_path / "b"))
    a.create(spark.createDataFrame([(1,)], "id long"))
    b.create(spark.createDataFrame([(10,)], "id long"))
    cat = MultiTableCatalog(spark, str(tmp_path / "cat"))
    cat.register("a", a)
    cat.register("b", b)
    sa = a.stage_append(spark.createDataFrame([(2,)], "id long"))
    sb = b.stage_append(spark.createDataFrame([(20,)], "id long"))
    # crash simulation: flip the catalog WITHOUT publishing members
    pins = cat._pins()
    pins["a"]["version"] = sa
    pins["b"]["version"] = sb
    cat._commit_pins(pins)
    # catalog view is consistent; member pointers still old
    assert cat.read("a").count() == 2 and cat.read("b").count() == 2
    assert a.read().count() == 1 and b.read().count() == 1
    assert sorted(cat.recover()) == ["a", "b"]
    assert a.read().count() == 2 and b.read().count() == 2
    assert cat.recover() == []  # idempotent


def test_catalog_time_travel_is_cross_table_consistent(spark, tmp_path):
    """read_at(N) reconstructs the exact transaction boundary: both
    tables pre-txn at the pre-txn catalog version, both post-txn after
    — never a mixed view."""
    import pytest

    from ocr_search_spark.storage_snapshots import MultiTableCatalog, SnapshotTable

    a = SnapshotTable(spark, str(tmp_path / "a"))
    b = SnapshotTable(spark, str(tmp_path / "b"))
    a.create(spark.createDataFrame([(1,)], "id long"))
    b.create(spark.createDataFrame([(1,)], "id long"))
    cat = MultiTableCatalog(spark, str(tmp_path / "cat"))
    cat.register("a", a)
    cat.register("b", b)
    pre = cat._cur_n()
    sa = a.stage_append(spark.createDataFrame([(2,)], "id long"))
    sb = b.stage_append(spark.createDataFrame([(2,)], "id long"))
    post = cat.commit_txn({"a": sa, "b": sb})
    assert cat.read_at("a", pre).count() == 1 == cat.read_at("b", pre).count()
    assert cat.read_at("a", post).count() == 2 == cat.read_at("b", post).count()
    with pytest.raises(ValueError, match="not in catalog"):
        cat.read_at("nope", post)


def test_remove_orphans_gc_without_expiry(spark, tmp_path):
    """Orphan GC deletes exactly the unreferenced debris: every
    manifest on disk protects its files (live chain, rolled-past
    versions, staged WAP commits), all versions stay readable, and
    protected files are byte-identical afterwards. Idempotent."""
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    t.create(_df(spark, 0, 60, "base").repartition(3))
    t.append(_df(spark, 60, 90, "wave2"))
    staged = t.stage_append(_df(spark, 90, 100, "staged"))
    # crashed-write debris in two shapes: a stray commit dir and a
    # loose file at the data root
    _df(spark, 0, 7, "junk").coalesce(1).write.parquet(
        str(tmp_path / "snap" / "data" / "c777")
    )
    import shutil

    src = glob.glob(str(tmp_path / "snap" / "data" / "c777" / "*.parquet"))[0]
    shutil.copy(src, str(tmp_path / "snap" / "data" / "loose.parquet"))
    n_junk = len(
        glob.glob(
            str(tmp_path / "snap" / "data" / "c777" / "*.parquet")
        )
    ) + 1
    before = {
        k: v
        for k, v in _file_digests(str(tmp_path / "snap")).items()
        if "c777" not in k and "loose.parquet" not in k
    }
    out = t.remove_orphans()
    assert out == {"files": n_junk}
    after = _file_digests(str(tmp_path / "snap"))
    assert after == before  # protected files untouched, debris gone
    assert t.remove_orphans() == {"files": 0}
    assert t.read(1).count() == 60 and t.read(2).count() == 90
    # the staged WAP commit survived the sweep and still publishes
    t.publish(staged)
    assert t.read().count() == 100

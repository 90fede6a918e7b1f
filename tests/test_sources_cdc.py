"""Streaming CDC data source over the snapshot log (sources_cdc):
exactly-once delivery from manifest offsets, rewrite-commit skipping,
WAP invisibility, expired-gap refusal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_search_spark import sources_cdc
from ocr_search_spark.storage_snapshots import SnapshotTable


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(tag).alias("tag")
    )


def _drain(spark, root, out_dir, ckpt):
    q = (
        spark.readStream.format(sources_cdc.FORMAT_NAME)
        .option("path", root)
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def test_cdc_source_exactly_once_across_maintenance(spark, tmp_path):
    sources_cdc.register(spark)
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.create(_df(spark, 0, 50, "a").repartition(2))
    t.append(_df(spark, 50, 80, "b"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    got = _drain(spark, root, out, ckpt)
    assert got.count() == 80

    # rewrite commits must NOT re-deliver; MOR deletes add nothing
    t.compact(small_bytes=1 << 30, target_bytes=1 << 40)
    t.delete_mor(spark.createDataFrame([(1,)], "k long"))
    t.materialize_deletes()
    t.append(_df(spark, 80, 95, "c"))
    got = _drain(spark, root, out, ckpt)
    assert got.count() == 95
    assert got.groupBy("k").count().where("count > 1").count() == 0
    # the feed is append-driven: the MOR-deleted row was already
    # delivered and is not retracted (documented semantics)
    assert got.where("k = 1").count() == 1


def test_cdc_source_wap_invisible_until_publish(spark, tmp_path):
    sources_cdc.register(spark)
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.create(_df(spark, 0, 10, "a"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    assert _drain(spark, root, out, ckpt).count() == 10
    staged = t.stage_append(_df(spark, 10, 20, "staged"))
    assert _drain(spark, root, out, ckpt).count() == 10  # invisible
    t.publish(staged)
    assert _drain(spark, root, out, ckpt).count() == 20


def test_cdc_source_refuses_expired_gap(spark, tmp_path):
    sources_cdc.register(spark)
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.create(_df(spark, 0, 10, "a"))
    t.append(_df(spark, 10, 20, "b"))
    t.append(_df(spark, 20, 30, "c"))
    t.expire_snapshots(keep_last=1)  # v1/v2 manifests gone
    reader = sources_cdc.SnapshotStreamReader(
        t.read().schema, {"path": root}
    )
    with pytest.raises(ValueError, match="expired before the stream"):
        reader.partitions({"version": 0}, {"version": 3})
    # a reader starting AFTER the retained horizon works
    parts = reader.partitions({"version": 2}, {"version": 3})
    assert len(parts) >= 1


def test_batch_reader_time_travel_and_guards(spark, tmp_path):
    from pyspark.sql import types as T

    sources_cdc.register(spark)
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.create(_df(spark, 0, 40, "a").repartition(3))
    t.append(_df(spark, 40, 60, "b"))

    cur = spark.read.format(sources_cdc.FORMAT_NAME).option("path", root).load()
    assert cur.count() == 60
    v1 = (spark.read.format(sources_cdc.FORMAT_NAME)
          .option("path", root).option("version", 1).load())
    assert v1.count() == 40  # time travel through the Python reader
    assert sorted(r["k"] for r in v1.collect()) == list(range(40))

    # pending MOR deletes refuse (reader cannot apply the delete join)
    t.delete_mor(spark.createDataFrame([(1,)], "k long"))
    with pytest.raises(Exception, match="merge-on-read"):
        (spark.read.format(sources_cdc.FORMAT_NAME)
         .option("path", root).load().count())
    t.materialize_deletes()
    assert (spark.read.format(sources_cdc.FORMAT_NAME)
            .option("path", root).load().count()) == 59


def test_reader_null_fills_after_schema_evolution(spark, tmp_path):
    from pyspark.sql import types as T

    sources_cdc.register(spark)
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.create(_df(spark, 0, 20, "a"))
    t.add_columns([T.StructField("score", T.LongType(), True)])
    t.append(_df(spark, 20, 25, "b").withColumn("score", F.lit(7)))
    # batch: old files read as NULL for the new column
    cur = spark.read.format(sources_cdc.FORMAT_NAME).option("path", root).load()
    assert cur.where("score IS NULL").count() == 20
    assert cur.where("score = 7").count() == 5
    # streaming from genesis across the evolve commit also null-fills
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    got = _drain(spark, root, out, ckpt)
    assert got.count() == 25
    assert got.where("score IS NULL").count() == 20


# --------------------------------------------------------- DSv2 writes


def test_dsv2_writer_append_and_overwrite(spark, tmp_path):
    from ocr_search_spark import sources_cdc
    from ocr_search_spark.storage_snapshots import SnapshotTable

    sources_cdc.register(spark)
    path = str(tmp_path / "wt")
    t = SnapshotTable(spark, path)
    t.create(
        spark.range(0, 50).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        stats_cols=["k"],
    )
    spark.range(50, 80).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).repartition(3).write.format("snapshot_cdc").mode("append").save(path)
    assert t.current_version() == 2
    assert sorted(r["k"] for r in t.read().collect()) == list(range(80))
    # writer files carry real stats: metadata count + min/max pruning work
    assert t.count() == 80
    man = t._manifest(2)
    new_files = [f for f in man["files"] if f.startswith("data/c2/")]
    assert new_files and all(
        "#rows" in man["stats"][f] and "k" in man["stats"][f]
        for f in new_files
    )
    kept = t._pruned_files(man, [("k", ">=", 79)])
    assert len(kept) < len(man["files"])
    got = sorted(r["k"] for r in t.scan([("k", ">=", 78)]).collect())
    assert got == [78, 79]
    # overwrite replaces the logical table, history intact
    spark.range(100, 110).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).write.format("snapshot_cdc").mode("overwrite").save(path)
    assert sorted(r["k"] for r in t.read().collect()) == list(range(100, 110))
    assert sorted(r["k"] for r in t.read(2).collect()) == list(range(80))


def test_dsv2_writer_carries_fences_and_guards_features(spark, tmp_path):
    import pytest as _pt

    from ocr_search_spark import sources_cdc
    from ocr_search_spark.storage_snapshots import SnapshotTable
    from ocr_search_spark.streaming.snapshot_sink import append_batch

    sources_cdc.register(spark)
    path = str(tmp_path / "wt2")
    t = SnapshotTable(spark, path)
    base = spark.range(0, 10).select(F.col("id").alias("k"))
    t.create(base)
    append_batch(t, spark.range(10, 12).select(F.col("id").alias("k")), batch_id=7)
    spark.range(12, 15).select(F.col("id").alias("k")).write.format(
        "snapshot_cdc"
    ).mode("append").save(path)
    man = t._manifest(t.current_version())
    assert man["fences"] == {"default": 7}  # fence survived the DSv2 commit
    # schema mismatch is refused before anything is written
    with _pt.raises(Exception, match="does not match"):
        spark.range(3).select(F.col("id").alias("wrong")).write.format(
            "snapshot_cdc"
        ).mode("append").save(path)
    # feature-bearing tables route to the API
    t2 = SnapshotTable(spark, str(tmp_path / "wt3"))
    t2.create(base)
    t2.set_check("pos", "k >= 0")
    with _pt.raises(Exception, match="CHECK"):
        spark.range(3).select(F.col("id").alias("k")).write.format(
            "snapshot_cdc"
        ).mode("append").save(str(tmp_path / "wt3"))
    t3 = SnapshotTable(spark, str(tmp_path / "wt4"))
    t3.create(
        spark.range(5).select(F.col("id").alias("k"), F.lit("x").alias("tag")),
        partition_spec=[("tag", "identity")],
    )
    with _pt.raises(Exception, match="partition spec"):
        spark.range(3).select(
            F.col("id").alias("k"), F.lit("y").alias("tag")
        ).write.format("snapshot_cdc").mode("append").save(str(tmp_path / "wt4"))

"""Group replace on a bucketed parquet table, rewriting only touched buckets.

Re-processing a changed document must replace ALL its rows (its new
term set need not overlap the old one). Applied naively to a stored
table that rewrites the WHOLE table. The production answer is a table
format with MERGE INTO (Iceberg/Delta); without those jars this module
gives the same contract on plain parquet, through one mutation,
``BucketedTable.replace_group``:

* the table is partitioned by ``bucket = pmod(xxhash64(bucket keys), n)``
  — deterministic from the group key, so a group's new rows always land
  in the bucket that holds its old ones;
* a replace first computes the distinct buckets its groups touch
  (bounded driver-side list, ≤ n_buckets ints), reads ONLY those
  partitions (partition pruning on the bucket column), drops the
  groups' old rows, adds the new ones, and dynamic-partition-overwrites
  ONLY those partitions, one file per bucket;
* untouched partitions' files are never opened, let alone rewritten —
  byte-identity is asserted in tests/test_storage.py;
* buckets a replace EMPTIES are dropped through the Hadoop FS API
  (dynamic overwrite cannot write an absent partition), and a table
  with zero data files still reads as an empty DataFrame (the schema is
  persisted in the table metadata).

Reference: the Mongo per-row upserts of DbInterface.class.js:236-251 /
:366-381 give per-document update cost; this gives per-bucket cost with
set-oriented execution, the scalable analogue.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BUCKET_COL = "_mbucket"
META_FILE = "_bucketed_table_meta.json"


class BucketedTable:
    """A parquet table bucketed by a key prefix for partition-pruned
    group replaces."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        n_buckets: int = 64,
        bucket_keys: list[str] | None = None,
    ):
        """``keys`` = the row identity. ``bucket_keys`` (default: keys) =
        the partition-pruning key; must be a subset of ``keys`` so a
        replaced row always lands in its old row's bucket.
        Bucketing postings by ``doc_id`` alone while merging on
        ``(term, doc_id)`` colocates each document's rows — a doc-level
        replace then touches only that doc's bucket."""
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.bucket_keys = list(bucket_keys) if bucket_keys is not None else list(keys)
        if not set(self.bucket_keys) <= set(self.keys):
            raise ValueError(
                f"bucket_keys {self.bucket_keys} must be a subset of keys {self.keys}"
            )
        self.n_buckets = n_buckets

    # ------------------------------------------------------------ fs utils
    def _fs_path(self, p: str):
        return self.spark._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, jpath):
        return jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())

    # ------------------------------------------------------------ helpers
    def _bucket(self) -> F.Column:
        return F.pmod(F.xxhash64(*self.bucket_keys), F.lit(self.n_buckets)).cast("int")

    def _touched_buckets(self, key_rows: DataFrame) -> list[int]:
        """Distinct buckets of the given key rows — bounded by n_buckets,
        so the collect ships at most n_buckets ints to the driver (this
        is partition *pruning* metadata, not data)."""
        rows = key_rows.select(self._bucket().alias(BUCKET_COL)).distinct().collect()
        return sorted(r[BUCKET_COL] for r in rows)

    def _overwrite_buckets(self, df: DataFrame) -> None:
        mode = self.spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            df.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(self.path)
        finally:
            self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", mode)

    def _drop_bucket_dirs(self, buckets) -> None:
        """Remove emptied partition dirs — dynamic overwrite only replaces
        partitions PRESENT in the written data, so an emptied bucket would
        silently keep its stale files."""
        for b in buckets:
            p = self._fs_path(f"{self.path}/{BUCKET_COL}={b}")
            self._fs(p).delete(p, True)

    def _commit_touched(
        self, touched: list[int], final: DataFrame
    ) -> None:
        """Write the post-merge rows of the touched buckets: dynamic
        overwrite for buckets with rows, FS-drop for buckets the merge
        emptied. ``final`` must already carry BUCKET_COL. It is
        hash-partitioned on BUCKET_COL first, so every bucket's rows sit
        in one task and each rewritten bucket is one file, whatever
        shuffle the merge planned (a shuffled anti-join would otherwise
        scatter a bucket over up to shuffle-partitions files). Cached for
        the duration so the lineage executes once (the nonempty probe and
        the write would otherwise both run it)."""
        final = final.repartition(len(touched), F.col(BUCKET_COL)).cache()
        try:
            nonempty = {
                r[BUCKET_COL]
                for r in final.select(BUCKET_COL).distinct().collect()
            }
            if nonempty:
                self._overwrite_buckets(
                    final.where(F.col(BUCKET_COL).isin(sorted(nonempty)))
                )
            self._drop_bucket_dirs(sorted(set(touched) - nonempty))
        finally:
            final.unpersist()

    # --------------------------------------------------------- meta guard
    # The bucket layout is a durable property of the TABLE, not of the
    # handle: reopening with a different n_buckets/keys and merging would
    # scatter new row versions into buckets their old versions don't live
    # in — silent corruption. init() persists layout + schema; every
    # mutation verifies the layout, and the schema keeps a fully-emptied
    # table readable.
    def _meta_path(self):
        return self._fs_path(f"{self.path}/{META_FILE}")

    def _write_meta(self, schema: T.StructType) -> None:
        p = self._meta_path()
        out = self._fs(p).create(p, True)
        out.write(
            json.dumps(
                {
                    "keys": self.keys,
                    "bucket_keys": self.bucket_keys,
                    "n_buckets": self.n_buckets,
                    "schema": schema.jsonValue(),
                }
            ).encode("utf-8")
        )
        out.close()

    def _read_meta(self) -> dict | None:
        p = self._meta_path()
        fs = self._fs(p)
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            raw = bytes(
                self.spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()
        return json.loads(raw.decode("utf-8"))

    def _check_meta(self) -> None:
        meta = self._read_meta()
        if meta is None:
            return  # pre-guard table (or external layout): trust the caller
        mine = {
            "keys": self.keys,
            "bucket_keys": self.bucket_keys,
            "n_buckets": self.n_buckets,
        }
        theirs = {k: meta.get(k) for k in mine}
        if theirs != mine:
            raise ValueError(
                f"bucket layout mismatch for {self.path}: table was created "
                f"with {theirs}, handle configured with {mine} — merging "
                "would scatter rows across incompatible buckets"
            )

    def _has_data_files(self) -> bool:
        """True iff the table dir holds at least one parquet data file.
        Distinguishes 'table legitimately emptied' from 'read failed for
        another reason' so a transient/corruption error is never treated
        as an empty table (which would silently drop the surviving rows
        on the next replace)."""
        root = self._fs_path(self.path)
        fs = self._fs(root)
        if not fs.exists(root):
            return False
        it = fs.listFiles(root, True)  # recursive
        while it.hasNext():
            f = it.next()
            name = f.getPath().getName()
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                return True
        return False

    def _read_raw(self) -> DataFrame:
        """The stored table INCLUDING the bucket column; a table whose
        every bucket was emptied still reads (empty frame from the
        persisted schema) instead of failing schema inference."""
        try:
            return self.spark.read.parquet(self.path)
        except Exception:
            # Only the fully-emptied-table case may fall back to an empty
            # frame; any failure while data files exist must surface.
            if self._has_data_files():
                raise
            meta = self._read_meta()
            if meta is None or "schema" not in meta:
                raise
            schema = T.StructType.fromJson(meta["schema"]).add(
                BUCKET_COL, T.IntegerType()
            )
            return self.spark.createDataFrame([], schema)

    # ------------------------------------------------------------ public
    def exists(self) -> bool:
        p = self._fs_path(self.path)
        return self._fs(p).exists(p)

    def init(self, df: DataFrame) -> None:
        """Full initial load. The table dir is removed first: a dynamic
        overwrite alone would leave stale bucket dirs from a previous
        load (it only replaces partitions present in the new data). The
        meta is written before the data, so a load that dies mid-write
        leaves a table that reads as empty rather than one that fails.
        Rows are hash-partitioned on BUCKET_COL first, as in
        ``_commit_touched``, so each bucket is written as one file."""
        root = self._fs_path(self.path)
        fs = self._fs(root)
        if fs.exists(root):
            fs.delete(root, True)
        self._write_meta(df.schema)
        self._overwrite_buckets(
            df.withColumn(BUCKET_COL, self._bucket()).repartition(
                self.n_buckets, F.col(BUCKET_COL)
            )
        )

    def read(self) -> DataFrame:
        raw = self._read_raw()
        return raw.select([c for c in raw.columns if c != BUCKET_COL])

    def replace_group(
        self,
        updates: DataFrame,
        group_keys: list[str],
        groups: DataFrame | None = None,
    ) -> list[int]:
        """Group-level replace: every group (e.g. a doc_id) in ``groups``
        (default: the distinct group keys present in ``updates``) has ALL
        its existing rows dropped and its update rows inserted — the
        MERGE shape of re-processing a changed document, whose new token
        set need not overlap its old one.

        Pass ``groups`` explicitly when a group's new version can be
        EMPTY (a re-processed doc with no tokens, a deleted file): it
        then has no update rows, so deriving groups from ``updates``
        alone would leave its stale rows in place. Requires
        ``bucket_keys ⊆ group_keys``; rewrites only the touched buckets,
        FS-drops any the replace empties. Idempotent: re-applying the
        same batch reproduces the same table state. An absent table is
        created from ``updates`` with the layout and meta of ``init``;
        an empty ``groups`` writes nothing, so it creates nothing."""
        self._check_meta()
        if not set(self.bucket_keys) <= set(group_keys):
            raise ValueError(
                f"group_keys {group_keys} must contain bucket_keys "
                f"{self.bucket_keys} (a group must not span buckets)"
            )
        if groups is None:
            groups = updates.select(*group_keys).distinct()
        else:
            groups = groups.select(*group_keys).distinct()
        touched = self._touched_buckets(groups)
        if not touched:
            return []
        if not self.exists():
            self.init(updates)
            return touched
        raw = self._read_raw()
        cols = [c for c in raw.columns if c != BUCKET_COL]
        current = raw.where(F.col(BUCKET_COL).isin(touched)).select(cols)
        remaining = current.join(groups, group_keys, "left_anti").select(cols)
        merged = remaining.unionByName(updates.select(cols))
        self._commit_touched(touched, merged.withColumn(BUCKET_COL, self._bucket()))
        return touched

"""Iceberg-style snapshot log on plain parquet: time travel, rollback,
copy-on-write deletes, snapshot expiry.

The north rule frames the corpus as Iceberg tables. Without the Iceberg
runtime jars, this module reproduces the *semantics* that matter to a
resumable 10^12-row pipeline on plain parquet + a JSON manifest log:

* data files are IMMUTABLE — every commit writes its new files into a
  fresh ``data/c<version>/`` directory and never touches earlier files;
* a snapshot is a manifest (``meta/v<version>.json``) listing the exact
  file set of that version plus the persisted schema; ``meta/_current``
  is an atomically-renamed pointer to the latest version;
* ``read(version=...)`` plans a scan over exactly that manifest's files
  — time travel is free (no data movement), and predicate pushdown /
  column pruning apply unchanged because the scan is an ordinary
  parquet read of an explicit file list;
* ``delete_where`` is file-granularity copy-on-write, like Iceberg's
  COW mode: only files that actually CONTAIN matching rows are
  rewritten (discovered set-orientedly via ``input_file_name()``, one
  aggregate — never a row-by-row driver loop); untouched files are
  carried into the new manifest by reference;
* ``rollback(v)`` commits a NEW snapshot whose file set is version v's
  (history is append-only — Iceberg's rollback contract), and
  ``expire_snapshots(keep_last)`` drops old manifests plus any data
  file no retained manifest references (the GC that bounds storage);
* ``merge(source, keys)`` is MERGE INTO in copy-on-write mode: the
  touched-file set is the files whose rows' keys appear in the source
  (one semi-join + one distinct aggregate), those files are rewritten
  with matched rows replaced and every other file carried by
  reference; unmatched source rows become the inserts;
* manifests carry per-file min/max column stats (``stats_cols=...`` at
  create time) and ``scan(predicates)`` prunes the FILE LIST with them
  before Spark ever plans the read — Iceberg's manifest-level pruning,
  one tier above parquet row-group stats. Pruning is result-
  transparent: the full predicate is re-applied to the surviving
  files, so a stale/missing stat can only cost IO, never rows;
* ``incremental_scan(v_from, v_to)`` reads exactly the files ADDED in
  (v_from, v_to] — Iceberg's incremental append scan; it refuses
  ranges containing non-append commits rather than under-reporting;
* ``compact(small_bytes)`` bin-packs small data files into few large
  ones as a content-identical snapshot (Iceberg ``rewrite_data_files``)
  — the antidote to streaming/append commit dribble, where a 10^12-row
  table otherwise accretes millions of kilobyte files whose OPEN cost
  dominates every scan.

Scale notes (100 TB): manifests are O(n_files) JSON, the only
driver-side state; commits append files (no read-modify-write of
existing data); every read is a parquet scan with full Catalyst
pushdown. Complements :class:`ocr_search_spark.storage.BucketedTable`
(bucket-pruned MERGE): that trades history for in-place bucket
rewrites; this trades in-place mutation for history.

Reference parity: the reference stores mutable Mongo collections with
no versioning (DbInterface.class.js:236-251) — snapshots are part of
the lakehouse tier this engine adds.
"""

from __future__ import annotations

import json
import posixpath
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CURRENT_PTR = "_current"

# conjunctive scan predicates: op name -> residual Column builder
_PRED_OPS = {
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    "=": lambda c, v: c == v,
    # unary null tests (the value operand is ignored; pass None)
    "is_null": lambda c, v: c.isNull(),
    "is_not_null": lambda c, v: c.isNotNull(),
}


# ------------------------------------------------ partition transforms
# Iceberg-style HIDDEN partitioning: the table declares transforms of
# data columns; writers route rows to files by transform value, readers
# prune files from predicates on the DATA column — queries never name a
# partition column. Transform values are strings (they live in dir
# names + manifest JSON). Scope pinned for soundness: identity/truncate
# apply to string and exact-integer columns, bucket hashes the h60 of
# the value's canonical string (md5-based — same cross-engine-stable
# family as the dedup/sketch tiers, not Iceberg's murmur3); no
# time-derived transform (days/hours) — a timezone disagreement between
# writer and pruner would DROP matching files, and silent wrong results
# are worse than no pruning.

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _check_partition_spec(spec: list, schema: T.StructType) -> list[list]:
    """Validate + normalize to [[col, kind, arg], ...] (JSON shape)."""
    out: list[list] = []
    names = set(schema.fieldNames())
    for entry in spec:
        col, kind, arg = entry[0], entry[1], (entry[2] if len(entry) > 2 else None)
        if col not in names:
            raise ValueError(f"partition_spec column {col!r} not in schema")
        t = schema[col].dataType
        if kind in ("identity", "bucket"):
            if not isinstance(t, (T.StringType, *_INT_TYPES)):
                raise ValueError(
                    f"{kind} transform needs a string/integer column, "
                    f"{col} is {t}"
                )
        elif kind == "epochday":
            # day number of an INTEGER epoch-seconds column: pure int
            # arithmetic on both the write and prune sides — the
            # timezone-skew soundness objection to a timestamp-typed
            # 'days' transform does not arise
            if not isinstance(t, _INT_TYPES):
                raise ValueError(
                    f"epochday needs an integer epoch-seconds column, "
                    f"{col} is {t}"
                )
        elif kind == "truncate":
            if not isinstance(t, T.StringType):
                raise ValueError(f"truncate needs a string column, {col} is {t}")
            if not isinstance(arg, int) or arg < 1:
                raise ValueError("truncate width must be a positive int")
        else:
            raise ValueError(
                f"unknown partition transform {kind!r} "
                "(identity | bucket | truncate | epochday)"
            )
        if kind == "bucket" and (not isinstance(arg, int) or arg < 1):
            raise ValueError("bucket count must be a positive int")
        out.append([col, kind, arg])
    return out


def _transform_col(entry: list, c: Column) -> Column:
    """The transform as a STRING-valued Column (the write-side twin of
    :func:`_transform_value` — the two must agree or pruning is
    unsound)."""
    col, kind, arg = entry
    if kind == "identity":
        return c.cast("string")
    if kind == "truncate":
        return F.substring(c, 1, int(arg))
    if kind == "epochday":
        return F.floor(c / F.lit(86400)).cast("long").cast("string")
    # bucket: h60 of the canonical string, mod n
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")
    return (h % int(arg)).cast("string")


def _transform_value(entry: list, val) -> str | None:
    """Driver-side transform of an equality-predicate literal; None =
    value type outside the pinned scope -> no pruning on this entry
    (sound: pruning may only ever SKIP work)."""
    import hashlib

    col, kind, arg = entry
    if isinstance(val, bool) or not isinstance(val, (int, str)):
        return None
    s = str(val)
    if kind == "identity":
        return s
    if kind == "truncate":
        return s[: int(arg)]
    if kind == "epochday":
        return str(val // 86400) if isinstance(val, int) else None
    h = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
    return str(h % int(arg))


def _stat_scalar(v):
    """Stats value → JSON-safe scalar whose ordering matches the column
    ordering (ISO strings for date/timestamp sort like the values)."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    return v.isoformat()  # date / datetime


def _range_may_match(lo, hi, op: str, val) -> bool:
    """Can any x in [lo, hi] satisfy ``x op val``? Conservative: True
    when the stats are absent/unusable."""
    val = _stat_scalar(val)
    if lo is None or hi is None or val is None:
        return True
    try:
        if op == "<":
            return lo < val
        if op == "<=":
            return lo <= val
        if op == ">":
            return hi > val
        if op == ">=":
            return hi >= val
        if op == "=":
            return lo <= val <= hi
    except TypeError:
        return True  # cross-type comparison: keep the file
    raise ValueError(f"unknown predicate op {op!r}")


_BLOOM_BITS = 8192


def _bloom_hash_cols(c: Column) -> tuple[Column, Column]:
    """Two bit positions from the value's canonical-string md5 — the
    write-side twin of :func:`_bloom_hash_value` (same parity contract
    as the bucket transform pair: both sides hash ``str(value)``)."""
    md5 = F.md5(c.cast("string"))
    h1 = F.conv(F.substring(md5, 1, 15), 16, 10).cast("long") % _BLOOM_BITS
    h2 = F.conv(F.substring(md5, 16, 15), 16, 10).cast("long") % _BLOOM_BITS
    return h1, h2


def _bloom_hash_value(val) -> tuple[int, int] | None:
    """Driver-side twin; None = literal type outside the pinned scope
    (no pruning on it — sound, pruning may only ever skip work)."""
    import hashlib

    if isinstance(val, bool) or not isinstance(val, (int, str)):
        return None
    d = hashlib.md5(str(val).encode("utf-8")).hexdigest()
    return int(d[:15], 16) % _BLOOM_BITS, int(d[15:30], 16) % _BLOOM_BITS


class SnapshotTable:
    """Versioned parquet table with an append-only snapshot log."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self.meta_dir = f"{self.path}/meta"
        self.data_dir = f"{self.path}/data"

    # ------------------------------------------------------------ fs utils
    def _jpath(self, p: str):
        return self.spark._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self):
        return self._jpath(self.path).getFileSystem(
            self.spark._jsc.hadoopConfiguration()
        )

    def _write_text(self, path: str, text: str) -> None:
        """Atomic text write: temp file + rename (same FS primitive the
        parquet committer uses)."""
        fs = self._fs()
        tmp = self._jpath(path + ".tmp")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        dst = self._jpath(path)
        if fs.exists(dst):
            fs.delete(dst, False)
        if not fs.rename(tmp, dst):
            raise IOError(f"atomic rename failed for {path}")

    def _read_text(self, path: str) -> str | None:
        fs = self._fs()
        jp = self._jpath(path)
        if not fs.exists(jp):
            return None
        # the copy must run JVM-side: py4j passes byte[] by value, so
        # java.io-style read(buf) calls can never fill a Python buffer
        jvm = self.spark._jvm
        stream = fs.open(jp)
        try:
            baos = jvm.java.io.ByteArrayOutputStream()
            jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, False)
            return baos.toString("UTF-8")
        finally:
            stream.close()

    def _list_parquet(self, directory: str) -> list[str]:
        """Data files under ``directory``, as table-relative paths."""
        fs = self._fs()
        it = fs.listFiles(self._jpath(directory), True)
        out = []
        while it.hasNext():
            f = it.next()
            name = f.getPath().getName()
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                uri = f.getPath().toUri()
                out.append(self._relativize(uri.getPath()))
        return sorted(out)

    def _relativize(self, abs_path: str) -> str:
        root = urlparse(self.path).path or self.path
        if not abs_path.startswith(root.rstrip("/") + "/"):
            raise ValueError(f"{abs_path} is outside table root {root}")
        return abs_path[len(root.rstrip("/")) + 1 :]

    def _absolute(self, rel: str) -> str:
        return posixpath.join(self.path, rel)

    # ------------------------------------------------------------ manifests
    def current_version(self) -> int | None:
        txt = self._read_text(f"{self.meta_dir}/{CURRENT_PTR}")
        return int(txt) if txt is not None else None

    def _manifest(self, version: int) -> dict:
        txt = self._read_text(f"{self.meta_dir}/v{version}.json")
        if txt is None:
            raise ValueError(
                f"snapshot v{version} does not exist (expired or never written)"
            )
        return json.loads(txt)

    def _commit(self, operation: str, files: list[str], schema: T.StructType,
                parent: int | None, stats: dict | None = None,
                stats_cols: list[str] | None = None,
                delete_files: list[dict] | None = None,
                publish: bool = True, info: dict | None = None,
                partition_spec: list | None = None,
                partitions: dict | None = None,
                checks: dict | None = None,
                bloom_cols: list | None = None,
                version: int | None = None,
                branch: str | None = None) -> int:
        # branch commits pick their version EXPLICITLY (global max + 1 —
        # two branches both committing parent+1 would collide on the
        # linear numbering); main-chain commits take the next number NOT
        # owned by a branch (and still fail loudly on a pending staged
        # commit — that guard is a feature)
        version = version if version is not None else self._next_version(parent)
        if self._read_text(f"{self.meta_dir}/v{version}.json") is not None:
            raise ValueError(
                f"snapshot v{version} already exists — a staged commit is "
                "pending (publish or abort it) or a concurrent writer won"
            )
        # streaming fences propagate FORWARD through every commit so
        # expire_snapshots can never GC the manifest carrying a
        # channel's high-water mark (a lost fence would re-apply a
        # replayed micro-batch -> duplicate rows / re-run retractions)
        fences = self._collect_fences(parent)
        if info and info.get("batch_id") is not None:
            fences[str(info.get("channel", "default"))] = int(info["batch_id"])
        # the partition spec is a table property: inherited from the
        # parent unless create/evolve set it; per-file partition values
        # travel with their (immutable) files, so carried files keep
        # theirs and rewritten files (compact/zorder/COW) simply have
        # none — a file without values is never pruned, so maintenance
        # stays sound. Spec EVOLUTION (Iceberg-style): the manifest
        # keeps a registry of every spec the table has ever written
        # under plus a per-file spec id, so pruning always interprets a
        # file's recorded values against the spec that PRODUCED them —
        # never against the current default (values are positional;
        # cross-spec interpretation would silently prune wrong files).
        pspec = partition_spec
        pparts: dict = {}
        registry: list = []
        pfsids: dict = {}
        pchecks = checks
        pbloom = bloom_cols
        if parent is not None:
            pman = self._manifest(parent)
            if pchecks is None:
                pchecks = pman.get("checks")
            if pbloom is None:
                pbloom = pman.get("bloom_cols")
            pman_spec = pman.get("partition_spec") or []
            if pspec is None:
                pspec = pman_spec
            registry = list(
                pman.get("spec_registry")
                or ([pman_spec] if pman_spec else [])
            )
            pfsids = dict(pman.get("file_spec_ids") or {})
            pparts = pman.get("partitions") or {}
        pspec = pspec or []
        if pspec and pspec not in registry:
            registry.append(pspec)
        default_sid = registry.index(pspec) if pspec else None
        allparts = {f: pparts[f] for f in files if f in pparts}
        # legacy parents (no file_spec_ids) recorded everything under
        # their single spec -> id 0
        fsids = {f: pfsids.get(f, 0) for f in allparts}
        if partitions:
            allparts.update({f: partitions[f] for f in files if f in partitions})
            fsids.update(
                {f: default_sid for f in files if f in partitions}
            )
        man = {
            "version": version,
            "parent": parent,
            "operation": operation,
            "files": files,
            "schema": schema.jsonValue(),
            "stats_cols": stats_cols or [],
            "stats": {f: stats[f] for f in files if stats and f in stats},
            "delete_files": delete_files or [],
            "info": info or {},
            "fences": fences,
            "partition_spec": pspec,
            "partitions": allparts,
            "spec_registry": registry,
            "file_spec_ids": fsids,
            "checks": pchecks or {},
            "bloom_cols": pbloom or [],
        }
        if branch is not None:
            # a branch commit is PUBLISHED (not staged — WAP lifecycle
            # does not own it) but visible only through its branch ref;
            # the main pointer never moves. The marker lets the main
            # chain's version allocator step OVER branch-owned numbers
            # instead of colliding on them.
            man["branch"] = branch
            self._write_text(f"{self.meta_dir}/v{version}.json", json.dumps(man))
            refs = self._read_branches()
            refs[branch] = version
            self._write_text(f"{self.meta_dir}/_branches.json", json.dumps(refs))
            return version
        if not publish:
            man["staged"] = True
        self._write_text(f"{self.meta_dir}/v{version}.json", json.dumps(man))
        if publish:
            # the pointer flip is the commit point; a crash before it leaves
            # an unreferenced manifest + files (cleaned by expire_snapshots),
            # never a torn table
            self._write_text(f"{self.meta_dir}/{CURRENT_PTR}", str(version))
        return version

    def _check_version_free(self, version: int) -> None:
        """Raise BEFORE writing any file when the target version is
        taken (a pending staged commit, or a concurrent writer)."""
        if self._read_text(f"{self.meta_dir}/v{version}.json") is not None:
            raise ValueError(
                f"snapshot v{version} already exists — a staged commit is "
                "pending (publish or abort it) or a concurrent writer won"
            )

    def _write_commit_files(self, df: DataFrame, version: int) -> list[str]:
        self._check_version_free(version)
        cdir = f"{self.data_dir}/c{version}"
        df.write.mode("error").parquet(cdir)
        return self._list_parquet(cdir)

    def _write_partitioned_files(
        self, df: DataFrame, version: int, spec: list
    ) -> tuple[list[str], dict]:
        """Write a commit routed by the partition transforms: one
        derived ``_pk<i>`` column per spec entry, Spark's partitionBy
        lays files out under ``_pk<i>=<value>/`` dirs (the derived
        columns are NOT in the file data — hidden partitioning), then
        each file's transform values are parsed back from its path.
        Returns (files, {file: [v0, v1, ...]})."""
        from urllib.parse import unquote

        self._check_version_free(version)
        cdir = f"{self.data_dir}/c{version}"
        pk_names = [f"_pk{i}" for i in range(len(spec))]
        out = df
        for name, entry in zip(pk_names, spec):
            out = out.withColumn(name, _transform_col(entry, F.col(entry[0])))
        out.write.mode("error").partitionBy(*pk_names).parquet(cdir)
        files = self._list_parquet(cdir)
        idx = {n: i for i, n in enumerate(pk_names)}
        parts: dict = {}
        for rel in files:
            vals: list = [None] * len(spec)
            for seg in rel.split("/"):
                name, _, raw = seg.partition("=")
                if name in idx and raw:
                    v = unquote(raw)
                    vals[idx[name]] = (
                        None if v == "__HIVE_DEFAULT_PARTITION__" else v
                    )
            parts[rel] = vals
        return files, parts

    # ------------------------------------------------------------ public
    def create(self, df: DataFrame, stats_cols: list[str] | None = None,
               info: dict | None = None,
               partition_spec: list | None = None,
               bloom_cols: list[str] | None = None) -> int:
        """Initial snapshot (v1). Fails if the table already exists.

        ``stats_cols`` opts the table into per-file min/max stats in the
        manifest (numeric/string/date columns) — the input to
        :meth:`scan` file pruning. The choice is persisted and every
        later commit maintains stats for its NEW files only (carried
        files keep their recorded entries — file immutability makes the
        stats immutable too).

        ``partition_spec`` opts the table into HIDDEN partitioning:
        [(col, kind[, arg])] with kind ∈ identity | bucket(n) |
        truncate(w) | epochday (int epoch-seconds → day number). Writers (create/append/overwrite) route rows to
        files by transform value; :meth:`scan` prunes files from
        EQUALITY predicates on the data column through the same
        transform — bucket gives point-lookup pruning on
        high-cardinality keys where min/max stats are useless (hash-
        scattered ranges cover everything). Per-file values live in the
        manifest; rewritten files (compact/zorder/COW) have none and
        are never pruned, so maintenance never risks wrong results.

        ``bloom_cols`` opts the table into per-file Bloom membership
        bitmaps (string/integer columns) riding the stats aggregate —
        the third pruning tier: equality predicates skip files whose
        bitmap proves the value absent, which bites exactly where
        min/max cannot (hash-scattered high-cardinality columns) and
        without requiring the partition layout bucket() would. Unlike
        partition values, REWRITTEN files keep their blooms fresh
        (maintenance re-collects them with the stats)."""
        if self.current_version() is not None:
            raise ValueError(f"table {self.path} already exists")
        nspec = (
            _check_partition_spec(partition_spec, df.schema)
            if partition_spec
            else None
        )
        for c in stats_cols or []:
            t = df.schema[c].dataType
            if isinstance(t, T.DecimalType) or not isinstance(
                t, (T.NumericType, T.StringType, T.DateType, T.TimestampType)
            ):
                # DecimalType is excluded: JSON cannot carry it exactly and
                # a string round-trip would compare lexicographically
                # ("9" > "10") — silently wrong pruning is worse than none
                raise ValueError(
                    f"stats_cols column {c} has unsupported type {t} "
                    "(numeric-non-decimal, string, date, timestamp only)"
                )
        if nspec:
            files, parts = self._write_partitioned_files(df, 1, nspec)
        else:
            files, parts = self._write_commit_files(df, 1), None
        for c in bloom_cols or []:
            t = df.schema[c].dataType
            if not isinstance(t, (T.StringType, *_INT_TYPES)):
                raise ValueError(
                    f"bloom_cols column {c} has unsupported type {t} "
                    "(string/integer only — the same canonical-string "
                    "scope as the bucket transform)"
                )
        stats = self._collect_stats(
            files, df.schema, stats_cols or [], bloom_cols or []
        )
        return self._commit(
            "create", files, self._nullable(df.schema), None, stats=stats,
            stats_cols=stats_cols or [], info=info,
            partition_spec=nspec, partitions=parts,
            bloom_cols=bloom_cols or [],
        )

    def append(self, df: DataFrame, info: dict | None = None) -> int:
        """New snapshot = parent's files + the appended files. No
        existing file is read or rewritten — O(new data) cost."""
        parent = self._require_current()
        man = self._manifest(parent)
        self._check_schema(df, man)
        self._validate_checks(df, man)
        version = self._next_version(parent)
        spec = man.get("partition_spec") or []
        if spec:
            new_files, new_parts = self._write_partitioned_files(df, version, spec)
        else:
            new_files, new_parts = self._write_commit_files(df, version), None
        stats = dict(man.get("stats") or {})
        stats.update(self._collect_stats(new_files, df.schema, self._stats_cols(man), self._bloom_cols(man)))
        # the TABLE's schema persists — a batch's schema (non-null lit()
        # fields, narrower literal types) must never clobber evolution
        return self._commit(
            "append", man["files"] + new_files,
            T.StructType.fromJson(man["schema"]), parent,
            stats=stats, stats_cols=self._stats_cols(man),
            # pending equality deletes still apply to the OLD files; the
            # appended files carry a higher sequence, so re-inserted keys
            # survive (Iceberg sequence-number semantics)
            delete_files=man.get("delete_files"),
            info=info, partitions=new_parts,
        )

    def overwrite(self, df: DataFrame, info: dict | None = None) -> int:
        """Full logical replace; prior files stay on disk for time
        travel until expired."""
        parent = self._require_current()
        man = self._manifest(parent)
        self._validate_checks(df, man)
        version = self._next_version(parent)
        spec = man.get("partition_spec") or []
        if spec:
            files, parts = self._write_partitioned_files(df, version, spec)
        else:
            files, parts = self._write_commit_files(df, version), None
        stats = self._collect_stats(files, df.schema, self._stats_cols(man), self._bloom_cols(man))
        return self._commit(
            "overwrite", files, self._nullable(df.schema), parent,
            stats=stats, stats_cols=self._stats_cols(man), partitions=parts,
            info=info,
        )

    def delete_where(self, cond: Column) -> int:
        """Copy-on-write delete: rewrite ONLY the files containing rows
        matching ``cond``; every other file is carried by reference.

        The touched-file set is one distinct-aggregate over the matching
        rows' ``input_file_name()`` — cost ∝ matching files, and with a
        partition/sort layout aligned to the predicate (e.g.
        ``zorder_write`` on the filter columns) parquet row-group stats
        keep even the discovery scan pruned."""
        parent = self._require_current()
        man = self._manifest(parent)
        self._require_no_mor(man, "delete_where")
        current = self._read_manifest_files(man)
        tagged = current.withColumn("_file", F.input_file_name())
        touched_abs = {
            urlparse(r["_file"]).path
            for r in tagged.where(cond).select("_file").distinct().collect()
        }
        touched = {self._relativize(p) for p in touched_abs}
        if not touched:
            # nothing matched: still commit a snapshot so the operation
            # is observable + idempotent in the history
            return self._commit(
                "delete", man["files"], current.schema, parent,
                stats=man.get("stats"), stats_cols=self._stats_cols(man),
            )
        version = self._next_version(parent)
        # NULL-safe survivor filter: a row where cond evaluates NULL is
        # not matched (three-valued where(cond) semantics), so it must
        # SURVIVE the rewrite — a bare ~cond is NULL there too and would
        # silently drop it from the touched file
        survivors = (
            self._read_files(sorted(touched), man)
            .where(~F.coalesce(cond, F.lit(False)))
        )
        new_files = self._write_commit_files(survivors, version)
        kept = [f for f in man["files"] if f not in touched]
        stats = dict(man.get("stats") or {})
        stats.update(
            self._collect_stats(new_files, current.schema, self._stats_cols(man), self._bloom_cols(man))
        )
        return self._commit(
            "delete", kept + new_files, current.schema, parent,
            stats=stats, stats_cols=self._stats_cols(man),
        )

    def replace_where(
        self, cond: Column, df: DataFrame, info: dict | None = None
    ) -> int:
        """Atomic restatement (Delta replaceWhere / Iceberg overwrite-
        by-filter): ONE commit that deletes every stored row matching
        ``cond`` and writes ``df``'s rows in their place — the
        idempotent-backfill primitive. Re-running a slice's pipeline
        output commits over the old slice; readers see before or after,
        never a half-replaced state (the pointer flip is the commit
        point), and a re-run of the same replacement converges to the
        same table.

        COW at file granularity like :meth:`delete_where`: only files
        containing matching rows are rewritten (minus those rows);
        untouched files are carried by reference; survivors + the
        replacement rows are the commit's new files, routed through the
        partition spec when the table has one.

        Guard: every ``df`` row must itself satisfy ``cond`` — a
        replacement row OUTSIDE the predicate would not be cleared by
        the next re-run of the same restatement, silently accreting
        duplicates; that is an error, not a policy choice."""
        parent = self._require_current()
        man = self._manifest(parent)
        self._require_no_mor(man, "replace_where")
        self._check_schema(df, man)
        self._validate_checks(df, man)
        n_bad = df.where(~F.coalesce(cond, F.lit(False))).count()
        if n_bad:
            raise ValueError(
                f"replace_where: {n_bad} replacement rows do not satisfy "
                "the predicate — the restatement would not be idempotent"
            )
        current = self._read_manifest_files(man)
        tagged = current.withColumn("_file", F.input_file_name())
        touched_abs = {
            urlparse(r["_file"]).path
            for r in tagged.where(cond).select("_file").distinct().collect()
        }
        touched = {self._relativize(p) for p in touched_abs}
        version = self._next_version(parent)
        survivors = (
            self._read_files(sorted(touched), man)
            .where(~F.coalesce(cond, F.lit(False)))
            if touched
            else None
        )
        combined = df if survivors is None else survivors.unionByName(df)
        spec = man.get("partition_spec") or []
        if spec:
            new_files, parts = self._write_partitioned_files(
                combined, version, spec
            )
        else:
            new_files, parts = self._write_commit_files(combined, version), None
        kept = [f for f in man["files"] if f not in touched]
        schema = T.StructType.fromJson(man["schema"])
        stats = dict(man.get("stats") or {})
        stats.update(self._collect_stats(new_files, schema, self._stats_cols(man), self._bloom_cols(man)))
        return self._commit(
            "replace", kept + new_files, schema, parent,
            stats=stats, stats_cols=self._stats_cols(man),
            info=info, partitions=parts,
        )

    def merge(self, source: DataFrame, key_cols: list[str],
              info: dict | None = None) -> int:
        """MERGE INTO, copy-on-write: rows in ``source`` REPLACE stored
        rows with the same key; source rows with no stored match are
        inserts. Only files that contain a matched key are rewritten;
        every other file is carried into the new snapshot by reference.

        Two set-oriented passes, no driver row loop:

        1. discovery — ``input_file_name()`` + a LEFT SEMI join of the
           current scan against the source's distinct keys, aggregated
           to the distinct touched-file set (cost ∝ one pruned scan of
           key columns; the key side is usually batch-sized, so AQE
           broadcasts it);
        2. rewrite — the touched files' rows ANTI-joined on the key
           (drop the soon-replaced rows) unioned with the full source,
           written as the commit's new files.

        Every row whose key matches the source lives in a touched file
        by construction, so anti-join + union is exactly upsert.
        Key uniqueness within ``source`` and within the table is the
        caller's contract (as in :meth:`diff_versions`); duplicate
        source keys would all land in the new snapshot.

        This is the snapshot-log sibling of
        ``storage.BucketedTable.replace_group`` (bucket-pruned,
        in-place): COW merge costs a rewrite of touched FILES but keeps history, and
        with a key-aligned layout (``zorder_write`` / range partition on
        the key) the touched set stays proportional to the batch's key
        range instead of the whole table."""
        parent = self._require_current()
        man = self._manifest(parent)
        self._require_no_mor(man, "merge")
        self._check_schema(source, man)
        self._validate_checks(source, man)
        current = self._read_manifest_files(man)
        keys = source.select(*key_cols).distinct()
        touched_abs = {
            urlparse(r["_file"]).path
            for r in current.withColumn("_file", F.input_file_name())
            .join(keys, key_cols, "left_semi")
            .select("_file")
            .distinct()
            .collect()
        }
        touched = sorted(self._relativize(p) for p in touched_abs)
        version = self._next_version(parent)
        if touched:
            survivors = self._read_files(touched, man).join(
                keys, key_cols, "left_anti"
            )
            new_content = survivors.unionByName(source)
        else:
            new_content = source
        new_files = self._write_commit_files(new_content, version)
        kept = [f for f in man["files"] if f not in set(touched)]
        stats = dict(man.get("stats") or {})
        stats.update(
            self._collect_stats(new_files, current.schema, self._stats_cols(man), self._bloom_cols(man))
        )
        return self._commit(
            "merge", kept + new_files, current.schema, parent,
            stats=stats, stats_cols=self._stats_cols(man), info=info,
        )

    def read(self, version: int | None = None) -> DataFrame:
        """Scan snapshot ``version`` (default: current). An ordinary
        parquet read of the manifest's file list — pushdown and column
        pruning apply as on any parquet scan. Pending merge-on-read
        equality deletes (:meth:`delete_mor`) are applied with sequence
        semantics; a table with no pending deletes pays nothing."""
        v = version if version is not None else self._require_current()
        man = self._manifest(v)
        return self._apply_mor_deletes(self._read_manifest_files(man), man)

    def count(self, version: int | None = None) -> int:
        """COUNT(*) from manifest metadata when possible — zero scan,
        zero Spark job (Iceberg's stats-only count): the per-file row
        counts recorded by the commit-time stats aggregate are summed
        driver-side. Falls back to a real ``read().count()`` when the
        manifest predates stats collection for some file (an empty file
        writes no aggregate row — absence of a stats entry for a LISTED
        file therefore means "unknown", so only fully-covered manifests
        take the metadata path... except files written before this
        feature, which are also absent) or when merge-on-read deletes
        are pending (the delete join must run to know the count)."""
        v = version if version is not None else self._require_current()
        man = self._manifest(v)
        stats = man.get("stats") or {}
        if not man.get("delete_files"):
            known = [stats[f]["#rows"] for f in man["files"]
                     if f in stats and "#rows" in stats[f]]
            if len(known) == len(man["files"]):
                return sum(known)
        return self._read_manifest_files(man) \
            .count() if not man.get("delete_files") else self.read(v).count()

    def scan(
        self,
        predicates: list[tuple[str, str, object]],
        version: int | None = None,
    ) -> DataFrame:
        """Manifest-pruned scan: drop every file whose recorded
        [min, max] range for a predicate column PROVES the predicate
        can match no row in it, then read the survivors and re-apply
        the full predicate as an ordinary filter.

        ``predicates`` — [(col, op, value)] with op ∈ {<, <=, >, >=, =,
        is_null, is_not_null} (the null tests ignore ``value`` — pass
        None; they prune from the per-file null counts riding the stats
        aggregate), conjunctive. Pruning is sound for any stats state: a file with
        no stats (column not in ``stats_cols``, or an all-null file) is
        kept, and the residual filter makes the result identical to
        ``read().where(...)`` regardless — stats can only save IO.

        This is the manifest tier of the skipping stack: manifest
        min/max (skip whole FILES before the scan is planned) above
        parquet row-group min/max (skip pages inside opened files, cf.
        ``operators.layout.zorder_write`` which clusters values so both
        tiers bite). At 10^12 rows the difference is opening thousands
        of files instead of millions."""
        v = version if version is not None else self._require_current()
        man = self._manifest(v)
        files = self._partition_pruned(
            man, self._pruned_files(man, predicates), predicates
        )
        df = self._apply_mor_deletes(self._read_files(files, man), man)
        for col, op, val in predicates:
            df = df.where(_PRED_OPS[op](F.col(col), F.lit(val)))
        return df

    def incremental_scan(self, v_from: int, v_to: int) -> DataFrame:
        """Rows ADDED between snapshots: read exactly the files each
        commit in ``(v_from, v_to]`` introduced, tagged with a
        ``_commit_version`` column — Iceberg's incremental append scan,
        the natural feed for downstream incremental consumers (the IVM
        operators: ``kn_counts_upsert``, ``minhash_upsert``,
        ``ivf_upsert``, postings MERGE).

        Zero joins, zero diffing: the changelog is the manifest-log
        file-set delta, cost ∝ new data only (contrast
        :meth:`diff_versions`, which earns update/delete rows with a
        full-outer join over both snapshots). Commits other than
        ``append`` in the range raise — a file-set delta cannot see
        rewrites' logical changes, and silently under-reporting would
        corrupt every incremental consumer downstream."""
        if v_to <= v_from or v_from < 0:
            raise ValueError(f"empty incremental range ({v_from}, {v_to}]")
        chain: list[dict] = []  # manifests v_to .. v_from+1, newest first
        man = self._manifest(v_to)
        while True:
            chain.append(man)
            if man["version"] == v_from + 1:
                break
            if man["parent"] is None:
                raise ValueError(
                    f"snapshot v{v_from} is not an ancestor of v{v_to}"
                )
            man = self._manifest(man["parent"])
        # the root `create` commit counts as the appends-only base when
        # the range starts at 0 (scan-from-genesis)
        bad = [
            m["version"]
            for m in chain
            if m["operation"] != "append"
            and not (m["operation"] == "create" and m["parent"] is None)
        ]
        if bad:
            raise ValueError(
                f"incremental scan over non-append commits {sorted(bad)} — "
                "use diff_versions for ranges containing rewrites"
            )
        man_to = chain[0]
        out: DataFrame | None = None
        for m in reversed(chain):
            parent_files: set[str] = (
                set() if m["parent"] is None
                else set(self._manifest(m["parent"])["files"])
            )
            added = [f for f in m["files"] if f not in parent_files]
            part = self._read_files(added, man_to).withColumn(
                "_commit_version", F.lit(m["version"])
            )
            out = part if out is None else out.unionByName(part)
        assert out is not None  # chain is never empty
        return out

    def compact(
        self, small_bytes: int = 32 << 20, target_bytes: int = 128 << 20,
        predicates: list | None = None,
    ) -> int | None:
        """Bin-pack data files smaller than ``small_bytes`` into
        ~``target_bytes`` files; content-identical snapshot, operation
        ``compact``. Returns the new version, or None if fewer than two
        files qualify (nothing to bin-pack — no empty commit).

        Why it exists at 10^12 rows: every append/streaming commit
        dribbles files, and scan cost is dominated by file OPENS once
        files are small (driver planning + footer reads per file), so an
        append-heavy table degrades without a compactor. Only the small
        files are read and rewritten (``coalesce`` — a plan-side fan-in,
        no shuffle); large files are carried by reference, and history
        still sees the pre-compaction snapshots unchanged.

        ``predicates`` (same [(col, op, val)] language as :meth:`scan`)
        scopes the sweep — Delta's ``OPTIMIZE ... WHERE``: only small
        files the stats/partition/bloom tiers CANNOT exclude for the
        predicate are candidates. At 10^12 rows a global sweep is a
        full-table job, but the hot slice (today's partition, one
        tenant's bucket) is where appends dribble — scoping keeps the
        compactor's cost proportional to the slice. Exclusion-based, so
        a file without stats simply stays a candidate (sound: at worst
        we compact more than asked, never corrupt; rewritten files lose
        their partition values by the standing maintenance rule)."""
        parent = self._require_current()
        man = self._manifest(parent)
        self._require_no_mor(man, "compact")
        fs = self._fs()
        candidates = man["files"]
        if predicates:
            candidates = self._partition_pruned(
                man, self._pruned_files(man, predicates), predicates
            )
        sizes = {
            f: fs.getFileStatus(self._jpath(self._absolute(f))).getLen()
            for f in candidates
        }
        small = sorted(f for f, n in sizes.items() if n < small_bytes)
        if len(small) < 2:
            return None
        total = sum(sizes[f] for f in small)
        n_out = max(1, -(-total // target_bytes))
        version = self._next_version(parent)
        packed = self._read_files(small, man).coalesce(int(n_out))
        new_files = self._write_commit_files(packed, version)
        kept = [f for f in man["files"] if f not in set(small)]
        schema = T.StructType.fromJson(man["schema"])
        stats = dict(man.get("stats") or {})
        stats.update(
            self._collect_stats(new_files, schema, self._stats_cols(man), self._bloom_cols(man))
        )
        return self._commit(
            "compact", kept + new_files, schema, parent,
            stats=stats, stats_cols=self._stats_cols(man),
        )

    def rollback(self, version: int) -> int:
        """Append-only rollback: commit a NEW snapshot whose file set
        (and schema) is ``version``'s. History is never rewritten."""
        parent = self._require_current()
        man = self._manifest(version)
        return self._commit(
            "rollback",
            man["files"],
            T.StructType.fromJson(man["schema"]),
            parent,
            stats=man.get("stats"),
            stats_cols=self._stats_cols(man),
            delete_files=man.get("delete_files"),
        )

    # ------------------------------------------------------------ checks
    def _validate_checks(self, df: DataFrame, man: dict) -> None:
        """One aggregate job counting violations of every declared CHECK
        over the rows about to be written. SQL-standard semantics: a
        row passes when the predicate is TRUE **or NULL** (unknown
        passes, as in ANSI CHECK); only IS FALSE is a violation — pinned
        with eqNullSafe so three-valued logic cannot leak rows."""
        checks = man.get("checks") or {}
        if not checks:
            return
        aggs = [
            F.count(
                F.when(F.expr(p).eqNullSafe(F.lit(False)), F.lit(1))
            ).alias(n)
            for n, p in checks.items()
        ]
        row = df.agg(*aggs).collect()[0]
        bad = {n: row[n] for n in checks if row[n] > 0}
        if bad:
            raise ValueError(
                f"CHECK constraint(s) violated by the batch: {bad} "
                "(violation counts; NULL predicates pass per ANSI CHECK)"
            )

    def set_check(self, name: str, predicate: str) -> int:
        """Declare a table-level CHECK constraint (Delta-style): every
        future append/overwrite/merge/replace_where/stage_append batch
        is validated (one aggregate job over the new rows only) and
        refused wholesale on violation — bad rows never become visible,
        and the table version does not advance. Adding a check scans the
        CURRENT table once and refuses if existing data violates it.
        Same-definition re-set is a no-op; redefining needs
        :meth:`drop_check` first."""
        parent = self._require_current()
        man = self._manifest(parent)
        checks = dict(man.get("checks") or {})
        if name in checks:
            if checks[name] == predicate:
                return parent
            raise ValueError(
                f"check {name!r} already defined as {checks[name]!r} — "
                "drop_check first"
            )
        n_bad = self.read().where(
            F.expr(predicate).eqNullSafe(F.lit(False))
        ).count()
        if n_bad:
            raise ValueError(
                f"existing data violates check {name!r} ({n_bad} rows)"
            )
        checks[name] = predicate
        return self._commit(
            "set-check", man["files"],
            T.StructType.fromJson(man["schema"]), parent,
            stats=man.get("stats"), stats_cols=self._stats_cols(man),
            delete_files=man.get("delete_files"), checks=checks,
        )

    def drop_check(self, name: str) -> int:
        parent = self._require_current()
        man = self._manifest(parent)
        checks = dict(man.get("checks") or {})
        if name not in checks:
            raise ValueError(f"unknown check {name!r}")
        del checks[name]
        return self._commit(
            "drop-check", man["files"],
            T.StructType.fromJson(man["schema"]), parent,
            stats=man.get("stats"), stats_cols=self._stats_cols(man),
            delete_files=man.get("delete_files"), checks=checks,
        )

    def drop_column(self, name: str) -> int:
        """Subtractive schema evolution: drop ``name`` from the table's
        declared schema — a metadata-only commit, no file touched. Old
        files still carry the column's bytes; every read projects
        through the DECLARED schema (``_read_files`` passes it to the
        parquet scan), so the column vanishes from current reads while
        time travel to a pre-drop version — whose manifest still
        declares it — keeps reading the original values. Completes the
        evolution set next to :meth:`add_columns` (additive) — rename is
        intentionally unsupported (without Iceberg field ids a rename
        cannot be told apart from drop+add on old files, so it would
        silently null a column's history; drop+add states that
        honestly).

        Refused when: the column is absent, it is the last column, the
        current WRITE partition spec routes by it (evolve the spec
        first), or pending merge-on-read deletes key on it (their
        equality join still needs it — materialize first)."""
        parent = self._require_current()
        man = self._manifest(parent)
        schema = T.StructType.fromJson(man["schema"])
        if name not in schema.fieldNames():
            raise ValueError(f"column {name!r} not in schema")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the last column")
        if any(e[0] == name for e in man.get("partition_spec") or []):
            raise ValueError(
                f"column {name!r} is in the current partition spec — "
                "evolve_partition_spec away from it first"
            )
        import re as _re

        for cn, pred in (man.get("checks") or {}).items():
            if _re.search(rf"\b{_re.escape(name)}\b", pred):
                raise ValueError(
                    f"column {name!r} is referenced by check {cn!r} "
                    f"({pred!r}) — drop_check first"
                )
        for d in man.get("delete_files") or []:
            if name in (d.get("keys") or []):
                raise ValueError(
                    f"pending merge-on-read deletes key on {name!r} — "
                    "materialize_deletes() first"
                )
        new_schema = T.StructType(
            [f for f in schema.fields if f.name != name]
        )
        stats = {
            f: {c: v for c, v in fstats.items() if c != name}
            for f, fstats in (man.get("stats") or {}).items()
        }
        return self._commit(
            "drop-column",
            man["files"],
            new_schema,
            parent,
            stats=stats,
            stats_cols=[c for c in self._stats_cols(man) if c != name],
            delete_files=man.get("delete_files"),
        )

    # ------------------------------------------------------------ tags
    def _read_tags(self) -> dict:
        txt = self._read_text(f"{self.meta_dir}/_tags.json")
        return json.loads(txt) if txt else {}

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin ``name`` to a snapshot (default: current) — Iceberg-style
        immutable tag. Tagged snapshots survive :meth:`expire_snapshots`
        regardless of retention, so a tag is a durability contract for
        audits / eval-set freezes ("the corpus as model X saw it").
        Re-tagging an existing name to a different version is refused
        (tags are immutable); :meth:`untag` first. One JSON write."""
        v = version if version is not None else self._require_current()
        self._manifest(v)  # must exist (and not be expired)
        tags = self._read_tags()
        if name in tags and tags[name] != v:
            raise ValueError(
                f"tag {name!r} already pins v{tags[name]} (tags are "
                "immutable — untag first)"
            )
        tags[name] = v
        self._write_text(f"{self.meta_dir}/_tags.json", json.dumps(tags))
        return v

    def untag(self, name: str) -> None:
        tags = self._read_tags()
        tags.pop(name, None)
        self._write_text(f"{self.meta_dir}/_tags.json", json.dumps(tags))

    def resolve_tag(self, name: str) -> int:
        tags = self._read_tags()
        if name not in tags:
            raise ValueError(f"unknown tag {name!r}")
        return tags[name]

    def evolve_partition_spec(self, spec: list) -> int:
        """Change the table's WRITE partition spec (Iceberg partition
        evolution): a metadata-only commit — no file is read, moved or
        rewritten. Future commits route through the new spec; files
        already written keep their recorded values AND their producing
        spec's registry id, so equality pruning stays sound across
        eras (old-era files prune under the old spec, new-era files
        under the new one, and a predicate on a column only one era
        partitions by simply keeps the other era's files).

        Passing the current spec is a no-op (returns the current
        version, no commit). At 10^12 rows this is the only affordable
        way to change partitioning — a rewrite is a full-table job, an
        evolution is one JSON write."""
        parent = self._require_current()
        man = self._manifest(parent)
        schema = T.StructType.fromJson(man["schema"])
        nspec = _check_partition_spec(spec, schema)
        if nspec == (man.get("partition_spec") or []):
            return parent
        return self._commit(
            "evolve-spec",
            man["files"],
            schema,
            parent,
            stats=man.get("stats"),
            stats_cols=self._stats_cols(man),
            delete_files=man.get("delete_files"),
            partition_spec=nspec,
        )

    def files_df(self, version: int | None = None) -> DataFrame:
        """Iceberg-style ``table.files`` metadata table: one row per
        data file of the snapshot — relative path, introducing commit
        dir, partition-transform values (JSON strings) and recorded
        min/max stats (JSON string). Driver-side manifest JSON only; no
        data file is opened. Bounded by O(n_files), the same budget the
        manifest itself lives under."""
        import json as _json

        v = version if version is not None else self._require_current()
        man = self._manifest(v)
        parts = man.get("partitions") or {}
        stats = man.get("stats") or {}
        fsids = man.get("file_spec_ids") or {}
        rows = [
            (
                f,
                f.split("/")[1] if f.startswith("data/") else None,
                _json.dumps(parts.get(f)) if f in parts else None,
                fsids.get(f, 0) if f in parts else None,
                _json.dumps(stats.get(f)) if f in stats else None,
            )
            for f in man["files"]
        ]
        return self.spark.createDataFrame(
            rows,
            "file string, commit_dir string, partition_values string, "
            "spec_id int, stats string",
        )

    def history(self) -> list[dict]:
        """Newest-first [{version, parent, operation, n_files}] for every
        retained snapshot."""
        out = []
        v = self.current_version()
        seen = set()
        while v is not None and v not in seen:
            seen.add(v)
            try:
                man = self._manifest(v)
            except ValueError:
                break  # expired tail
            out.append(
                {
                    "version": man["version"],
                    "parent": man["parent"],
                    "operation": man["operation"],
                    "n_files": len(man["files"]),
                }
            )
            v = man["parent"]
        return out

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Drop all but the newest ``keep_last`` snapshots' manifests and
        physically delete every data file no retained manifest
        references. Returns {"manifests": n, "files": n} removed."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        current = self._require_current()
        chain = [h["version"] for h in self.history()]
        keep = set(chain[:keep_last])
        keep.add(current)
        # tagged snapshots are retention-exempt (the point of a tag);
        # branch HEADS likewise — a live ref must stay readable and its
        # files stay on disk (older branch commits are ordinary
        # unreferenced history once the ref moves past them)
        keep.update(self._read_tags().values())
        keep.update(self._read_branches().values())
        live: set[str] = set()
        for v in keep:
            m = self._manifest(v)
            live.update(m["files"])
            live.update(d["file"] for d in m.get("delete_files") or [])
        fs = self._fs()
        n_manifests = n_files = 0
        # drop unreferenced manifests (pre-keep chain + orphans from
        # crashed commits) — EXCEPT staged write-audit-publish commits:
        # a staged manifest is pending work whose lifecycle belongs to
        # publish()/abort_staged() (the _commit collision error says
        # exactly that), so a routine retention sweep must neither
        # delete it nor GC its data files out from under the audit
        staged: list[int] = []
        it = fs.listStatus(self._jpath(self.meta_dir))
        for st in it:
            name = st.getPath().getName()
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            v = int(name[1:-5])
            if v in keep:
                continue
            if json.loads(self._read_text(f"{self.meta_dir}/{name}") or "{}").get("staged"):
                staged.append(v)
                continue
            fs.delete(st.getPath(), False)
            n_manifests += 1
        for v in staged:
            m = self._manifest(v)
            live.update(m["files"])
            live.update(d["file"] for d in m.get("delete_files") or [])
        for rel in self._list_parquet(self.data_dir):
            if rel not in live:
                fs.delete(self._jpath(self._absolute(rel)), False)
                n_files += 1
        return {"manifests": n_manifests, "files": n_files}

    def remove_orphans(self) -> dict:
        """Delete data files referenced by NO manifest — crashed-write
        debris GC (Iceberg's ``remove_orphan_files``). Every manifest
        on disk protects its files: the live chain, tagged and branch
        snapshots, AND staged write-audit-publish commits (pending work
        is not debris). Unlike :meth:`expire_snapshots`, no history is
        dropped — every snapshot stays readable afterwards, and
        referenced files are never touched (byte-identity is
        pytest-asserted). Returns ``{"files": n_removed}``.

        A production variant adds an age threshold so the sweep cannot
        race a writer whose manifest is not yet committed; this table's
        single-writer commit fence makes that window empty here."""
        self._require_current()
        fs = self._fs()
        live: set[str] = set()
        it = fs.listStatus(self._jpath(self.meta_dir))
        for st in it:
            name = st.getPath().getName()
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            m = self._manifest(int(name[1:-5]))
            live.update(m["files"])
            live.update(d["file"] for d in m.get("delete_files") or [])
        n_files = 0
        for rel in self._list_parquet(self.data_dir):
            if rel not in live:
                fs.delete(self._jpath(self._absolute(rel)), False)
                n_files += 1
        return {"files": n_files}

    def diff_versions(
        self, v_old: int, v_new: int, key_cols: list[str]
    ) -> DataFrame:
        """Change-data-capture between two snapshots: one full-outer
        join on ``key_cols`` comparing a non-key row digest. Output:
        the key columns + ``op`` ∈ {insert, delete, update} (unchanged
        rows are absent). Mirrors Iceberg's changelog read, derived
        purely from the two manifests' file sets — files shared by both
        snapshots COULD be skipped entirely (their rows can only
        compare equal); kept simple here since the join already prunes
        to key+digest columns.

        Key uniqueness per snapshot is the caller's contract (validate
        with ``operators.profile.validate_table(unique=...)``); under
        duplicate keys a full-outer join would fan out."""
        old_df, new_df = self.read(v_old), self.read(v_new)
        val_cols = [c for c in new_df.columns if c not in key_cols]
        if [c for c in old_df.columns] != [c for c in new_df.columns]:
            raise ValueError("diff_versions requires matching schemas")

        def digested(df: DataFrame, tag: str) -> DataFrame:
            dg = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in val_cols]))
            return df.select(*key_cols, dg.alias(f"_dg_{tag}"))

        j = digested(old_df, "o").join(
            digested(new_df, "n"), list(key_cols), "full_outer"
        )
        op = (
            F.when(F.col("_dg_o").isNull(), F.lit("insert"))
            .when(F.col("_dg_n").isNull(), F.lit("delete"))
            .when(F.col("_dg_o") != F.col("_dg_n"), F.lit("update"))
        )
        return (
            j.select(*key_cols, op.alias("op"))
            .where(F.col("op").isNotNull())
        )


    # ------------------------------------------------------ merge-on-read
    def delete_mor(self, keys: DataFrame, info: dict | None = None) -> int:
        """Merge-on-read EQUALITY DELETE (Iceberg v2 MOR mode): record
        the keys to delete as a delete file; no data file is read or
        rewritten — commit cost O(batch), vs :meth:`delete_where`'s COW
        rewrite of every touched file. Readers apply pending deletes as
        one aggregate + one join (see ``_apply_mor_deletes``); at
        10^12 rows this is THE viable shape for high-churn deletes
        (GDPR erasure, retraction feeds), with :meth:`materialize_deletes`
        as the amortizer that folds accumulated delete files back into
        COW when read overhead grows.

        ``keys``'s columns must be a subset of the table schema; a
        stored row is deleted iff its values equal some key row AND its
        data file's sequence (the ``data/c<v>/`` commit number) is at or
        below this delete's commit — so keys re-inserted by LATER
        appends survive, exactly Iceberg's sequence-number rule."""
        parent = self._require_current()
        man = self._manifest(parent)
        stored = T.StructType.fromJson(man["schema"])
        for c in keys.columns:
            if c not in stored.fieldNames():
                raise ValueError(f"delete key column {c} not in table schema")
        version = self._next_version(parent)
        self._check_version_free(version)
        ddir = f"{self.data_dir}/c{version}"
        keys.write.mode("error").parquet(ddir)
        new_delete_files = [
            {"file": f, "keys": list(keys.columns), "seq": version}
            for f in self._list_parquet(ddir)
        ]
        return self._commit(
            "delete-mor", man["files"], stored, parent,
            stats=man.get("stats"), stats_cols=self._stats_cols(man),
            delete_files=(man.get("delete_files") or []) + new_delete_files,
            info=info,
        )

    def materialize_deletes(self) -> int | None:
        """Fold pending equality-delete files into copy-on-write: rewrite
        ONLY the files that contain affected rows, carry the rest, clear
        the delete list. Returns the new version, or None when no
        deletes are pending. This is Iceberg's
        ``rewrite_position_delete_files``/compaction step — the read-
        amplification amortizer run on a maintenance cadence."""
        parent = self._require_current()
        man = self._manifest(parent)
        if not man.get("delete_files"):
            return None
        raw = self._read_manifest_files(man).withColumn(
            "_file", F.input_file_name()
        )
        doomed = self._mor_doomed(raw, man)
        touched_abs = {
            urlparse(r["_file"]).path
            for r in doomed.select("_file").distinct().collect()
        }
        touched = sorted(self._relativize(pth) for pth in touched_abs)
        version = self._next_version(parent)
        stored = T.StructType.fromJson(man["schema"])
        if not touched:
            # deletes matched nothing: just clear them
            return self._commit(
                "materialize-deletes", man["files"], stored, parent,
                stats=man.get("stats"), stats_cols=self._stats_cols(man),
            )
        survivors = self._apply_mor_deletes(
            self._read_files(touched, man), man
        )
        new_files = self._write_commit_files(survivors, version)
        kept = [f for f in man["files"] if f not in set(touched)]
        stats = dict(man.get("stats") or {})
        stats.update(self._collect_stats(new_files, stored, self._stats_cols(man), self._bloom_cols(man)))
        return self._commit(
            "materialize-deletes", kept + new_files, stored, parent,
            stats=stats, stats_cols=self._stats_cols(man),
        )

    def optimize_zorder(
        self, cols: list[str], n_files: int = 64, bits: int = 16,
        incremental: bool = False,
    ) -> int | None:
        """OPTIMIZE ZORDER BY: rewrite the table's files clustered along
        the Morton curve of ``cols`` (operators.layout.zvalue_col — pure
        unrolled shift/or arithmetic, whole-stage codegen), as a
        content-identical commit. After it, the per-file min/max stats
        recorded for THIS commit cover compact hyper-rectangles of the
        value space, so :meth:`scan` prunes files on EVERY clustered
        column at once — the manifest tier and the parquet row-group
        tier both bite. This is the layout half of the skipping stack
        (Delta/Iceberg ``OPTIMIZE ZORDER BY`` parity); one range
        shuffle, the same budget as any clustered write.

        ``incremental=True`` rewrites ONLY the files added since the
        last optimize-zorder commit (Iceberg's incremental
        ``rewrite_data_files``): cost ∝ new data, at the price of one
        extra clustered file GROUP per maintenance cycle instead of one
        globally-clustered set — every file still covers a compact
        hyper-rectangle (its stats are its own), so manifest pruning
        stays exactly as sound, merely with more surviving files per
        predicate until the next full rewrite. Returns None if there is
        nothing new to rewrite. The tail's Morton bounds come from the
        tail itself (each commit's stats are per-file recomputed —
        soundness never depends on shared bounds)."""
        from .operators.layout import scaled_col_from_bounds, zvalue_col

        parent = self._require_current()
        man = self._manifest(parent)
        self._require_no_mor(man, "optimize_zorder")
        keep: list[str] = []
        if incremental:
            # files already clustered = those present at the last
            # optimize-zorder commit (walk the chain)
            v = parent
            baseline: set[str] = set()
            while v is not None:
                try:
                    m = self._manifest(v)
                except ValueError:
                    break  # expired tail: no optimize in retained
                    # history -> empty baseline = full rewrite (safe)
                if m["operation"] == "optimize-zorder":
                    baseline = set(m["files"])
                    break
                v = m["parent"]
            tail = [f for f in man["files"] if f not in baseline]
            keep = [f for f in man["files"] if f in baseline]
            if not tail:
                return None
            df = self._read_files(tail, man)
        else:
            df = self._read_manifest_files(man)
        aggs = []
        for c in cols:
            aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
        row = df.agg(*aggs).first()
        if any(row[f"_lo_{c}"] is None for c in cols):
            raise ValueError("optimize_zorder on an empty table (or all-null key)")
        z = zvalue_col(
            [
                scaled_col_from_bounds(
                    c, float(row[f"_lo_{c}"]), float(row[f"_hi_{c}"]), bits
                )
                for c in cols
            ],
            bits=bits,
        )
        packed = (
            df.withColumn("_z", z)
            .repartitionByRange(n_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
        version = self._next_version(parent)
        new_files = self._write_commit_files(packed, version)
        schema = T.StructType.fromJson(man["schema"])
        stats = {f: v for f, v in (man.get("stats") or {}).items() if f in set(keep)}
        stats.update(self._collect_stats(new_files, schema, self._stats_cols(man), self._bloom_cols(man)))
        return self._commit(
            "optimize-zorder", keep + new_files, schema, parent,
            stats=stats, stats_cols=self._stats_cols(man),
        )

    def maintain(
        self,
        small_bytes: int = 32 << 20,
        target_bytes: int = 128 << 20,
        max_small_files: int = 8,
        max_delete_files: int = 4,
        keep_snapshots: int = 10,
    ) -> dict:
        """One maintenance sweep with the standard policy, in dependency
        order: (1) materialize pending equality deletes once the delete-
        file count exceeds ``max_delete_files`` (read amplification is
        one join per key-set, but every reader pays it every scan);
        (2) bin-pack once more than ``max_small_files`` files sit under
        ``small_bytes`` (compact refuses over pending deletes — hence
        the ordering); (3) expire history beyond ``keep_snapshots``.
        Each step is itself a no-op when below threshold, so running
        this on a cron/foreachBatch cadence is idempotent and cheap —
        the streaming-sink companion that keeps a 10^12-row append-heavy
        table scannable. Returns {materialized, compacted, expired}."""
        out: dict = {"materialized": None, "compacted": None, "expired": None}
        man = self._manifest(self._require_current())
        if len(man.get("delete_files") or []) > max_delete_files:
            out["materialized"] = self.materialize_deletes()
            man = self._manifest(self._require_current())
        if not man.get("delete_files"):
            fs = self._fs()
            n_small = sum(
                1
                for f in man["files"]
                if fs.getFileStatus(self._jpath(self._absolute(f))).getLen()
                < small_bytes
            )
            if n_small > max_small_files:
                out["compacted"] = self.compact(
                    small_bytes=small_bytes, target_bytes=target_bytes
                )
        if len(self.history()) > keep_snapshots:
            out["expired"] = self.expire_snapshots(keep_last=keep_snapshots)
        return out

    # ------------------------------------------------------ write-audit-publish
    def stage_append(self, df: DataFrame) -> int:
        """Write-audit-publish, stage step: write the append's files AND
        manifest but do NOT move ``_current`` — readers still see the
        parent snapshot. Audit the staged version with
        ``read(version=v)`` (e.g. ``operators.profile.validate_table``),
        then :meth:`publish` it or :meth:`abort_staged` it. The WAP
        pattern every production ingest wants: bad batches never become
        visible, and the audit runs against exactly the bytes that will
        be published, not a copy."""
        parent = self._require_current()
        man = self._manifest(parent)
        self._check_schema(df, man)
        self._validate_checks(df, man)
        version = self._next_version(parent)
        new_files = self._write_commit_files(df, version)
        stats = dict(man.get("stats") or {})
        stats.update(self._collect_stats(new_files, df.schema, self._stats_cols(man), self._bloom_cols(man)))
        return self._commit(
            "append", man["files"] + new_files,
            T.StructType.fromJson(man["schema"]), parent,
            stats=stats, stats_cols=self._stats_cols(man),
            delete_files=man.get("delete_files"),
            publish=False,
        )

    def publish(self, version: int) -> int:
        """Flip ``_current`` to a staged snapshot. Refuses when the
        table advanced since staging (parent mismatch) — re-stage on
        top of the new current instead of silently dropping commits."""
        man = self._manifest(version)
        if not man.get("staged"):
            raise ValueError(f"snapshot v{version} is not a staged commit")
        cur = self._require_current()
        if man["parent"] != cur:
            raise ValueError(
                f"staged v{version} was built on v{man['parent']} but the "
                f"table is now at v{cur} — abort and re-stage"
            )
        man.pop("staged")
        self._write_text(f"{self.meta_dir}/v{version}.json", json.dumps(man))
        self._write_text(f"{self.meta_dir}/{CURRENT_PTR}", str(version))
        return version

    def abort_staged(self, version: int) -> None:
        """Drop a staged snapshot: its manifest and the files it added
        (files carried from the parent are untouched)."""
        man = self._manifest(version)
        if not man.get("staged"):
            raise ValueError(f"snapshot v{version} is not a staged commit")
        fs = self._fs()
        # a commit's new files all live in its own data/c<version>/ dir
        # (and the parent can never reference it) — drop the whole dir so
        # the version number is reusable by the next commit
        cdir = self._jpath(f"{self.data_dir}/c{version}")
        if fs.exists(cdir):
            fs.delete(cdir, True)
        fs.delete(self._jpath(f"{self.meta_dir}/v{version}.json"), False)

    # ------------------------------------------------------ schema evolution
    def add_columns(self, fields: list[T.StructField]) -> int:
        """Additive schema evolution: commit a new schema = old + the
        given NULLABLE fields; zero data movement — old files read as
        NULL for the new columns (Spark fills schema-absent parquet
        columns), new appends must carry them. Only addition is offered:
        this log resolves columns by NAME, so renames/drops would
        corrupt old files' reads (Iceberg does those via field IDs —
        out of scope for a plain-parquet log, and stated so)."""
        parent = self._require_current()
        man = self._manifest(parent)
        stored = T.StructType.fromJson(man["schema"])
        for f in fields:
            if f.name in stored.fieldNames():
                raise ValueError(f"column {f.name} already exists")
            if not f.nullable:
                raise ValueError(
                    f"new column {f.name} must be nullable — existing "
                    "files have no values for it"
                )
        new_schema = T.StructType(list(stored.fields) + list(fields))
        return self._commit(
            "evolve", man["files"], new_schema, parent,
            stats=man.get("stats"), stats_cols=self._stats_cols(man),
            delete_files=man.get("delete_files"),
        )

    # ------------------------------------------------------------ helpers

    @staticmethod
    def _file_seq(rel_or_input: "Column") -> "Column":
        """Commit sequence of a data file, parsed from its immutable
        ``data/c<version>/`` path segment. Hidden-partitioned commits
        nest ``_pk<i>=<value>/`` dirs between the commit dir and the
        file, so the pattern admits any run of ``key=value`` segments
        there — while still anchoring to the END of the path, which
        keeps a ``data/cN`` elsewhere in the table root harmless."""
        return F.regexp_extract(
            rel_or_input, r"/data/c(\d+)/(?:[^/]+=[^/]*/)*[^/]+$", 1
        ).cast("int")

    def _require_no_mor(self, man: dict, op: str) -> None:
        if man.get("delete_files"):
            raise ValueError(
                f"{op} cannot run with pending merge-on-read deletes "
                "(a raw file rewrite would resurrect deleted rows) — "
                "materialize_deletes() first"
            )

    def _mor_doomed(self, raw: DataFrame, man: dict) -> DataFrame:
        """Rows of ``raw`` (which must carry every key column) that a
        pending equality delete eliminates."""
        flagged = self._mor_flagged(raw, man)
        return flagged.where(F.col("_mor_del")).drop("_mor_del", "_data_seq")

    def _apply_mor_deletes(self, df: DataFrame, man: dict) -> DataFrame:
        dels = man.get("delete_files") or []
        if not dels:
            return df
        flagged = self._mor_flagged(df, man)
        return flagged.where(~F.col("_mor_del")).drop("_mor_del", "_data_seq")

    def _mor_flagged(self, df: DataFrame, man: dict) -> DataFrame:
        """Add ``_mor_del`` (bool): one grouped aggregate per distinct
        key-column set (usually exactly one) + one left join each. The
        delete side is batch-sized → AQE broadcasts it; the scan side
        never shuffles."""
        dels = man.get("delete_files") or []
        out = df.withColumn("_data_seq", self._file_seq(F.input_file_name()))
        groups: dict[tuple, list[dict]] = {}
        for d in dels:
            groups.setdefault(tuple(d["keys"]), []).append(d)
        for i, (keys, entries) in enumerate(sorted(groups.items())):
            frames = None
            for e in entries:
                kd = self.spark.read.parquet(self._absolute(e["file"]))
                kd = kd.withColumn("_dseq", F.lit(int(e["seq"])))
                frames = kd if frames is None else frames.unionByName(kd)
            agg = frames.groupBy(*keys).agg(F.max("_dseq").alias(f"_dseq_{i}"))
            out = out.join(agg, list(keys), "left")
            out = out.withColumn(f"_hit_{i}", F.coalesce(
                F.col(f"_dseq_{i}") >= F.col("_data_seq"), F.lit(False)
            )).drop(f"_dseq_{i}")
        hit_cols = [F.col(f"_hit_{i}") for i in range(len(groups))]
        flag = hit_cols[0] if len(hit_cols) == 1 else F.greatest(*hit_cols)
        out = out.withColumn("_mor_del", flag)
        for i in range(len(groups)):
            out = out.drop(f"_hit_{i}")
        return out

    @staticmethod
    def _nullable(schema: T.StructType) -> T.StructType:
        """The log treats EVERY column as nullable (Iceberg-style): a
        batch built from lit()/range() carries non-null fields, but the
        persisted schema must admit null-filled reads of pre-evolution
        files and Arrow readers honor nullability strictly."""
        return T.StructType(
            [T.StructField(f.name, f.dataType, True, f.metadata)
             for f in schema.fields]
        )

    @staticmethod
    def _bloom_cols(man: dict) -> list[str]:
        return man.get("bloom_cols") or []

    @staticmethod
    def _stats_cols(man: dict) -> list[str]:
        return man.get("stats_cols") or []

    def _collect_stats(
        self, files: list[str], schema: T.StructType, stats_cols: list[str],
        bloom_cols: list[str] | None = None,
    ) -> dict:
        """Per-file min/max for ``stats_cols`` over just-written files:
        one grouped aggregate keyed by ``input_file_name()``. The scan
        is column-pruned to the stats columns, so the read-back costs a
        fraction of the write it follows. (A production build would
        lift these from the parquet footers the writer already
        produced; an explicit aggregate keeps this engine-portable and
        exactly as correct.) A per-file row count rides the same
        aggregate under the reserved key ``#rows`` — the input to
        metadata-only :meth:`count`. Tables WITHOUT stats_cols skip the
        read-back entirely (no extra job on the streaming-sink hot
        path); their count() takes the real-scan fallback. When the
        table declares ``bloom_cols``, two collect_set aggregates per
        column ride the SAME job and land as an 8192-bit hex bitmap
        under the reserved ``#bloom:<col>`` stats key — a 1 KiB/file
        single-filter Bloom (k=2 md5-derived hashes) that lets equality
        predicates prune files min/max never can (hash-scattered
        columns whose per-file range covers everything). Saturates —
        honestly, to "no pruning", never to wrong pruning — above a
        few thousand distinct values per file."""
        bloom_cols = bloom_cols or []
        if (not stats_cols and not bloom_cols) or not files:
            return {}
        df = self.spark.read.schema(schema).parquet(
            *[self._absolute(f) for f in files]
        )
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in stats_cols:
            aggs += [
                F.min(c).alias(f"_mn_{c}"),
                F.max(c).alias(f"_mx_{c}"),
                F.count(F.when(F.col(c).isNull(), F.lit(1))).alias(f"_nl_{c}"),
            ]
        for c in bloom_cols:
            h1, h2 = _bloom_hash_cols(F.col(c))
            aggs += [
                F.collect_set(h1).alias(f"_b1_{c}"),
                F.collect_set(h2).alias(f"_b2_{c}"),
            ]
        rows = df.groupBy(F.input_file_name().alias("_f")).agg(*aggs).collect()
        out = {}
        for r in rows:
            rel = self._relativize(urlparse(r["_f"]).path)
            st = {
                c: [_stat_scalar(r[f"_mn_{c}"]), _stat_scalar(r[f"_mx_{c}"])]
                for c in stats_cols
            }
            for c in stats_cols:
                st[f"#nulls:{c}"] = int(r[f"_nl_{c}"])
            for c in bloom_cols:
                bits = 0
                for p in list(r[f"_b1_{c}"]) + list(r[f"_b2_{c}"]):
                    bits |= 1 << p
                # hex bitmap under a reserved key — '#' can never collide
                # with a column name the min/max lookup would consult
                st[f"#bloom:{c}"] = format(bits, "x")
            st["#rows"] = int(r["_n"])
            out[rel] = st
        return out

    def _pruned_files(
        self, man: dict, predicates: list[tuple[str, str, object]]
    ) -> list[str]:
        """Manifest file list minus files whose stats refute a
        predicate. Files without a stats entry for the column survive."""
        stats = man.get("stats") or {}
        out = []
        for f in man["files"]:
            fstats = stats.get(f) or {}
            keep = True
            for col, op, val in predicates:
                if op not in _PRED_OPS:
                    raise ValueError(f"unknown predicate op {op!r}")
                if op in ("is_null", "is_not_null"):
                    # null-count tier: prune when the recorded count
                    # PROVES no row can match; absent counts (older
                    # manifests, rewritten files) keep the file
                    nls = fstats.get(f"#nulls:{col}")
                    nrows = fstats.get("#rows")
                    if nls is not None:
                        if op == "is_null" and nls == 0:
                            keep = False
                            break
                        if (op == "is_not_null" and nrows is not None
                                and nls == nrows):
                            keep = False
                            break
                    continue
                rng = fstats.get(col)
                if rng is not None and not _range_may_match(rng[0], rng[1], op, val):
                    keep = False
                    break
                bh = fstats.get(f"#bloom:{col}") if op == "=" else None
                if bh is not None:
                    hv = _bloom_hash_value(val)
                    if hv is not None:
                        bits = int(bh, 16)
                        if not ((bits >> hv[0]) & 1 and (bits >> hv[1]) & 1):
                            keep = False
                            break
            if keep:
                out.append(f)
        return out

    def _partition_pruned(
        self, man: dict, files: list[str],
        predicates: list[tuple[str, str, object]],
    ) -> list[str]:
        """Hidden-partition pruning tier: drop a file when an EQUALITY
        predicate's transformed value differs from the file's recorded
        transform value. Sound by construction: only '=' participates,
        only transforms with a driver-side twin prune, files without
        recorded values (pre-spec or maintenance-rewritten) and null
        partition values always survive, and :meth:`scan` re-applies
        the full predicate afterwards."""
        spec = man.get("partition_spec") or []
        parts = man.get("partitions") or {}
        registry = man.get("spec_registry") or ([spec] if spec else [])
        fsids = man.get("file_spec_ids") or {}
        if not registry:
            return files
        # (spec index, wanted value) per prunable predicate, computed
        # PER SPEC — after evolution a file's positional values only
        # mean anything under the spec that wrote them
        wants_by_sid: list[list[tuple[int, str]]] = []
        for sp in registry:
            wants: list[tuple[int, str]] = []
            for col, op, val in predicates:
                if op != "=":
                    continue
                for i, entry in enumerate(sp):
                    if entry[0] == col:
                        w = _transform_value(entry, val)
                        if w is not None:
                            wants.append((i, w))
            wants_by_sid.append(wants)
        if not any(wants_by_sid):
            return files
        out = []
        for f in files:
            vals = parts.get(f)
            if vals is None:
                out.append(f)
                continue
            sid = fsids.get(f, 0)
            if not 0 <= sid < len(registry):
                out.append(f)  # unknown era: never prune
                continue
            if all(
                i >= len(vals) or vals[i] is None or vals[i] == w
                for i, w in wants_by_sid[sid]
            ):
                out.append(f)
        return out

    def _collect_fences(self, parent: int | None) -> dict:
        """Newest streaming batch fence per channel as of ``parent``:
        the parent's forward-propagated map when present, else (legacy
        manifests) a one-time walk collecting the first fence seen per
        channel, tolerant of expired tails."""
        if parent is None:
            return {}
        try:
            man = self._manifest(parent)
        except ValueError:
            return {}
        if "fences" in man:
            return dict(man["fences"] or {})
        fences: dict = {}
        v, seen = parent, set()
        while v is not None and v not in seen:
            seen.add(v)
            try:
                m = self._manifest(v)
            except ValueError:
                break
            info = m.get("info") or {}
            bid = info.get("batch_id")
            if bid is not None:
                fences.setdefault(str(info.get("channel", "default")), int(bid))
            v = m["parent"]
        return fences

    def _require_current(self) -> int:
        v = self.current_version()
        if v is None:
            raise ValueError(f"table {self.path} does not exist (create first)")
        return v

    def _check_schema(self, df: DataFrame, man: dict) -> None:
        stored = T.StructType.fromJson(man["schema"])
        if [f.name for f in df.schema.fields] != [f.name for f in stored.fields]:
            raise ValueError(
                f"append schema {df.schema.fieldNames()} does not match "
                f"table schema {stored.fieldNames()}"
            )

    def _read_manifest_files(self, man: dict) -> DataFrame:
        return self._read_files(man["files"], man)

    def _read_files(self, files: list[str], man: dict) -> DataFrame:
        schema = T.StructType.fromJson(man["schema"])
        if not files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *[self._absolute(f) for f in files]
        )

    # ------------------------------------------------------------ branches

    def _read_branches(self) -> dict:
        txt = self._read_text(f"{self.meta_dir}/_branches.json")
        return json.loads(txt) if txt else {}

    def _max_version(self) -> int:
        """Highest manifest version on disk — branch commits number from
        here so two refs never collide on the shared integer space."""
        mx = 0
        for st in self._fs().listStatus(self._jpath(self.meta_dir)):
            name = st.getPath().getName()
            if name.startswith("v") and name.endswith(".json"):
                mx = max(mx, int(name[1:-5]))
        return mx

    def branch_create(self, name: str, version: int | None = None) -> int:
        """Create a writable branch ref at ``version`` (default: the
        current snapshot) — Iceberg-style branching: the ref names a
        snapshot, :meth:`branch_append` advances it along its own
        commit chain, and main never sees branch work until
        :meth:`fast_forward`. The per-experiment / WAP-at-scale tool:
        stage a whole multi-commit ingest on a branch, audit the branch
        head, fast-forward main in one pointer move.

        Unlike tags (immutable pins), branches move; like tags, a
        branch head is retention-exempt in :meth:`expire_snapshots`.
        'main' is reserved (it is the ``_current`` pointer itself)."""
        if name == "main":
            raise ValueError("'main' is the table's current pointer itself")
        v = version if version is not None else self._require_current()
        self._manifest(v)
        refs = self._read_branches()
        if name in refs:
            raise ValueError(
                f"branch {name!r} already at v{refs[name]} — delete it first"
            )
        refs[name] = v
        self._write_text(f"{self.meta_dir}/_branches.json", json.dumps(refs))
        return v

    def resolve_branch(self, name: str) -> int:
        if name == "main":
            return self._require_current()
        refs = self._read_branches()
        if name not in refs:
            raise ValueError(f"unknown branch {name!r}")
        return refs[name]

    def branch_delete(self, name: str) -> None:
        """Drop the ref; the branch's manifests/files become ordinary
        unreferenced history (GC'd by the next retention sweep)."""
        if name == "main":
            raise ValueError("'main' cannot be deleted")
        refs = self._read_branches()
        refs.pop(name, None)
        self._write_text(f"{self.meta_dir}/_branches.json", json.dumps(refs))

    def read_branch(self, name: str) -> DataFrame:
        return self.read(version=self.resolve_branch(name))

    def branch_append(self, name: str, df: DataFrame,
                      info: dict | None = None) -> int:
        """Append on the BRANCH head: new snapshot = branch head's files
        + the new files, numbered past every existing manifest, ref
        advanced, ``_current`` untouched. Schema/checks/partition-spec
        are enforced against the branch head exactly as :meth:`append`
        enforces them against main."""
        head = self.resolve_branch(name)
        man = self._manifest(head)
        self._check_schema(df, man)
        self._validate_checks(df, man)
        version = self._max_version() + 1
        spec = man.get("partition_spec") or []
        if spec:
            new_files, new_parts = self._write_partitioned_files(df, version, spec)
        else:
            new_files, new_parts = self._write_commit_files(df, version), None
        stats = dict(man.get("stats") or {})
        stats.update(self._collect_stats(
            new_files, df.schema, self._stats_cols(man), self._bloom_cols(man)
        ))
        return self._commit(
            "branch_append", man["files"] + new_files,
            T.StructType.fromJson(man["schema"]), head,
            stats=stats, stats_cols=self._stats_cols(man),
            delete_files=man.get("delete_files"),
            info=info, partitions=new_parts,
            version=version, branch=name,
        )

    def fast_forward(self, name: str) -> int:
        """Move main (``_current``) to the branch head — allowed ONLY
        when the branch head is a DESCENDANT of the current snapshot
        (walk the parent chain from head to current), i.e. main has not
        advanced since the branch was cut. A diverged branch is
        refused: silently adopting it would drop main's commits —
        rebase by replaying the branch's changes on a fresh branch
        instead. One pointer write; no data moves."""
        head = self.resolve_branch(name)
        cur = self._require_current()
        v = head
        while v is not None and v != cur:
            v = self._manifest(v).get("parent")
        if v != cur:
            raise ValueError(
                f"branch {name!r} (v{head}) does not descend from the "
                f"current v{cur} — main advanced since the branch was cut"
            )
        self._write_text(f"{self.meta_dir}/{CURRENT_PTR}", str(head))
        return head

    def _next_version(self, parent: int | None) -> int:
        """Next main-chain version: parent + 1, stepping over numbers a
        BRANCH commit owns (the shared integer space means a branch at
        v4 must not block main's next commit — main takes v5). A
        non-branch occupant (pending staged commit / concurrent writer)
        is NOT skipped: _check_version_free keeps failing loudly there,
        exactly as before branches existed."""
        v = (parent or 0) + 1
        while True:
            txt = self._read_text(f"{self.meta_dir}/v{v}.json")
            if txt is None or not json.loads(txt).get("branch"):
                return v
            v += 1

    # ------------------------------------------------ aggregate pushdown

    def agg_from_stats(
        self, cols: list[str], version: int | None = None
    ) -> dict:
        """Metadata-only aggregates — Iceberg's aggregate PUSHDOWN tier:
        ``{"n_rows": N, "<col>": {"min": m, "max": M, "n_nulls": k}}``
        computed entirely from the manifest's per-file stats. Zero data
        scan, zero Spark job: a 100 TB table answers its dashboard
        min/max/count in one driver-side JSON walk.

        min/max over files composes because per-file min/max IGNORE
        nulls (SQL semantics) and every live file contributes its
        recorded envelope; an all-null file carries [null, null] and is
        skipped for min/max while its ``#nulls`` still counts. Dates /
        timestamps come back as their recorded ISO strings (ordering-
        faithful per ``_stat_scalar``).

        Strict, never silently wrong — raises when the metadata cannot
        prove the answer: pending merge-on-read deletes (the delete
        join must run), a column outside the table's declared
        ``stats_cols``, or any live file lacking its stats entry (a
        pre-stats legacy file, or an all-empty write). The caller's
        fallback is the real aggregate over :meth:`read` — identical
        semantics, data-priced."""
        v = version if version is not None else self._require_current()
        man = self._manifest(v)
        if man.get("delete_files"):
            raise ValueError(
                "aggregate pushdown with pending MOR deletes would "
                "overcount — materialize_deletes() first"
            )
        declared = self._stats_cols(man)
        for c in cols:
            if c not in declared:
                raise ValueError(
                    f"column {c!r} is not in stats_cols {declared} — no "
                    "recorded envelope to aggregate"
                )
        stats = man.get("stats") or {}
        for f in man["files"]:
            if f not in stats or "#rows" not in stats[f]:
                raise ValueError(
                    f"file {f} has no stats entry — metadata cannot "
                    "prove the aggregate (fall back to read())"
                )
        out: dict = {"n_rows": sum(stats[f]["#rows"] for f in man["files"])}
        for c in cols:
            mins = [stats[f][c][0] for f in man["files"] if stats[f][c][0] is not None]
            maxs = [stats[f][c][1] for f in man["files"] if stats[f][c][1] is not None]
            out[c] = {
                "min": min(mins) if mins else None,
                "max": max(maxs) if maxs else None,
                "n_nulls": sum(
                    int(stats[f].get(f"#nulls:{c}", 0)) for f in man["files"]
                ),
            }
        return out


class MultiTableCatalog:
    """ATOMIC MULTI-TABLE TRANSACTIONS over :class:`SnapshotTable`s —
    the cross-table consistency tier (Iceberg REST-catalog / Nessie
    multi-table commit concept): an extraction run that must flip
    ``docs`` + ``term_postings`` + ``extracted_spans`` TOGETHER gets
    one commit point instead of three.

    Mechanism: the catalog is itself a tiny versioned log — manifest
    ``c<N>.json`` maps table name → (path, pinned version), and the
    ``_current`` pointer flip is the single atomic commit point.
    Readers that resolve through :meth:`read` see every table at its
    pinned version, so a transaction is visible all-or-nothing
    REGARDLESS of the member tables' own pointer states. The commit
    protocol rides the tables' existing WAP machinery:

      1. stage each table's change (``stage_append`` or any
         ``publish=False`` commit) — data + manifests durable,
         invisible;
      2. :meth:`commit_txn` validates every staged version's parent
         against the CATALOG's pins (a member advanced since staging →
         refuse, exactly like ``publish``), writes catalog N+1, flips
         the catalog pointer — **the transaction is now committed** —
         then best-effort publishes each member pointer;
      3. a crash between catalog flip and member publishes leaves
         catalog readers fully consistent; :meth:`recover` re-plays
         the member publishes idempotently (a staged manifest whose
         version the catalog already pins is simply published).

    Scale: catalog state is |tables| rows of JSON; commits move no
    data. Member tables stay independently usable (their own
    ``_current`` still serves single-table readers — the catalog pins
    are the stronger, transactional view).
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        # reuse SnapshotTable's Hadoop-FS text primitives on the
        # catalog directory
        self._io = SnapshotTable.__new__(SnapshotTable)
        self._io.spark = spark
        self._io.path = self.path
        self._io.meta_dir = self.path
        self._tables: dict[str, SnapshotTable] = {}

    # ------------------------------------------------------------ state
    def _cur_n(self) -> int:
        txt = self._io._read_text(f"{self.path}/_current")
        return int(txt) if txt is not None else 0

    def _pins(self, n: int | None = None) -> dict:
        n = self._cur_n() if n is None else n
        if n == 0:
            return {}
        return json.loads(self._io._read_text(f"{self.path}/c{n}.json"))

    def table(self, name: str) -> SnapshotTable:
        pins = self._pins()
        if name not in pins:
            raise ValueError(f"unknown catalog table {name!r}")
        if name not in self._tables:
            self._tables[name] = SnapshotTable(self.spark, pins[name]["path"])
        return self._tables[name]

    # ------------------------------------------------------------ lifecycle
    def register(self, name: str, table: SnapshotTable) -> None:
        """Add a table at its current version — itself a catalog commit."""
        pins = self._pins()
        if name in pins:
            raise ValueError(f"table {name!r} already registered")
        pins[name] = {
            "path": table.path,
            "version": table._require_current(),
        }
        self._commit_pins(pins)
        self._tables[name] = table

    def _commit_pins(self, pins: dict) -> None:
        n = self._cur_n() + 1
        self._io._write_text(f"{self.path}/c{n}.json", json.dumps(pins))
        self._io._write_text(f"{self.path}/_current", str(n))

    def read(self, name: str) -> DataFrame:
        """The TRANSACTIONAL view: the table at its pinned version."""
        pins = self._pins()
        if name not in pins:
            raise ValueError(f"unknown catalog table {name!r}")
        return self.table(name).read(version=pins[name]["version"])

    def read_at(self, name: str, catalog_version: int) -> DataFrame:
        """CROSS-TABLE CONSISTENT time travel: the table as catalog
        version N pinned it — every table read at the same N is from
        the same transaction boundary, the guarantee per-table
        ``read(version=…)`` cannot give (two tables' own version
        numbers say nothing about which commits were joint)."""
        pins = self._pins(catalog_version)
        if name not in pins:
            raise ValueError(
                f"table {name!r} not in catalog version {catalog_version}"
            )
        return self.table(name).read(version=pins[name]["version"])

    # ------------------------------------------------------------ txn
    def commit_txn(self, staged: dict) -> int:
        """Atomically adopt ``{name: staged_version}`` across tables.
        Every staged version must be a pending staged commit whose
        parent equals the catalog's pin for that table."""
        pins = self._pins()
        for name, v in staged.items():
            if name not in pins:
                raise ValueError(f"unknown catalog table {name!r}")
            man = self.table(name)._manifest(v)
            if not man.get("staged"):
                raise ValueError(f"{name} v{v} is not a staged commit")
            if man["parent"] != pins[name]["version"]:
                raise ValueError(
                    f"{name} staged v{v} was built on v{man['parent']} but "
                    f"the catalog pins v{pins[name]['version']} — re-stage"
                )
        new_pins = {
            n: {"path": p["path"], "version": staged.get(n, p["version"])}
            for n, p in pins.items()
        }
        self._commit_pins(new_pins)  # <- the atomic commit point
        self.recover()
        return self._cur_n()

    def abort_txn(self, staged: dict) -> None:
        for name, v in staged.items():
            self.table(name).abort_staged(v)

    def recover(self) -> list[str]:
        """Idempotently publish every member whose catalog pin is still
        a staged manifest (crash between catalog flip and member
        publishes). Safe to call any time."""
        done = []
        for name, pin in self._pins().items():
            t = self.table(name)
            man = t._manifest(pin["version"])
            if man.get("staged"):
                t.publish(pin["version"])
                done.append(name)
        return done

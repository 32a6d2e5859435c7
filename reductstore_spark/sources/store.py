"""RecordStore: partitioned-Parquet storage for the records data model.

Spark-native replacement for the reference's block storage
(reference: reductstore/src/storage/block_manager.rs, entry/write_record.rs):

* layout: ``<root>/bucket=<b>/entry=<e>/ts_day=<d>/*.parquet`` — partition
  pruning on (bucket, entry, day); Parquet row-group min/max stats on
  ``ts`` replace the reference's BlockIndex for intra-day block pruning
* **timestamp-as-ID upserts**: each write batch gets a monotonically
  increasing ``__seq``; readers keep the newest version per
  (bucket, entry, ts) — belated/duplicate writes (write_record.rs:61-199)
  become shadowed rows, removed on compaction
* bulk delete (remove-query) and label updates rewrite only the affected
  day partitions (dynamic partition overwrite)
* quota/lifecycle: FIFO eviction drops the oldest day partitions
  (bucket/quotas.rs:45-110); compress/compact rewrites old partitions
  (zstd is the store codec already; lifecycle/action/compress.rs)

All operations are declarative DataFrame transforms — no driver-side
iteration over records — so they scale with executors.
"""

from __future__ import annotations

import os
import re
from typing import NamedTuple, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.glob import filter_entries
from ..schema import (RECORDS_SCHEMA, STORE_PARTITIONING, STORE_SCHEMA,
                      day_of, with_partition_cols)

_PARTITIONING = list(STORE_PARTITIONING)

# write(): every stored column cast to its declared on-disk type, so a
# batch with e.g. a bigint ``state`` still writes files the declared read
# decodes (``__seq`` is filled in per batch)
_STORE_COLUMNS = [f"CAST({f.name} AS {f.dataType.simpleString()}) AS {f.name}"
                  for f in STORE_SCHEMA.fields]

# Spark's ExternalCatalogUtils.escapePathName (Hive FileUtils) char set:
# ASCII control chars 0x01-0x1F plus these specials; everything else —
# including space and non-ASCII — passes through unescaped.
_PATH_ESCAPE = {chr(c) for c in range(1, 0x20)} | set('"#%\'*/:=?\\{[]^') | {"\x7f"}


def _escape_path_name(s: str) -> str:
    """Exact replica of Spark's partition-dir escaping; a null/empty
    partition value is written as Hive's default-partition sentinel."""
    if not s:
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPE else c for c in s)


def _unescape_path_name(s: str) -> str:
    """The inverse of ``_escape_path_name``."""
    if s == "__HIVE_DEFAULT_PARTITION__":
        return ""
    return re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), s)


def _partition_dirs(path: str, key: str) -> dict:
    """{value: dir} of the ``<key>=<value>`` partition directories under
    ``path`` (values unescaped; none when ``path`` does not exist)."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return {}
    prefix = key + "="
    return {_unescape_path_name(n[len(prefix):]): os.path.join(path, n)
            for n in names if n.startswith(prefix)}


class InsufficientStorage(Exception):
    """Filesystem under the store root cannot fit the incoming batch
    (bucket/quotas.rs:19-42 ``check_free_disk_space``, PR-1525)."""


class QuotaExceeded(Exception):
    """HARD quota rejection (QuotaType::HARD, bucket/quotas.rs)."""


class RecordStore:
    def __init__(self, spark: SparkSession, root: str,
                 free_space_fn=None):
        self.spark = spark
        self.root = root
        # injectable for tests, mirroring the reference's FreeSpaceFn
        # (bucket.rs:56-57 default_free_space_fn -> fs4::available_space)
        self.free_space_fn = free_space_fn or self._default_free_space
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    @staticmethod
    def _default_free_space(path: str) -> int:
        import shutil

        # the store root may not exist before the first write — probe the
        # nearest existing ancestor (that's the filesystem that will hold
        # the data folder)
        probe = path
        while probe and not os.path.exists(probe):
            parent = os.path.dirname(probe)
            if parent == probe:
                break
            probe = parent
        return shutil.disk_usage(probe or os.sep).free

    def _check_free_disk_space(self, content_size: int) -> None:
        """Reject the batch before writing when the data-folder filesystem
        lacks free space for it, in addition to any quota — PR-1525
        (bucket/quotas.rs:19-42 ``check_free_disk_space``)."""
        available = self.free_space_fn(self.root)
        if content_size > available:
            raise InsufficientStorage(
                f"Not enough free disk space in the data folder to write "
                f"a record of {content_size} bytes: only {available} "
                f"bytes available")

    def _incoming_bytes(self, df: DataFrame) -> int:
        return df.agg(F.sum(F.coalesce(
            F.length("payload"), F.lit(0)))).collect()[0][0] or 0

    def _raw(self) -> DataFrame:
        """The on-disk table incl. internal columns, read with the
        declared ``STORE_SCHEMA`` (no schema-inference job).  A store
        whose every partition was removed reads as an empty frame, and
        so does one that was never written.

        A read failure (transient FS error, corrupt footer) propagates
        when the query runs — remove_matched() derives the survivor set
        from this frame, and an error read as 'empty store' would turn
        into silent partition deletion."""
        if self._exists():
            return self.spark.read.schema(STORE_SCHEMA).parquet(self.root)
        return self.spark.createDataFrame([], STORE_SCHEMA)

    # -- write path ------------------------------------------------------
    def write(self, df: DataFrame, compression: str = None,
              _disk_checked: bool = False) -> None:
        """Append a batch of records; same-(bucket,entry,ts) rows shadow
        older versions (upsert-on-read, compact() to materialize).
        ``compression``: per-batch parquet codec override ('zstd'/'gzip'/
        'none') — the replication transfer-compression analogue.

        Every write path enforces the PR-1525 free-disk guard — the
        reference runs ``check_free_disk_space`` on each record write
        (bucket.rs:236), so streaming sinks, replication, and direct
        ingest through this method are covered too.  ``_disk_checked``
        is internal: the settings/quota wrappers pre-check the batch
        (the guard must fire before quota math there) and skip the
        duplicate aggregation job here."""
        if not _disk_checked:
            self._check_free_disk_space(self._incoming_bytes(df))
        seq = self._next_seq()
        out = (with_partition_cols(df.withColumn("__seq", F.lit(seq)))
               .selectExpr(*_STORE_COLUMNS))
        writer = (out.repartition(*[F.col(c) for c in _PARTITIONING])
                  .write.mode("append"))
        if compression:
            codec = "uncompressed" if compression == "none" else compression
            writer = writer.option("compression", codec)
        writer.partitionBy(*_PARTITIONING).parquet(self.root)

    def _next_seq(self) -> int:
        """Monotonic write-batch sequence from the ``_meta/seq`` sidecar —
        no table scan per ingest batch (shadowing only needs relative
        order).  ``_``-prefixed paths are invisible to Spark's parquet
        discovery.  Missing sidecar (pre-existing store): recover once
        from max(__seq), then stay O(1).  Local-FS posix rename keeps the
        update atomic; an object-store deployment swaps this for a
        conditional put (same design note as rename_bucket)."""
        meta_dir = os.path.join(self.root, "_meta")
        seq_file = os.path.join(meta_dir, "seq")
        try:
            cur = int(open(seq_file).read().strip())
        except (FileNotFoundError, ValueError):
            if self._exists():
                raw = self._raw()
                cur = int(raw.agg(F.max("__seq")).collect()[0][0] or 0)
            else:
                cur = 0
        nxt = cur + 1
        os.makedirs(meta_dir, exist_ok=True)
        tmp = seq_file + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(nxt))
        os.replace(tmp, seq_file)
        return nxt

    def _exists(self) -> bool:
        try:
            return any(
                name.startswith("bucket=") for name in os.listdir(self.root)
            )
        except FileNotFoundError:
            return False

    # -- bucket settings --------------------------------------------------
    # (reference: BucketSettings bucket_api.rs:56-60 — quota_type NONE|
    # FIFO|HARD, quota_size, max_block_* knobs; server-wide defaults via
    # RS_DEFAULTS_BUCKET_* env, PR-1535.  Persisted in a _meta sidecar;
    # block-size knobs map to parquet file sizing and are recorded for
    # API parity but enforced by the writer config.)

    DEFAULT_BUCKET_SETTINGS = {
        "quota_type": "NONE", "quota_size": 0,
        "max_block_size": 64 * 1024 * 1024, "max_block_records": 256,
    }

    def _settings_file(self):
        return os.path.join(self.root, "_meta", "bucket_settings.json")

    def set_bucket_settings(self, bucket: str, **settings) -> dict:
        """Upsert per-bucket settings; unknown keys are rejected.
        Returns the effective (defaults-merged) settings."""
        import json as _json

        bad = set(settings) - set(self.DEFAULT_BUCKET_SETTINGS)
        if bad:
            raise ValueError(f"unknown bucket settings: {sorted(bad)}")
        if settings.get("quota_type") not in (None, "NONE", "FIFO", "HARD"):
            raise ValueError(f"unknown quota_type '{settings['quota_type']}'")
        path = self._settings_file()
        try:
            allset = _json.load(open(path))
        except (FileNotFoundError, ValueError):
            allset = {}
        cur = allset.get(bucket, {})
        cur.update(settings)
        allset[bucket] = cur
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(allset, fh)
        os.replace(tmp, path)
        return self.get_bucket_settings(bucket)

    def get_bucket_settings(self, bucket: str,
                            defaults: Optional[dict] = None) -> dict:
        """Effective settings: server defaults (RS_DEFAULTS_BUCKET_*
        analog via ``defaults``) overlaid with the bucket's stored
        settings."""
        import json as _json

        eff = dict(self.DEFAULT_BUCKET_SETTINGS)
        eff.update(defaults or {})
        try:
            allset = _json.load(open(self._settings_file()))
            eff.update(allset.get(bucket, {}))
        except (FileNotFoundError, ValueError):
            pass
        return eff

    def write_with_settings(self, df: DataFrame,
                            defaults: Optional[dict] = None,
                            max_storage_bytes: Optional[int] = None) -> None:
        """Write a batch honoring each destination bucket's stored quota
        settings (HARD rejects before writing, FIFO evicts after —
        bucket/quotas.rs:20-110).  ``max_storage_bytes``: global storage
        cap across ALL buckets enforced on the write path
        (RS_ENGINE_MAX_STORAGE_SIZE analog, PR-1263).  Also rejects the
        batch when the data-folder filesystem lacks free space (PR-1525,
        before any quota math or write)."""
        buckets = [r["bucket"] for r in df.select("bucket").distinct().collect()]
        plans = {b: self.get_bucket_settings(b, defaults) for b in buckets}
        total_incoming = self._incoming_bytes(df)
        self._check_free_disk_space(total_incoming)
        if max_storage_bytes is not None:
            if self.total_size() + total_incoming > max_storage_bytes:
                raise QuotaExceeded(
                    f"write would exceed the engine storage cap of "
                    f"{max_storage_bytes} bytes")
        for b, st in plans.items():
            if st["quota_type"] == "HARD" and st["quota_size"] > 0:
                part = df.where(F.col("bucket") == b)
                incoming = self._incoming_bytes(part)
                if self.bucket_size(b) + incoming > st["quota_size"]:
                    raise QuotaExceeded(
                        f"bucket '{b}' would exceed the hard quota of "
                        f"{st['quota_size']} bytes")
        self.write(df, _disk_checked=True)
        for b, st in plans.items():
            if st["quota_type"] == "FIFO" and st["quota_size"] > 0:
                self.evict_fifo(b, st["quota_size"])

    # -- read path -------------------------------------------------------
    def read(self, assume_compacted: bool = False) -> DataFrame:
        """Current table state: newest version per (bucket, entry, ts).

        The shadow-dropping window costs a shuffle; after ``compact()``
        (or on ingest paths that never upsert) pass
        ``assume_compacted=True`` to skip it — at scale, run compaction
        on a schedule and read the fast path.

        The returned frame carries a ``StoreRead`` tag: given this frame
        untransformed and a time range, ``QueryEngine`` rebuilds the view
        over only the day partitions the range overlaps."""
        raw = self._raw()
        df = self.view(raw, assume_compacted)
        df._store_read = StoreRead(self, raw, assume_compacted)
        return df

    def view(self, raw: DataFrame, assume_compacted: bool = False,
             below: Optional[Column] = None,
             above: Optional[Column] = None) -> DataFrame:
        """The live records of ``raw`` (the ``_raw()`` table).  ``below``
        filters the stored versions before the shadow window drops the
        older ones, so it may test only the window's keys (bucket,
        entry, ts, and ts_day, a function of ts); ``above`` filters the
        live records, so an older version of a record it rejects stays
        hidden."""
        if assume_compacted:
            cond = above if below is None else (
                below if above is None else below & above)
            live = raw if cond is None else raw.where(cond)
            return live.drop("__seq", "ts_day")
        if below is not None:
            raw = raw.where(below)
        newest = F.col("__rn") == 1
        return (_ranked(raw)
                .where(newest if above is None else newest & above)
                .drop("__rn", "__seq", "ts_day"))

    def scan_bytes(self, entries: Optional[Sequence[str]] = None,
                   start: Optional[int] = None, stop: Optional[int] = None,
                   bucket: Optional[str] = None, file_cost: int = 0,
                   limit: Optional[int] = None) -> int:
        """Bytes on disk a scan of ``[start, stop)`` reads: the files of
        the ``ts_day`` partitions the range overlaps, of the entries the
        patterns ``entries`` select (``filter_entries``, as the scan
        filter resolves them; hidden entries only by exact name), in
        every bucket or in ``bucket``.  Each file counts its size plus
        ``file_cost``; the walk stops once the sum passes ``limit``.
        Files Spark skips (``_``/``.``-prefixed) are not counted."""
        lo = float("-inf") if start is None else day_of(int(start))
        hi = float("inf") if stop is None else day_of(int(stop) - 1)
        total = 0
        for b, bdir in _partition_dirs(self.root, "bucket").items():
            if bucket not in (None, b):
                continue
            names = _partition_dirs(bdir, "entry")
            for name in filter_entries(names, entries):
                for day, ddir in _partition_dirs(names[name], "ts_day").items():
                    if not lo <= int(day) <= hi:
                        continue
                    for f in _listdir(ddir):
                        if f.name.startswith(("_", ".")):
                            continue
                        total += f.stat().st_size + file_cost
                        if limit is not None and total > limit:
                            return total
        return total

    def entries(self, bucket: Optional[str] = None, include_hidden: bool = False):
        """Distinct (bucket, entry) pairs from partition metadata — a
        metadata-only scan thanks to partition columns.  System $-entries
        are hidden unless requested (entry/system.rs)."""
        df = self._raw().select("bucket", "entry").distinct()
        if bucket:
            df = df.where(F.col("bucket") == bucket)
        if not include_hidden:
            df = df.where(~F.col("entry").rlike(r"(^|/)\$"))
        return [(r["bucket"], r["entry"]) for r in df.collect()]

    # -- mutation --------------------------------------------------------
    def remove_matched(self, matched: DataFrame) -> int:
        """Delete every record a query matched (QueryType::Remove,
        storage/entry/remove_records.rs:62-160): anti-join rewrite of the
        affected day partitions only."""
        keys = matched.select("bucket", "entry", "ts").distinct()
        n = keys.count()
        if n == 0:
            return 0
        raw = self._raw()
        affected = with_partition_cols(keys).select(*_PARTITIONING).distinct()
        part = raw.join(F.broadcast(affected), _PARTITIONING, "left_semi")
        kept = part.join(F.broadcast(keys), ["bucket", "entry", "ts"], "left_anti")
        # dynamic partition overwrite only replaces partitions PRESENT in
        # the written frame — a partition whose every record matched would
        # produce zero rows, write nothing, and silently keep its old
        # files.  Delete those fully-emptied partitions explicitly.
        aff = {(r["bucket"], r["entry"], r["ts_day"])
               for r in affected.collect()}
        survivors = {(r["bucket"], r["entry"], r["ts_day"])
                     for r in kept.select(*_PARTITIONING).distinct().collect()}
        self._overwrite_partitions(kept)
        self._delete_partition_dirs(aff - survivors)
        return n

    def _delete_partition_dirs(self, parts) -> None:
        """Remove partition directories from disk, spelling the dir name
        with an exact replica of Spark's escapePathName (Hive
        FileUtils.escapePathName char set) — percent-quoting everything
        (or nothing) mismatches names mixing escaped and unescaped
        specials, leaving removed records resurrectable.  Local-FS
        implementation; an object-store deployment swaps this for a
        prefix delete."""
        import shutil

        for bucket, entry, ts_day in parts:
            path = os.path.join(
                self.root, f"bucket={bucket}",
                f"entry={_escape_path_name(str(entry))}",
                f"ts_day={ts_day}")
            shutil.rmtree(path, ignore_errors=True)
            # prune now-empty entry=/bucket= parents so a fully-removed
            # entry disappears from listings too
            for parent in (os.path.dirname(path),
                           os.path.dirname(os.path.dirname(path))):
                try:
                    os.rmdir(parent)  # only succeeds when empty
                except OSError:
                    break

    def update_labels(self, updates: DataFrame) -> int:
        """Batch label upsert/remove (storage/entry/update_labels.rs:14-160).

        ``updates`` columns: bucket, entry, ts, upsert map<string,string>,
        remove array<string>.  Per-record merge: new/changed keys win,
        listed keys are removed."""
        keys = updates.select("bucket", "entry", "ts").distinct()
        if keys.count() == 0:
            return 0
        raw = self._raw()
        affected = with_partition_cols(keys).select(*_PARTITIONING).distinct()
        part = raw.join(F.broadcast(affected), _PARTITIONING, "left_semi")
        joined = part.join(F.broadcast(updates), ["bucket", "entry", "ts"], "left")
        merged = (
            F.when(
                F.col("upsert").isNotNull() | F.col("remove").isNotNull(),
                F.map_filter(
                    F.map_concat(
                        F.map_filter(
                            F.coalesce(F.col("labels"),
                                       F.lit(None).cast("map<string,string>")),
                            lambda k, v: ~F.coalesce(
                                F.map_contains_key(
                                    F.coalesce(F.col("upsert"),
                                               F.expr("map()")), k),
                                F.lit(False)),
                        ),
                        F.coalesce(F.col("upsert"), F.expr("map()")),
                    ),
                    lambda k, v: ~F.coalesce(
                        F.array_contains(F.col("remove"), k), F.lit(False)),
                ),
            ).otherwise(F.col("labels"))
        )
        n = updates.count()
        out = joined.withColumn("labels", merged).drop("upsert", "remove")
        self._overwrite_partitions(out)
        return n

    def _overwrite_partitions(self, df: DataFrame) -> None:
        # dynamic partition overwrite replaces only the partitions present
        # in df; the parquet source cannot overwrite the path it is reading,
        # so persist the affected rows first
        rows = df.persist()
        rows.count()
        (rows.write.mode("overwrite").partitionBy(*_PARTITIONING).parquet(self.root))
        rows.unpersist()

    # -- system $meta entries --------------------------------------------
    # (reference: storage/entry/system.rs:10-42 — per-entry config records
    # upserted by `key` label, hidden from listings, never FIFO-evicted)

    def write_meta(self, bucket: str, entry: str, key: str, labels: dict) -> None:
        import zlib

        meta_entry = f"{entry}/$meta"
        # upsert-by-key: the record id (ts) is a stable hash of the key
        ts = zlib.crc32(key.encode()) & 0x7FFFFFFF
        row = [(bucket, meta_entry, ts, None, "application/json", 1,
                {**labels, "key": key}, {})]
        self.write(self.spark.createDataFrame(row, RECORDS_SCHEMA))

    def read_meta(self, bucket: str, entry: str) -> dict:
        """{key -> labels} for an entry's $meta records."""
        df = self.read().where(
            (F.col("bucket") == bucket) & (F.col("entry") == f"{entry}/$meta"))
        out = {}
        for r in df.collect():
            labels = dict(r["labels"])
            out[labels.pop("key")] = labels
        return out

    # -- namespace ops ---------------------------------------------------
    def rename_entry(self, bucket: str, old: str, new: str) -> None:
        """Rename a time series (storage/bucket/rename_entry.rs): rewrite
        the entry's partitions under the new name, then drop the old
        directories.  Data-proportional to ONE entry, not the store."""
        raw = self._raw()
        moved = (raw.where((F.col("bucket") == bucket) & (F.col("entry") == old))
                 .withColumn("entry", F.lit(new)))
        if moved.isEmpty():
            raise ValueError(f"entry '{old}' not found in bucket '{bucket}'")
        moved = moved.persist()
        moved.count()
        (moved.write.mode("append").partitionBy(*_PARTITIONING).parquet(self.root))
        moved.unpersist()
        self._drop_entry_dirs(bucket, old)

    def rename_bucket(self, old: str, new: str) -> None:
        """Rename a bucket: pure directory move (bucket is the top-level
        partition).  The ``$system`` events bucket is provisioned and
        cannot be renamed away (PR-1557)."""
        if old == "$system":
            raise ValueError("bucket '$system' is provisioned")
        src = os.path.join(self.root, f"bucket={old}")
        dst = os.path.join(self.root, f"bucket={new}")
        if not os.path.isdir(src):
            raise ValueError(f"bucket '{old}' not found")
        os.rename(src, dst)

    def _drop_entry_dirs(self, bucket: str, entry: str) -> None:
        import shutil

        broot = os.path.join(self.root, f"bucket={bucket}")
        want = f"entry={_escape_path_name(entry)}"
        if os.path.isdir(broot):
            for d in os.listdir(broot):
                if d == want:
                    shutil.rmtree(os.path.join(broot, d), ignore_errors=True)

    # -- info ------------------------------------------------------------
    def entry_info(self, bucket: str, entry: str) -> dict:
        """EntryInfo parity (entry.rs:215-250, entry_api.rs EntryInfo):
        name / size / record_count / block_count / oldest_record /
        latest_record.

        The aggregate runs on the RAW table — no shadow-dedup window in
        the plan.  That is exact because a shadowed version shares its
        (bucket, entry, ts) key with its shadower: min/max(ts) are
        shadow-invariant, and the live record count is count(DISTINCT ts)
        within the entry.  min/max stay eligible for parquet
        aggregate/footer-statistics answering (the analogue of the
        reference answering from its BlockIndex); the distinct count
        reads only the ts column.  size/block_count come from the
        filesystem listing; a parquet file is the closest analogue of a
        block."""
        cur = (self._raw()
               .where((F.col("bucket") == bucket) & (F.col("entry") == entry)))
        row = cur.agg(F.count_distinct("ts").alias("n"),
                      F.min("ts").alias("lo"),
                      F.max("ts").alias("hi")).collect()[0]
        size = files = 0
        edir = _partition_dirs(os.path.join(self.root, f"bucket={bucket}"),
                               "entry").get(entry)
        for ddir in _partition_dirs(edir, "ts_day").values() if edir else ():
            pq = [f for f in _listdir(ddir) if f.name.endswith(".parquet")]
            files += len(pq)
            size += sum(f.stat().st_size for f in pq)
        # no-records entries report 0/0, never null (entry.rs:222-238
        # unwrap_or(0); PR-1534 pins the same for the bucket rollup)
        return {"name": entry, "size": size, "record_count": row["n"],
                "block_count": files,
                "oldest_record": row["lo"] if row["lo"] is not None else 0,
                "latest_record": row["hi"] if row["hi"] is not None else 0}

    def bucket_info(self, bucket: str) -> dict:
        """BucketInfo parity (bucket_api.rs BucketInfo): size / entry_count
        / record-time extremes across the bucket's visible entries.
        Shadow-exact without the dedup window (see entry_info): live
        records are distinct (entry, ts) pairs.  Entries without records
        contribute no rows, so they can't skew the extremes (PR-1534:
        bucket.rs:154-156 skips record_count == 0 entries), and a bucket
        whose every entry is empty reports 0/0 (bucket.rs:162-164)."""
        names = [e for b, e in self.entries(bucket)]
        cur = self._raw().where(
            (F.col("bucket") == bucket) & F.col("entry").isin(names))
        row = cur.agg(F.count_distinct("entry", "ts").alias("n"),
                      F.min("ts").alias("lo"),
                      F.max("ts").alias("hi")).collect()[0]
        return {"name": bucket, "size": self.bucket_size(bucket),
                "entry_count": len(names), "record_count": row["n"],
                "oldest_record": row["lo"] if row["lo"] is not None else 0,
                "latest_record": row["hi"] if row["hi"] is not None else 0}

    # -- quota -----------------------------------------------------------
    def bucket_size(self, bucket: str) -> int:
        return sum(size for _, _, size in self._bucket_days(bucket))

    def total_size(self) -> int:
        """Storage footprint across all buckets (parquet data files)."""
        total = 0
        for dirpath, _dirnames, filenames in os.walk(self.root):
            if os.sep + "_meta" in dirpath:
                continue
            total += sum(os.path.getsize(os.path.join(dirpath, f))
                         for f in filenames if f.endswith(".parquet"))
        return total

    def write_with_quota(self, df: DataFrame, quota_type: str = "NONE",
                         quota_bytes: int = 0) -> None:
        """Write with quota enforcement (bucket/quotas.rs:20-110):
        HARD rejects the batch when over quota; FIFO evicts the oldest
        day partitions after the write.  The free-disk check (PR-1525)
        runs first — it complements the quota and rejects before any
        data is written."""
        incoming = self._incoming_bytes(df)
        self._check_free_disk_space(incoming)
        if quota_type == "HARD" and quota_bytes > 0:
            buckets = [r["bucket"] for r in df.select("bucket").distinct().collect()]
            for b in buckets:
                if self.bucket_size(b) + incoming > quota_bytes:
                    raise QuotaExceeded(
                        f"bucket '{b}' would exceed the hard quota of {quota_bytes} bytes")
        self.write(df, _disk_checked=True)
        if quota_type == "FIFO" and quota_bytes > 0:
            for r in df.select("bucket").distinct().collect():
                self.evict_fifo(r["bucket"], quota_bytes)

    # -- lifecycle -------------------------------------------------------
    def compact(self) -> None:
        """Materialize upserts/deletes: rewrite every partition keeping
        only the newest version per (bucket, entry, ts)."""
        deduped = _ranked(self._raw()).where(F.col("__rn") == 1).drop("__rn")
        self._overwrite_partitions(deduped)

    def evict_fifo(self, bucket: str, quota_bytes: int) -> int:
        """FIFO quota: drop oldest day partitions while the bucket exceeds
        its quota (bucket/quotas.rs:45-110). Returns partitions dropped."""
        import shutil

        dropped = 0
        while True:
            days = self._bucket_days(bucket)
            if not days:
                return dropped
            total = sum(size for _, _, size in days)
            if total <= quota_bytes or len(days) <= 1:
                return dropped
            oldest = min(days, key=lambda d: d[1])
            shutil.rmtree(oldest[0], ignore_errors=True)
            dropped += 1

    def _bucket_days(self, bucket: str):
        out = []
        broot = os.path.join(self.root, f"bucket={bucket}")
        for entry, edir in _partition_dirs(broot, "entry").items():
            # system $meta entries are exempt from quota eviction
            # (entry/system.rs)
            if "$meta" in entry:
                continue
            for day, ddir in _partition_dirs(edir, "ts_day").items():
                size = sum(f.stat().st_size for f in _listdir(ddir))
                out.append((ddir, int(day), size))
        return out


def _listdir(path: str) -> list:
    """The files in ``path`` (``os.DirEntry``s; none when ``path`` does
    not exist)."""
    try:
        with os.scandir(path) as it:
            return [f for f in it if f.is_file()]
    except FileNotFoundError:
        return []


class StoreRead(NamedTuple):
    """The tag on a ``RecordStore.read()`` frame: the store, the raw
    relation its view is built over, and the read mode."""
    store: RecordStore
    raw: DataFrame
    assume_compacted: bool


def _ranked(raw: DataFrame) -> DataFrame:
    """``raw`` with ``__rn``: 1 for the newest version (highest
    ``__seq``) of each (bucket, entry, ts), the shadow window's key.
    SQL text: a fraction of the py4j calls of the Column-built window."""
    return raw.selectExpr(
        "*", "row_number() OVER (PARTITION BY bucket, entry, ts "
        "ORDER BY __seq DESC) AS __rn")

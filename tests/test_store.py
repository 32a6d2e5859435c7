"""RecordStore: layout, upsert-by-timestamp, remove-query, label updates,
FIFO eviction, compaction."""

import pytest
from pyspark.sql import functions as F

from reductstore_spark.query import QueryEngine
from reductstore_spark.sources.store import RecordStore

SCHEMA = ("bucket string, entry string, ts long, payload binary, "
          "content_type string, state int, labels map<string,string>, "
          "computed_labels map<string,string>")


def mk_rows(entry, n, base=0, label="a"):
    return [("b1", entry, base + i * 1_000_000, bytes([i % 250]), "text/plain", 1,
             {label: str(i)}, {}) for i in range(n)]


@pytest.fixture()
def store(spark, tmp_path):
    return RecordStore(spark, str(tmp_path / "store"))


def test_write_read_roundtrip(spark, store):
    df = spark.createDataFrame(mk_rows("e1", 10), SCHEMA)
    store.write(df)
    got = store.read()
    assert got.count() == 10
    assert sorted(got.columns) == sorted(
        ["bucket", "entry", "ts", "payload", "content_type", "state",
         "labels", "computed_labels"])


def test_upsert_same_timestamp_wins(spark, store):
    store.write(spark.createDataFrame(mk_rows("e1", 5), SCHEMA))
    # overwrite ts=0 with a new label value (timestamp-as-ID upsert)
    store.write(spark.createDataFrame(
        [("b1", "e1", 0, None, "", 1, {"a": "NEW"}, {})], SCHEMA))
    got = store.read()
    assert got.count() == 5
    row = got.where(F.col("ts") == 0).collect()[0]
    assert row["labels"]["a"] == "NEW"


def test_belated_write_lands_in_order(spark, store):
    store.write(spark.createDataFrame(mk_rows("e1", 3, base=10_000_000), SCHEMA))
    store.write(spark.createDataFrame(mk_rows("e1", 1, base=0), SCHEMA))  # belated
    ts = [r["ts"] for r in QueryEngine().query(store.read()).select("ts").collect()]
    assert ts == sorted(ts) and ts[0] == 0


def test_seq_sidecar_no_table_scan_and_recovery(spark, store, tmp_path):
    import os
    store.write(spark.createDataFrame(mk_rows("e1", 3), SCHEMA))
    store.write(spark.createDataFrame(
        [("b1", "e1", 0, None, "", 1, {"a": "V2"}, {})], SCHEMA))
    seq_file = os.path.join(store.root, "_meta", "seq")
    assert int(open(seq_file).read()) == 2
    # sidecar lost (e.g. pre-existing store): recover from max(__seq) once,
    # shadowing order must survive
    os.remove(seq_file)
    store.write(spark.createDataFrame(
        [("b1", "e1", 0, None, "", 1, {"a": "V3"}, {})], SCHEMA))
    assert int(open(seq_file).read()) == 3
    row = store.read().where(F.col("ts") == 0).collect()[0]
    assert row["labels"]["a"] == "V3"


def test_remove_query(spark, store):
    store.write(spark.createDataFrame(mk_rows("e1", 10), SCHEMA))
    qe = QueryEngine()
    removed = qe.remove_query(store, store.read(), when={"$and": [{"$each_n": 2}]})
    assert removed == 5
    assert store.read().count() == 5


def test_corrupt_store_read_raises_not_silent_delete(spark, store):
    """A read failure must NOT be treated as 'empty store': remove-query
    derives its survivor set from _raw(), so a corrupt footer read as
    empty would delete every affected partition.  An emptied-but-present
    store (dirs, no data files) still reads as an empty frame."""
    import glob
    import os

    store.write(spark.createDataFrame(mk_rows("e1", 4), SCHEMA))
    files = glob.glob(store.root + "/**/*.parquet", recursive=True)
    assert files
    saved = {f: open(f, "rb").read() for f in files}
    for f in files:
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    with pytest.raises(Exception):
        store._raw().count()
    with pytest.raises(Exception):
        QueryEngine().remove_query(store, store.read(), when=True)
    # restore and verify nothing was deleted by the failed remove
    for f, data in saved.items():
        with open(f, "wb") as fh:
            fh.write(data)
    assert store.read().count() == 4
    # emptied-partition-dirs store: empty frame, no error
    for f in files:
        os.remove(f)
    assert store._raw().count() == 0


def test_update_labels(spark, store):
    store.write(spark.createDataFrame(mk_rows("e1", 4), SCHEMA))
    updates = spark.createDataFrame(
        [("b1", "e1", 0, {"x": "1"}, ["a"]),
         ("b1", "e1", 1_000_000, {"a": "9"}, [])],
        "bucket string, entry string, ts long, upsert map<string,string>, "
        "remove array<string>")
    n = store.update_labels(updates)
    assert n == 2
    got = {r["ts"]: r["labels"] for r in store.read().collect()}
    assert got[0] == {"x": "1"}          # upsert new + removed old
    assert got[1_000_000] == {"a": "9"}  # value replaced
    assert got[2_000_000] == {"a": "2"}  # untouched


def test_compact_drops_shadows(spark, store):
    store.write(spark.createDataFrame(mk_rows("e1", 5), SCHEMA))
    store.write(spark.createDataFrame(mk_rows("e1", 5), SCHEMA))  # full shadow
    raw = spark.read.parquet(store.root)
    assert raw.count() == 10
    store.compact()
    assert spark.read.parquet(store.root).count() == 5
    assert store.read().count() == 5


def test_evict_fifo(spark, store):
    # 3 records on 3 different days
    rows = [("b1", "e1", day * 86_400_000_000, b"x" * 100, "", 1, {}, {})
            for day in range(3)]
    store.write(spark.createDataFrame(rows, SCHEMA))
    dropped = store.evict_fifo("b1", quota_bytes=1)  # force eviction to 1 partition
    assert dropped == 2
    assert store.read().count() == 1
    # newest day survived
    assert store.read().collect()[0]["ts"] == 2 * 86_400_000_000


def test_entry_and_bucket_info(spark, store):
    """EntryInfo/BucketInfo parity (entry.rs:215-250): counts reflect the
    upsert-resolved state, extremes span the entry, size/block_count come
    from the physical layout, and $meta entries stay out of bucket info."""
    store.write(spark.createDataFrame(mk_rows("e1", 5), SCHEMA))
    store.write(spark.createDataFrame(mk_rows("e1", 2), SCHEMA))  # shadows 0,1
    store.write(spark.createDataFrame(
        mk_rows("e2", 3, base=86_400_000_000), SCHEMA))
    store.write_meta("b1", "e1", "k", {"x": "1"})

    e1 = store.entry_info("b1", "e1")
    assert e1["name"] == "e1" and e1["record_count"] == 5
    assert e1["oldest_record"] == 0 and e1["latest_record"] == 4_000_000
    assert e1["size"] > 0 and e1["block_count"] >= 1

    b = store.bucket_info("b1")
    assert b["entry_count"] == 2          # $meta hidden
    assert b["record_count"] == 8
    assert b["oldest_record"] == 0
    assert b["latest_record"] == 86_400_000_000 + 2_000_000


def test_bucket_settings_registry(spark, tmp_path):
    """Per-bucket settings with server defaults (BucketSettings
    bucket_api.rs:56-60; RS_DEFAULTS_BUCKET_* defaults PR-1535):
    persisted, defaults-merged, enforced by write_with_settings."""
    from reductstore_spark.sources.store import QuotaExceeded, RecordStore

    store = RecordStore(spark, str(tmp_path / "s"))
    # defaults-merged view before anything is stored
    eff = store.get_bucket_settings("b", defaults={"quota_type": "FIFO",
                                                   "quota_size": 10_000})
    assert eff["quota_type"] == "FIFO" and eff["quota_size"] == 10_000
    # stored settings override server defaults
    store.set_bucket_settings("b", quota_type="HARD", quota_size=100)
    eff = store.get_bucket_settings("b", defaults={"quota_type": "FIFO"})
    assert eff["quota_type"] == "HARD" and eff["quota_size"] == 100
    assert eff["max_block_records"] == 256  # untouched default survives
    with pytest.raises(ValueError):
        store.set_bucket_settings("b", nonsense=1)
    with pytest.raises(ValueError):
        store.set_bucket_settings("b", quota_type="SOFT")

    rows = [("b", "e", 1, b"x" * 200, "", 1, {}, {})]
    with pytest.raises(QuotaExceeded):
        store.write_with_settings(spark.createDataFrame(rows, SCHEMA))
    # NONE quota writes fine; settings survive a new store handle
    store.set_bucket_settings("b", quota_type="NONE")
    store.write_with_settings(spark.createDataFrame(rows, SCHEMA))
    store2 = RecordStore(spark, str(tmp_path / "s"))
    assert store2.get_bucket_settings("b")["quota_type"] == "NONE"
    assert store2.read().count() == 1


def test_global_storage_cap(spark, tmp_path):
    """RS_ENGINE_MAX_STORAGE_SIZE analog: the write path enforces a cap
    across all buckets (PR-1263)."""
    from reductstore_spark.sources.store import QuotaExceeded, RecordStore

    store = RecordStore(spark, str(tmp_path / "g"))
    rows = [("b1", "e", 1, b"x" * 100, "", 1, {}, {})]
    store.write_with_settings(spark.createDataFrame(rows, SCHEMA),
                              max_storage_bytes=1_000_000)
    assert store.total_size() > 0
    big = [("b2", "e", 2, b"y" * 100, "", 1, {}, {})]
    with pytest.raises(QuotaExceeded, match="storage cap"):
        store.write_with_settings(spark.createDataFrame(big, SCHEMA),
                                  max_storage_bytes=store.total_size())


def test_info_zero_not_null_when_no_records(spark, store):
    """PR-1534 / entry.rs:222-238 unwrap_or(0): entries and buckets with
    no records report oldest/latest 0 — never null — and recordless
    entries can't skew a bucket's extremes (they contribute no rows)."""
    e = store.entry_info("b1", "nonexistent")
    assert e["oldest_record"] == 0 and e["latest_record"] == 0
    assert e["record_count"] == 0
    b = store.bucket_info("empty_bucket")
    assert b["oldest_record"] == 0 and b["latest_record"] == 0
    assert b["record_count"] == 0 and b["entry_count"] == 0
    # filled entries still report real extremes
    store.write(spark.createDataFrame(mk_rows("e1", 3, base=1_000_000),
                                      SCHEMA))
    b = store.bucket_info("b1")
    assert b["oldest_record"] == 1_000_000
    assert b["latest_record"] == 3_000_000


def test_bucket_info_ignores_meta_entries_for_history(spark, store):
    """PR-1534 golden case 1 (bucket.rs:478-495
    test_bucket_info_ignores_meta_entries_for_history): an entry's $meta
    records — whose ids are key hashes, not timestamps — must never
    drag the bucket's oldest/latest extremes; only the parent's real
    records count."""
    store.write_meta("b1", "entry-1", "k", {"x": "meta"})
    store.write(spark.createDataFrame(
        [("b1", "entry-1", 100, b"data", "", 1, {}, {}),
         ("b1", "entry-1", 200, b"more", "", 1, {}, {})], SCHEMA))

    b = store.bucket_info("b1")
    assert b["oldest_record"] == 100
    assert b["latest_record"] == 200
    assert b["entry_count"] == 1          # $meta hidden from the listing
    e = store.entry_info("b1", "entry-1")
    assert e["name"] == "entry-1"
    assert e["oldest_record"] == 100 and e["latest_record"] == 200


def test_bucket_info_ignores_empty_parent_entries_for_oldest_record(
        spark, store):
    """PR-1534 golden case 2 (bucket.rs:497-539
    test_bucket_info_ignores_empty_parent_entries_for_oldest_record): an
    entry with no records of its own must not skew the bucket extremes
    toward 0.  The closest record-less entry this partition-derived
    store can hold is the parent of a $meta-only entry (the reference
    additionally materializes record-less folder/parent Entry objects
    and counts them in entry_count — entries here exist only through
    their records, so entry_count counts record-bearing visible
    entries)."""
    store.write_meta("b1", "empty", "k", {"x": "meta"})
    store.write(spark.createDataFrame(
        [("b1", "filled", 1, b"data", "", 1, {}, {}),
         ("b1", "filled", 2, b"more", "", 1, {}, {})], SCHEMA))

    b = store.bucket_info("b1")
    assert b["oldest_record"] == 1        # never 0 from the empty parent
    assert b["latest_record"] == 2
    f = store.entry_info("b1", "filled")
    assert f["record_count"] == 2
    assert f["oldest_record"] == 1 and f["latest_record"] == 2
    # the record-less parent itself reports normalized zeros
    e = store.entry_info("b1", "empty")
    assert e["record_count"] == 0
    assert e["oldest_record"] == 0 and e["latest_record"] == 0


def test_bucket_info_normalizes_history_when_only_meta_entries_have_records(
        spark, store):
    """PR-1534 golden case 3 (bucket.rs:541-560
    test_bucket_info_normalizes_history_when_only_meta_entries_have_records):
    a bucket whose ONLY records live in $meta entries reports
    oldest/latest 0/0 — the meta key-hash ids must not leak out as
    record history — and the parent reports record_count 0."""
    store.write_meta("b1", "entry", "k", {"x": "meta"})

    b = store.bucket_info("b1")
    assert b["oldest_record"] == 0
    assert b["latest_record"] == 0
    assert b["record_count"] == 0
    e = store.entry_info("b1", "entry")
    assert e["record_count"] == 0
    assert e["oldest_record"] == 0 and e["latest_record"] == 0
    # the $meta payload itself is still readable through the meta API
    assert store.read_meta("b1", "entry") == {"k": {"x": "meta"}}


def test_free_disk_space_guard(spark, tmp_path):
    """PR-1525 (bucket/quotas.rs:19-42 check_free_disk_space): reject the
    batch BEFORE writing when the data-folder filesystem lacks free space
    for it, in addition to quota — even when the quota would pass."""
    from reductstore_spark.sources.store import (
        InsufficientStorage, RecordStore)

    probed = []

    def tiny_disk(path):
        probed.append(path)
        return 50  # bytes free

    store = RecordStore(spark, str(tmp_path / "d"), free_space_fn=tiny_disk)
    rows = [("b", "e", 1, b"x" * 200, "", 1, {}, {})]
    df = spark.createDataFrame(rows, SCHEMA)
    with pytest.raises(InsufficientStorage, match="only 50 bytes available"):
        store.write_with_settings(df)
    with pytest.raises(InsufficientStorage):
        store.write_with_quota(df, quota_type="NONE")
    # rejected before any data landed
    assert store.total_size() == 0 and probed
    # a batch that fits passes the guard and writes normally
    small = [("b", "e", 1, b"x" * 10, "", 1, {}, {})]
    store.write_with_settings(spark.createDataFrame(small, SCHEMA))
    assert store.read().count() == 1
    # default free_space_fn probes the real filesystem (root may not
    # exist before the first write — nearest-ancestor fallback)
    real = RecordStore(spark, str(tmp_path / "nope" / "deeper"))
    assert real.free_space_fn(real.root) > 0


def test_free_disk_space_guard_on_plain_write(spark, tmp_path):
    """The guard covers the plain RecordStore.write() path too (used by
    streaming sinks, replication, and direct ingest) — the reference
    runs check_free_disk_space on EVERY record write (bucket.rs:236),
    not only on the settings/quota wrappers (ADVICE r6)."""
    from reductstore_spark.sources.store import (
        InsufficientStorage, RecordStore)

    store = RecordStore(spark, str(tmp_path / "d"),
                        free_space_fn=lambda _p: 50)
    rows = [("b", "e", 1, b"x" * 200, "", 1, {}, {})]
    df = spark.createDataFrame(rows, SCHEMA)
    with pytest.raises(InsufficientStorage, match="only 50 bytes available"):
        store.write(df)
    assert store.total_size() == 0
    # a fitting batch writes; the settings wrapper pre-checks and skips
    # the duplicate in-write aggregation (no double job, same outcome)
    small = spark.createDataFrame([("b", "e", 1, b"x" * 10, "", 1, {}, {})],
                                  SCHEMA)
    store.write(small)
    assert store.read().count() == 1


def test_records_from_table_generic_ingest(spark, sf_dir, tmp_path):
    """The generic tabular->records mapping reproduces the hand-written
    events adapter on the driver corpus and round-trips through a store
    (JSON-source shape: per-row entry, timestamp col, labels, payload)."""
    from reductstore_spark.sources.ingest import records_from_table
    from reductstore_spark.schema import events_as_records

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    recs = records_from_table(
        ev, entry="event_type", ts_col="ts",
        label_cols=["user_id", "value"], payload_col="props",
        content_type="application/json", bucket="events")
    assert recs.columns == ["bucket", "entry", "ts", "payload",
                            "content_type", "state", "labels",
                            "computed_labels"]
    got = recs.select("entry", "ts",
                      F.element_at("labels", "user_id").alias("u")).collect()
    ref = events_as_records(spark, sf_dir).select(
        "entry", "ts", F.element_at("labels", "user").alias("u")).collect()
    assert sorted((r.entry, r.ts, r.u) for r in got) \
        == sorted((r.entry, r.ts, r.u) for r in ref)
    # payload carries the source bytes
    row = recs.where(F.col("payload").isNotNull()).first()
    assert bytes(row.payload).decode("utf-8").startswith("{")

    # round-trip through a store: write + resolved read preserves rows
    store = RecordStore(spark, str(tmp_path / "ing"))
    store.write(recs)
    assert store.read().count() == ev.count()


def test_records_from_table_null_labels_absent(spark):
    """NULL source values become MISSING labels (absent-key semantics),
    not 'None' strings."""
    from reductstore_spark.sources.ingest import records_from_table

    df = spark.createDataFrame(
        [(1, 1_700_000_000_000_000, "x", None), (2, 1_700_000_000_000_001, None, "y")],
        "id long, t long, a string, b string")
    recs = records_from_table(df, entry=F.lit("e"), ts_col="t",
                              label_cols=["a", "b"])
    rows = {r["ts"]: r["labels"] for r in recs.collect()}
    assert rows[1_700_000_000_000_000] == {"a": "x"}
    assert rows[1_700_000_000_000_001] == {"b": "y"}


def test_escape_path_name_matches_spark_exactly(spark, tmp_path):
    """_delete_partition_dirs must spell dirs exactly like Spark's
    escapePathName — entries mixing escaped and unescaped specials
    ('a b/c', 'x$:y') previously matched neither all-quoted nor raw
    spellings, so emptied partitions survived (round-3 ADVICE)."""
    import os
    from reductstore_spark.sources.store import _escape_path_name

    hostile = ["plain", "a b/c", "x$:y", "pct%20", "q?mark", "h#ash",
               "br[ack]ets", "back\\slash", "st*ar", 'quo"te', "un~der",
               "eq=sign", "c^aret", "{curly}", "uni-é中"]
    root = str(tmp_path / "esc")
    rows = [(e, 1) for e in hostile]
    (spark.createDataFrame(rows, "entry string, v int")
     .write.partitionBy("entry").parquet(root))
    on_disk = {d for d in os.listdir(root) if d.startswith("entry=")}
    expect = {f"entry={_escape_path_name(e)}" for e in hostile}
    assert on_disk == expect


def test_remove_matched_deletes_emptied_hostile_partition(spark, tmp_path):
    """A fully-matched partition whose entry name mixes escaped and
    unescaped specials must actually disappear from disk."""
    from reductstore_spark.sources.store import RecordStore

    store = RecordStore(spark, str(tmp_path / "hs"))
    entry = "a b/c$:x"
    df = spark.createDataFrame(mk_rows(entry, 4), SCHEMA)
    store.write(df)
    assert store.read().count() == 4
    store.remove_matched(store.read())  # match everything
    assert store.read().count() == 0
    # the partition dir itself is gone (no resurrect-on-append)
    import os
    bucket_dir = os.path.join(str(tmp_path / "hs"), "bucket=b1")
    leftovers = [d for d in os.listdir(bucket_dir)] if os.path.isdir(bucket_dir) else []
    assert not any(d.startswith("entry=") for d in leftovers), leftovers


def test_info_plan_has_no_shadow_window(spark, store):
    """entry_info/bucket_info answer from a windowless aggregate over the
    raw table (min/max stay footer-answerable, count via distinct ts) —
    the shadow-dedup row_number window must not appear (round-2 verdict
    #5)."""
    store.write(spark.createDataFrame(mk_rows("e1", 3), SCHEMA))
    raw = store._raw().where(
        (F.col("bucket") == "b1") & (F.col("entry") == "e1"))
    agg = raw.agg(F.count_distinct("ts"), F.min("ts"), F.max("ts"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan


def test_write_compression_codec_lands_in_footers(spark, store):
    """Replication transfer-compression parity (reference Issue-1348):
    write(compression=) must actually apply the codec per batch —
    verified from the parquet footers, not the API surface."""
    import os
    import pyarrow.parquet as pq

    store.write(spark.createDataFrame(mk_rows("gz", 3), SCHEMA),
                compression="gzip")
    store.write(spark.createDataFrame(mk_rows("raw", 3), SCHEMA),
                compression="none")
    store.write(spark.createDataFrame(mk_rows("dflt", 3), SCHEMA))

    def codecs(entry):
        found = set()
        root = store.root
        for dirpath, _d, files in os.walk(root):
            if f"entry={entry}" not in dirpath:
                continue
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(dirpath, f)).metadata
                for rg in range(md.num_row_groups):
                    for c in range(md.num_columns):
                        found.add(md.row_group(rg).column(c).compression)
        return found

    assert codecs("gz") == {"GZIP"}
    assert codecs("raw") == {"UNCOMPRESSED"}
    default = codecs("dflt")
    assert default and "GZIP" not in default  # session default (zstd/snappy)


def test_memo_effect_runs_build_once_per_session_and_key(spark):
    """Round-5 narrowing of the gate memo: the expensive side effect runs
    once per (session, entry, sf_dir); repeated invocation returns the
    same small descriptor, never a cached DataFrame."""
    from reductstore_spark.entry_queries import _GATE_MEMO, _memo_effect

    calls = []

    def build():
        calls.append(1)
        return "descriptor"

    d1 = _memo_effect(spark, "_memo_test", "/x", build)
    d2 = _memo_effect(spark, "_memo_test", "/x", build)
    d3 = _memo_effect(spark, "_memo_test", "/y", build)
    assert d1 == d2 == d3 == "descriptor"
    assert len(calls) == 2  # distinct sf_dir -> fresh build
    # weakly keyed on the session: entries are per-session, collectable
    assert ("_memo_test", "/x") in _GATE_MEMO[spark]
    del _GATE_MEMO[spark][("_memo_test", "/x")]
    del _GATE_MEMO[spark][("_memo_test", "/y")]


def test_gate_entry_reinvocation_builds_fresh_plan(spark, sf_dir):
    """A second invocation of a BENCH_EXCLUDE entry re-executes a real
    (cheap) read plan over the memoized materialization — distinct
    DataFrame objects, identical results (round-4 verdict #2 hygiene)."""
    from reductstore_spark.entry_queries import QUERIES

    fn, _sql = QUERIES["strict_error"]
    df1 = fn(spark, sf_dir)
    df2 = fn(spark, sf_dir)
    assert df1 is not df2  # fresh plan per call, not a cached frame
    assert sorted(map(tuple, df1.collect())) == \
        sorted(map(tuple, df2.collect()))


def test_declared_schema_and_write_casts(spark, store):
    """_raw() reads with STORE_SCHEMA: the same schema for a store never
    written, a written one and one a remove emptied, and the schema
    Spark infers from the files.  A batch with non-canonical numeric
    types (int ts, bigint state) is stored as the declared types, so
    the declared read decodes it."""
    from reductstore_spark.schema import STORE_SCHEMA

    assert store._raw().schema == STORE_SCHEMA
    odd = SCHEMA.replace("ts long", "ts int").replace("state int", "state bigint")
    store.write(spark.createDataFrame(mk_rows("e1", 3), odd))
    assert spark.read.parquet(store.root).schema == STORE_SCHEMA
    assert store._raw().schema == STORE_SCHEMA
    got = sorted((r["ts"], r["state"], r["labels"]["a"])
                 for r in store.read().collect())
    assert got == [(0, 1, "0"), (1_000_000, 1, "1"), (2_000_000, 1, "2")]
    store.remove_matched(store.read())
    assert store._raw().count() == 0
    assert store._raw().schema == STORE_SCHEMA


_I64 = 2 ** 63


def _ts_cases():
    from hypothesis import strategies as st
    from reductstore_spark.schema import US_PER_DAY

    # |k| <= 10^8 days keeps k * US_PER_DAY ± 1 inside the long range
    boundary = st.builds(lambda k, d: k * US_PER_DAY + d,
                         st.integers(-10 ** 8, 10 ** 8),
                         st.sampled_from([-1, 0, 1]))
    return st.one_of(
        st.integers(-_I64, _I64 - 1),
        st.integers(-(2 ** 53), 0),
        st.integers(2 ** 53, _I64 - 1),
        boundary)


def test_day_of_matches_spark_ts_day(spark):
    """The driver's day bound (day_of) equals Spark's ts_day on negative
    timestamps, day boundaries ±1 µs and timestamps ≥ 2^53."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from reductstore_spark.schema import day_of, with_partition_cols

    # few examples of many timestamps: one Spark job per example
    @settings(max_examples=4, deadline=None)
    @given(st.lists(_ts_cases(), min_size=1, max_size=256))
    def check(tss):
        rows = with_partition_cols(
            spark.createDataFrame([(t,) for t in tss], "ts long")).collect()
        assert [r["ts_day"] for r in rows] == [day_of(t) for t in tss]

    check()


def test_time_range_prunes_days_of_an_untransformed_read(spark, store):
    """An untransformed read() (0 Spark jobs) with a time range scans
    only the days the range overlaps: ts_day is a partition filter, and
    the query succeeds with every other day's files unreadable.  The
    day filter sits below the shadow window and the state filter above
    it, so a newer non-FINISHED version keeps the older FINISHED one
    hidden.  A transformed read returns the same rows, unpruned, and a
    cached read is served from its cache."""
    import glob

    day = 86_400_000_000
    store.write(spark.createDataFrame(
        [r for d in range(3) for r in mk_rows("e1", 3, base=d * day)], SCHEMA))
    store.write(spark.createDataFrame(
        [("b1", "e1", day, None, "", 0, {"a": "new"}, {})], SCHEMA))
    sc = spark.sparkContext
    sc.setJobGroup("store_read_jobs", "read() runs no job")
    try:
        plain, compacted = store.read(), store.read(assume_compacted=True)
        assert list(sc.statusTracker().getJobIdsForGroup(
            "store_read_jobs")) == []
    finally:
        sc.setJobGroup("", "")
    qe = QueryEngine()
    plan = qe.query(plain, entries=["e1"], start=day, stop=2 * day) \
        ._jdf.queryExecution().sparkPlan().toString()
    part_filters = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "ts_day" in part_filters, plan
    cached = store.read().persist()
    try:
        plan = qe.query(cached, entries=["e1"], start=day, stop=2 * day) \
            ._jdf.queryExecution().sparkPlan().toString()
        assert "InMemoryTableScan" in plan, plan
    finally:
        cached.unpersist()

    def ts(df, start, stop):
        got = qe.query(df, entries=["e1"], start=start, stop=stop).collect()
        return [r["ts"] for r in got if day <= r["ts"] < 2 * day]

    live = [day + 1_000_000, day + 2_000_000]
    assert ts(plain.where(F.col("bucket") == "b1"), day, 2 * day) == live
    assert ts(plain, day, None) == live
    others = [f for f in glob.glob(store.root + "/**/*.parquet", recursive=True)
              if "ts_day=1" not in f]
    saved = {f: open(f, "rb").read() for f in others}
    try:
        for f in others:
            with open(f, "wb") as fh:
                fh.write(b"not a parquet file")
        assert ts(plain, day, 2 * day) == live
        # compacted mode trusts there are no shadows: the older version
        assert ts(compacted, day, 2 * day) == [day] + live
        with pytest.raises(Exception):
            ts(plain.where(F.lit(True)), day, 2 * day)
    finally:
        for f, data in saved.items():
            with open(f, "wb") as fh:
                fh.write(data)

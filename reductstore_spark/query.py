"""QueryEngine: the reference's query surface over records DataFrames.

Mirrors the query lifecycle (reference: storage/entry.rs:150-212,
storage/query/historical.rs:50-235, storage/bucket/query.rs:40-63):

    entries glob resolve -> time-range filter (start incl, stop excl)
    -> FINISHED-state filter -> when plan -> (k-way merge) order by
    (ts, entry)

plus the query-driven mutations: count, remove-query, label updates.

Everything is a declarative DataFrame chain: Catalyst pushes the time
range and state filters into the Parquet scan, the entry-glob filter
prunes partitions, and ordering happens once at the end (a single
range-partitioned sort — the distributed equivalent of the reference's
per-entry k-way merge).  Given an untransformed ``RecordStore.read()``
and a time range, the scan also prunes the store's ``ts_day``
partitions to the days the range overlaps.
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .condition.parser import parse_when
from .operators.glob import filter_entries, patterns_to_column
from .plans.planner import plan_parsed
from .schema import STATE_FINISHED, day_of


class QueryEngine:
    """Stateless facade; operates on any records-schema DataFrame
    (a RecordStore.read(), a mapped source, or a test fixture)."""

    def query(
        self,
        records: DataFrame,
        entries: Optional[Sequence[str]] = None,
        start: Optional[int] = None,
        stop: Optional[int] = None,
        when=None,
        strict: bool = False,
        only_metadata: bool = False,
        ordered: bool = True,
        ext=None,
        label_columns=None,
        entry_names: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        df = self._scan(records, entries, start, stop, entry_names)
        if when is not None:
            node, directives = parse_when(when)
            df = plan_parsed(df, node, directives, strict, label_columns)
            if ext is None and "#ext" in directives:
                # directive values arrive as JSON strings (parser.rs:108-125)
                import json as _json
                ext = [_json.loads(v.val) for v in directives["#ext"]]
        if ext is not None:
            from .operators.ext import apply_ext_pipeline
            df = apply_ext_pipeline(df, ext, strict,
                                    label_columns=label_columns)
        if only_metadata:
            df = df.withColumn("payload", F.lit(None).cast("binary"))
        if ordered:
            # multi-entry merge order: smallest (timestamp, entry) first
            # (bucket/query.rs:272-282)
            df = df.orderBy("ts", "entry")
        return df

    def count(self, records: DataFrame, **kwargs) -> int:
        """Count matching records without fetching payloads
        (remove_records.rs:163-216)."""
        kwargs.setdefault("only_metadata", True)
        kwargs["ordered"] = False
        return self.query(records, **kwargs).count()

    def matched_keys(self, records: DataFrame, **kwargs) -> DataFrame:
        """(bucket, entry, ts) keys a query matches — the input to
        RecordStore.remove_matched (query-driven bulk delete)."""
        kwargs["ordered"] = False
        kwargs.setdefault("only_metadata", True)
        return self.query(records, **kwargs).select("bucket", "entry", "ts")

    def remove_query(self, store, records: DataFrame, **kwargs) -> int:
        """Delete everything the query matches (QueryType::Remove,
        remove_records.rs:62-160); returns removed record count."""
        return store.remove_matched(self.matched_keys(records, **kwargs))

    def read_one(self, records: DataFrame, bucket: str, entry: str,
                 ts: Optional[int] = None) -> DataFrame:
        """Single-record read (api/http/entry/read_single.rs): exact
        timestamp when given, else the latest FINISHED record."""
        df = records.where(
            (F.col("bucket") == bucket) & (F.col("entry") == entry)
            & (F.col("state") == STATE_FINISHED))
        if ts is not None:
            return df.where(F.col("ts") == F.lit(int(ts))).limit(1)
        return df.orderBy(F.col("ts").desc()).limit(1)

    # -- internals -------------------------------------------------------
    def _scan(
        self,
        records: DataFrame,
        entries: Optional[Sequence[str]],
        start: Optional[int],
        stop: Optional[int],
        entry_names: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """The entry, time-range and state filters as one ``where`` (one
        eager analysis); over an untransformed ``RecordStore.read()``
        with a time range, also a scan of only the overlapping days."""
        if entries is not None:
            if entry_names is not None:
                # registry-backed resolution (mirrors the reference's entry
                # registry, bucket/query.rs:96-154): the small name list is
                # already known -> tiny isin filter, prunes partitions
                selected = filter_entries(entry_names, list(entries))
                keep = F.col("entry").isin(selected)
            else:
                # no registry: compile the glob to a JVM predicate — no
                # driver round-trip / full entry-column scan per query
                keep = patterns_to_column(list(entries), F.col("entry"))
        else:
            # wildcard scan: hidden $-entries excluded (entry/system.rs),
            # JVM-side so no driver round-trip
            keep = ~F.col("entry").rlike(r"(^|/)\$")
        # TimeRangeFilter: start inclusive, stop exclusive
        # (filters/time_range.rs:8-40)
        span = []
        if start is not None:
            span.append(f"ts >= {int(start)}")
        if stop is not None:
            span.append(f"ts < {int(stop)}")
        # RecordStateFilter: only FINISHED records (historical.rs:81)
        finished = f"state = {STATE_FINISHED}"
        tag = vars(records).get("_store_read")
        # cache()/persist() return the tagged frame itself: a cached read
        # is served from its cache, not rebuilt from the store
        if tag is None or not span or records.is_cached:
            return records.where(keep & F.expr(" AND ".join(span + [finished])))
        # day pruning: ts_day is a function of ts, so like the entry and
        # ts filters it tests only shadow-window keys and goes below the
        # window; the state filter stays above it
        if start is not None:
            span.append(f"ts_day >= {day_of(int(start))}")
        if stop is not None:
            span.append(f"ts_day <= {day_of(int(stop) - 1)}")
        return tag.store.view(tag.raw, tag.assume_compacted,
                              below=keep & F.expr(" AND ".join(span)),
                              above=F.expr(finished))

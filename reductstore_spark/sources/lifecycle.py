"""Lifecycle policies: scheduled delete / compress actions.

Reference model (reductstore/src/lifecycle/action/delete.rs:16-77,
compress.rs:15-64; settings reduct_base/src/msg/lifecycle_api.rs:40-63):
per-bucket policies run periodically; the delete action removes records
``older_than`` a cutoff that also match a ``when`` condition (dry-run =
count only); the compress action zstd-compresses blocks older than a
cutoff.

Spark-native: the delete action IS the remove-query (anti-join partition
rewrite); compression is the store's Parquet codec (zstd), so the
compress action becomes compaction of old day-partitions (dropping
upsert shadows and merging small files — the operational equivalent of
the reference's block rewrite)."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import functions as F

from ..query import QueryEngine
from ..schema import US_PER_DAY


@dataclass
class LifecyclePolicy:
    bucket: str
    older_than_us: int              # age cutoff relative to `now_us`
    when: Optional[dict] = None     # extra condition on deletable records
    entries: Optional[list] = None


def run_delete_action(store, policy: LifecyclePolicy, now_us: int,
                      dry_run: bool = False, syslog=None) -> int:
    """Remove records older than the cutoff matching the condition.
    Returns the number of records removed (or would-be-removed).
    ``syslog``: optional SystemEventLog — the run's diagnostics land in
    the ``$system`` bucket (lifecycle_run events, PR-1399)."""
    qe = QueryEngine()
    # system $meta entries are excluded from lifecycle matching even when
    # explicit entry patterns would cover them (PR-1395: attachment
    # metadata must survive lifecycle delete cleanup)
    records = store.read().where(
        (F.col("bucket") == policy.bucket)
        & ~F.col("entry").rlike(r"(^|/)\$"))
    cutoff = now_us - policy.older_than_us
    kwargs = dict(stop=cutoff, when=policy.when, entries=policy.entries)
    try:
        if dry_run:
            return qe.count(records, **kwargs)
        n = qe.remove_query(store, records, **kwargs)
    except Exception as exc:
        if syslog is not None:
            syslog.log_lifecycle_run(now_us, policy.bucket, "delete",
                                     "error", message=str(exc))
        raise
    if syslog is not None:
        syslog.log_lifecycle_run(now_us, policy.bucket, "delete", "ok",
                                 processed_records=n)
    return n


def run_compress_action(store, bucket: str, older_than_us: int, now_us: int,
                        syslog=None) -> int:
    """Compact day-partitions entirely older than the cutoff: rewrite
    them (zstd store codec), dropping shadowed row versions and merging
    small append files.  Returns the number of partitions rewritten."""
    from .store import _ranked

    cutoff_day = (now_us - older_than_us) // US_PER_DAY
    old = store._raw().where(
        (F.col("bucket") == bucket) & (F.col("ts_day") < cutoff_day))
    n_parts = old.select("bucket", "entry", "ts_day").distinct().count()
    if n_parts == 0:
        return 0
    deduped = _ranked(old).where(F.col("__rn") == 1).drop("__rn")
    store._overwrite_partitions(deduped)
    if syslog is not None:
        # PR-1470: report both processed record and block counts
        n_recs = deduped.count()
        syslog.log_lifecycle_run(now_us, bucket, "compress", "ok",
                                 processed_records=n_recs,
                                 processed_blocks=n_parts)
    return n_parts

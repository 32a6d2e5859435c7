"""The benchmark's four workloads.

Each workload is a closed loop with one client: an operation starts only
after the previous one has returned and its result has been consumed.
A workload builds its inputs in ``setup`` (called several times; the
last build is the one measured), then runs whole passes of its operation
mix.  ``nominal_pass_s`` is about how long one warm pass takes at full
size on 4 cores; a run measures ``ceil(seconds / nominal_pass_s)`` passes,
so every run of a workload measures the same work.  Every operation's
result is checked against DuckDB over the same generated rows, outside
the timed region.
"""

from __future__ import annotations

import functools
import os
import shutil
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

from reductstore_spark.query import QueryEngine

from . import gen
from .gen import T_BASE, US_PER_DAY, US_PER_HOUR

SIZES = {
    # full: what the benchmark measures; toy: the smoke test
    "full": {
        "store_days": 10, "store_per_day": 120,
        "narrow_queries": 120, "upsert_frac": 0.1,
        "ingest_days": 6, "ingest_per_day": 48,
        "ingest_new": 12, "ingest_belated": 8, "ingest_payload": 100 * 1024,
        "ingest_updates": 16, "compact_every": 2,
        "docs_base": 150,
    },
    "toy": {
        "store_days": 3, "store_per_day": 48,
        "narrow_queries": 16, "upsert_frac": 0.1,
        "ingest_days": 3, "ingest_per_day": 16,
        "ingest_new": 4, "ingest_belated": 2, "ingest_payload": 100 * 1024,
        "ingest_updates": 4, "compact_every": 2,
        "docs_base": 60,
    },
}

ENTRIES = ("cam/front", "cam/rear", "lidar/top", "imu", "gps", "can")


class Ctx:
    """What a workload gets from the runner."""

    def __init__(self, spark, tmp, seed, size, tracer, duck):
        self.spark, self.tmp, self.seed = spark, tmp, seed
        self.size = SIZES[size]
        self.tracer, self.duck = tracer, duck
        self.qe = QueryEngine()

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    live descendants: the Python driver, the JVM and Spark's Python
    workers.  Unlike wall time, it does not grow when the hypervisor
    steals the machine's CPUs."""
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(pid)] = int(fields[1])
        cpu[int(pid)] = int(fields[11]) + int(fields[12])
    kids = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


class Recorder:
    """Times operations and counts failures.

    ``op`` returns the operation's result, or None when it raised; a
    raised operation and a failed check both count as failed."""

    # operations timed on their own, outside the pass they run in
    APART = ("compact",)

    def __init__(self, tracer):
        self.tracer = tracer
        self.samples = {}      # kind -> [seconds]
        self.cpu = {}          # kind -> [CPU seconds]
        self.passes = []       # seconds per whole pass
        self.bytes = 0         # bytes delivered by read operations
        self.write_bytes = []  # bytes per timed write
        self.attempted = 0
        self.failed = 0
        self._pass = 0.0

    def run_pass(self, workload):
        self._pass = 0.0
        workload.run_pass(self)
        self.passes.append(self._pass)

    def op(self, kind, fn):
        self.attempted += 1
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.op(kind):
                out = fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        dt = time.perf_counter() - t0
        self.cpu.setdefault(kind, []).append(tree_cpu_s() - c0)
        self.samples.setdefault(kind, []).append(dt)
        if kind not in self.APART:
            self._pass += dt
        return out

    def check(self, what, ok):
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)


def _consume(tracer, df):
    """Executor-side consumption: record count plus payload bytes."""
    from pyspark.sql import functions as F
    agg = df.agg(F.count(F.lit(1)).alias("n"),
                 F.coalesce(F.sum(F.length("payload")), F.lit(0)).alias("b"),
                 F.max("ts").alias("last"))
    row = tracer.action(agg, agg.collect)[0]
    return row["n"], row["b"], row["last"]


def _fetch(tracer, df):
    return tracer.action(df, df.collect)


def _rows_match(rows, expected):
    got = [(r["entry"], r["ts"], len(r["payload"]) if r["payload"] is not None else 0)
           for r in rows]
    return got == [tuple(e) for e in expected]


def build_store(ctx, tmp, rng, entries, days, per_day, payload, unfinished=0.02):
    """Write generated records into a fresh RecordStore under ``tmp``;
    returns (store, truth Arrow table)."""
    from reductstore_spark.sources.store import RecordStore
    ts, idx = gen.timeline(rng, len(entries), days, per_day)
    rec, truth = gen.records(rng, entries, ts, idx, payload, unfinished)
    os.makedirs(tmp, exist_ok=True)
    path = os.path.join(tmp, "input-0.parquet")
    pq.write_table(rec, path, compression="none")
    store = RecordStore(ctx.spark, os.path.join(tmp, "store"))
    store.write(ctx.spark.read.parquet(path))
    return store, truth


def _fresh_dir(ctx, name, i):
    path = os.path.join(ctx.tmp, f"{name}-{i}")
    prev = os.path.join(ctx.tmp, f"{name}-{i - 1}")
    shutil.rmtree(prev, ignore_errors=True)
    return path


# ---------------------------------------------------------------------------
# narrow_query
# ---------------------------------------------------------------------------

def _randint(rng, lo, hi):
    return int(rng.integers(lo, hi))


def _t_cmp(rng):
    c = _randint(rng, 40, 160)
    return {"&value": {"$gt": c}}, f"value > {c}"


def _t_logic(rng):
    c1, c2, u = _randint(rng, 100, 190), _randint(rng, 5, 50), _randint(rng, 0, 10)
    return ({"$and": [{"$or": [{"&value": {"$gt": c1}}, {"&k": {"$lt": c2}}]},
                      {"$not": [{"&user": {"$eq": u}}]}]},
            f"(value > {c1} OR k < {c2}) AND NOT (user = {u})")


def _t_arith(rng):
    c1, c2 = _randint(rng, 100, 250), _randint(rng, 6, 27)
    return ({"$and": [{"$gt": [{"$add": ["&value", "&k"]}, c1]},
                      {"$lt": [{"$mult": ["&user", 3]}, c2]}]},
            f"value + k > {c1} AND user * 3 < {c2}")


def _t_string(rng):
    s1 = gen.TAGS[_randint(rng, 0, len(gen.TAGS))][1:3]
    s2 = gen.TAGS[_randint(rng, 0, len(gen.TAGS))][-1]
    return ({"$or": [{"$contains": ["&tag", s1]}, {"$ends_with": ["&tag", s2]}]},
            f"contains(tag, '{s1}') OR suffix(tag, '{s2}')")


def _t_date(rng):
    m = _randint(rng, 10, 50)
    return ({"$and": [{"$lt": [{"$minute": ["$timestamp"]}, m]},
                      {"$lte": [{"$weekday": ["$timestamp"]}, 4]}]},
            f"minute(make_timestamp(ts)) < {m} AND isodow(make_timestamp(ts)) - 1 <= 4")


def _t_in(rng):
    users = sorted({_randint(rng, 0, 10) for _ in range(4)})
    return {"$in": ["&user", *users]}, f"user IN ({', '.join(map(str, users))})"


def _t_exists(rng):
    c = _randint(rng, 0, 80)
    return {"$and": [{"$exists": ["big"]}, {"&k": {"$gte": c}}]}, f"big AND k >= {c}"


def _t_ne(rng):
    c, s = _randint(rng, 60, 180), gen.TAGS[_randint(rng, 0, len(gen.TAGS))]
    return ({"$and": [{"&value": {"$lte": c}}, {"&tag": {"$ne": s}}]},
            f"value <= {c} AND tag <> '{s}'")


# stateless condition templates: each draws seeded constants and returns
# (when, the DuckDB predicate over the truth columns)
_TEMPLATES = (_t_cmp, _t_logic, _t_arith, _t_string, _t_date, _t_in, _t_exists, _t_ne)


# (entries argument, the entry set it resolves to)
_SELECTIONS = (
    (["imu"], ("imu",)),
    (["cam/*"], ("cam/front", "cam/rear")),
    (["lidar/top", "gps"], ("lidar/top", "gps")),
    (["*", "!cam/*"], ("lidar/top", "imu", "gps", "can")),
)


def _in_list(names):
    return ", ".join(f"'{n}'" for n in names)


class NarrowQuery:
    """Short-window stateless queries: driver-side work dominates."""

    name = "narrow_query"
    nominal_pass_s = 4.5

    def __init__(self, ctx):
        self.ctx = ctx
        sz = ctx.size
        rng = ctx.rng(1)
        hours = sz["store_days"] * 24
        self.queries = []
        for q in range(sz["narrow_queries"]):
            when, sql = _TEMPLATES[q % len(_TEMPLATES)](rng)
            # rotate the entry selection against the templates
            entries, names = _SELECTIONS[(q // len(_TEMPLATES) + q) % len(_SELECTIONS)]
            start = T_BASE + int(rng.integers(0, hours)) * US_PER_HOUR \
                + int(rng.integers(0, 60)) * 60_000_000
            self.queries.append((entries, start, start + US_PER_HOUR, when,
                                 f"entry IN ({_in_list(names)}) AND ts >= {start} "
                                 f"AND ts < {start + US_PER_HOUR} AND state = 1 "
                                 f"AND ({sql})"))
        self.next_q = 0

    def setup(self, i):
        sz = self.ctx.size
        tmp = _fresh_dir(self.ctx, "narrow", i)
        self.store, truth = build_store(self.ctx, tmp, self.ctx.rng(0), ENTRIES,
                                        sz["store_days"], sz["store_per_day"], 1024)
        self.ctx.duck.register("truth", truth)
        self.data = {"records": truth.num_rows, "payload_bytes": 1024,
                     "entries": len(ENTRIES), "days": sz["store_days"]}

    def _one(self, rec, q):
        entries, start, stop, when, sql = q
        ctx = self.ctx

        def run():
            # written once, never upserted: the compacted read path
            df = ctx.qe.query(self.store.read(assume_compacted=True), entries=entries,
                              start=start, stop=stop, when=when)
            return _fetch(ctx.tracer, df)

        rows = rec.op("query", run)
        if rows is not None:
            exp = ctx.duck.execute(
                f"SELECT entry, ts, plen FROM truth WHERE {sql} ORDER BY ts, entry"
            ).fetchall()
            rec.check(f"narrow {when} {entries}", _rows_match(rows, exp))
            rec.bytes += sum(e[2] for e in exp)

    def warmup(self, rec):
        # one pass from the end of the list (a run measures from the
        # front): first use of each condition shape loads and compiles
        # classes on both sides of py4j
        for q in self.queries[-len(_TEMPLATES):]:
            self._one(rec, q)

    def run_pass(self, rec):
        for _ in range(len(_TEMPLATES)):
            self._one(rec, self.queries[self.next_q % len(self.queries)])
            self.next_q += 1


# ---------------------------------------------------------------------------
# wide_scan
# ---------------------------------------------------------------------------

class WideScan:
    """Full-range multi-entry queries through the upsert shadow window:
    executor-side work dominates."""

    name = "wide_scan"
    nominal_pass_s = 5.5

    def __init__(self, ctx):
        self.ctx = ctx
        rng = ctx.rng(2)
        i = functools.partial(_randint, rng)
        live = "SELECT * FROM truth WHERE state = 1"
        c, n = i(20, 80), i(2, 5)
        L, c2 = i(200, 800), i(10, 60)
        m = i(20, 60)
        h, c3 = i(1, 4), i(100, 160)
        b, a, c4 = i(1, 4), i(1, 3), i(185, 196)
        c5, M = i(20, 80), i(2000, 6000)
        gate_us = h * US_PER_HOUR
        self.shapes = [
            ("each_n", {"$and": [{"&value": {"$gt": c}}, {"$each_n": n}]}, False, None,
             f"SELECT * FROM ({live}) WHERE value > {c} QUALIFY "
             f"row_number() OVER (PARTITION BY entry ORDER BY ts) % {n} = 0"),
            ("limit", {"$and": [{"&value": {"$gt": c2}}, {"$limit": L}]}, False, None,
             f"SELECT * FROM ({live}) WHERE value > {c2} QUALIFY "
             f"row_number() OVER (PARTITION BY entry ORDER BY ts) <= {L}"),
            ("each_t", {"$each_t": f"{m}m"}, False, None,
             functools.partial(_each_t, live, m * 60_000_000)),
            ("gate", {"$gate": [f"{h}h", {"&value": {"$gt": c3}}]}, False, None,
             functools.partial(_gate, live, c3, gate_us)),
            ("ctx", {"#ctx_before": b, "#ctx_after": a, "&value": {"$gt": c4}}, False,
             None,
             f"SELECT * FROM (SELECT *, CASE WHEN value > {c4} THEN 1 ELSE 0 END AS m "
             f"FROM ({live})) QUALIFY "
             f"max(m) OVER (PARTITION BY entry ORDER BY ts ROWS BETWEEN CURRENT ROW "
             f"AND {b} FOLLOWING) = 1 OR max(m) OVER (PARTITION BY entry ORDER BY ts "
             f"ROWS BETWEEN {a} PRECEDING AND CURRENT ROW) = 1"),
            ("merge", {"&k": {"$lt": c5}}, True, M,
             f"SELECT * FROM ({live}) WHERE k < {c5} ORDER BY ts, entry LIMIT {M}"),
        ]
        self.expected = {}

    def setup(self, i):
        sz = self.ctx.size
        ctx = self.ctx
        tmp = _fresh_dir(ctx, "wide", i)
        rng = ctx.rng(0)
        self.store, base = build_store(ctx, tmp, rng, ENTRIES, sz["store_days"],
                                       sz["store_per_day"], 1024)
        # belated upsert batch: same (entry, ts), new labels and payload
        pick = np.sort(rng.choice(base.num_rows, int(base.num_rows * sz["upsert_frac"]),
                                  replace=False))
        names = base.column("entry").to_numpy(zero_copy_only=False)[pick]
        idx = np.array([ENTRIES.index(e) for e in names])
        ts = base.column("ts").to_numpy()[pick]
        rec, upd = gen.records(rng, ENTRIES, ts, idx, 1024)
        path = os.path.join(tmp, "input-1.parquet")
        pq.write_table(rec, path, compression="none")
        self.store.write(ctx.spark.read.parquet(path))
        duck = ctx.duck
        duck.register("base_truth", base)
        duck.register("upd_truth", upd)
        duck.execute("CREATE OR REPLACE TABLE truth AS "
                     "SELECT * FROM base_truth ANTI JOIN upd_truth USING (entry, ts) "
                     "UNION ALL SELECT * FROM upd_truth")
        self.expected = {}
        self.data = {"records": base.num_rows, "upserted": upd.num_rows,
                     "payload_bytes": 1024, "entries": len(ENTRIES),
                     "days": sz["store_days"]}

    def _one(self, rec, shape):
        name, when, ordered, limit, sql = shape
        ctx = self.ctx

        def run():
            df = ctx.qe.query(self.store.read(), entries=["*"], when=when,
                              ordered=ordered)
            if limit is not None:
                df = df.limit(limit)
            return _consume(ctx.tracer, df)

        got = rec.op("query", run)
        if got is not None:
            if name not in self.expected:
                self.expected[name] = sql(ctx.duck) if callable(sql) else tuple(
                    ctx.duck.execute(f"SELECT count(*), coalesce(sum(plen), 0), "
                                     f"max(ts) FROM ({sql})").fetchone())
            rec.check(f"wide {name}", tuple(got) == self.expected[name])
            rec.bytes += got[1]

    def warmup(self, rec):
        # one pass: a pass here costs about as much as two of narrow_query's
        self.run_pass(rec)

    def run_pass(self, rec):
        for shape in self.shapes:
            self._one(rec, shape)


def _walk_rows(duck, live, cond="TRUE"):
    """Per-entry ordered (entry, ts, plen, cond) rows for the stateful
    replays below."""
    return duck.execute(f"SELECT entry, ts, plen, ({cond}) FROM ({live}) "
                        f"ORDER BY entry, ts").fetchall()


def _summary(kept):
    return (len(kept), sum(r[2] for r in kept), max((r[1] for r in kept), default=None))


def _each_t(live, period_us, duck):
    """$each_t replay: per entry, the first record primes the clock and is
    dropped; a record is kept once ``period`` has passed since the last
    kept one."""
    kept, entry, last = [], None, 0
    for r in _walk_rows(duck, live):
        if r[0] != entry:
            entry, last = r[0], r[1]
        elif r[1] - last >= period_us:
            kept.append(r)
            last = r[1]
    return _summary(kept)


def _gate(live, c, dur_us, duck):
    """$gate replay: a rising edge of the input opens a window of ``dur``;
    inside it the gate mirrors the input; at expiry a latch holds it false
    until the input has been seen false once."""
    kept, entry = [], None
    for r in _walk_rows(duck, live, f"value > {c}"):
        inp, ts = r[3], r[1]
        if r[0] != entry:
            entry, deadline, prev, latch = r[0], None, False, False
        if latch or (deadline is not None and ts >= deadline):
            latch, deadline, prev = inp, None, inp
            continue
        if deadline is None and not prev and inp:
            deadline = ts + dur_us
        prev = inp
        if inp and deadline is not None and ts < deadline:
            kept.append(r)
    return _summary(kept)


# ---------------------------------------------------------------------------
# ingest_mutate
# ---------------------------------------------------------------------------

_LIVE_SQL = ("SELECT entry, ts, state, CAST(value AS VARCHAR), CAST(k AS VARCHAR), "
             "tag, plen FROM truth ORDER BY entry, ts")


class IngestMutate:
    """Writes beside reads: batch writes with belated duplicates, a
    read-after-write query, label updates, a query-driven remove and a
    periodic compaction."""

    name = "ingest_mutate"
    nominal_pass_s = 10.0
    entries = ENTRIES[:4]

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self, i):
        sz = self.ctx.size
        ctx = self.ctx
        self.tmp = _fresh_dir(ctx, "ingest", i)
        self.rng = ctx.rng(3)
        self.store, truth = build_store(ctx, self.tmp, self.rng, self.entries,
                                        sz["ingest_days"], sz["ingest_per_day"], 1024)
        ctx.duck.register("base_truth", truth)
        ctx.duck.execute("CREATE OR REPLACE TABLE truth AS SELECT * FROM base_truth")
        self.head = int(truth.column("ts").to_numpy().max()) + US_PER_HOUR
        self.cycle = 0
        self.data = {"records": truth.num_rows, "entries": len(self.entries),
                     "days": sz["ingest_days"], "write_payload_bytes": sz["ingest_payload"],
                     "batch_new": sz["ingest_new"], "batch_belated": sz["ingest_belated"]}

    def _live_ok(self):
        from pyspark.sql import functions as F
        rows = self.store.read().select(
            "entry", "ts", "state", F.col("labels")["value"], F.col("labels")["k"],
            F.col("labels")["tag"], F.length("payload")).orderBy("entry", "ts").collect()
        exp = self.ctx.duck.execute(_LIVE_SQL).fetchall()
        return [tuple(r) for r in rows] == [tuple(e) for e in exp]

    def warmup(self, rec):
        pass

    def run_pass(self, rec):
        ctx, sz, rng, duck = self.ctx, self.ctx.size, self.rng, self.ctx.duck
        c = self.cycle
        self.cycle += 1
        # 1. batch write: new records at the head of time plus belated
        #    duplicates of existing timestamps
        heads = [self.entries[(2 * c) % 4], self.entries[(2 * c + 1) % 4]]
        n_new = sz["ingest_new"]
        new_ts = self.head + np.arange(n_new, dtype=np.int64) * 1_000_000
        new_idx = np.array([self.entries.index(heads[j % 2]) for j in range(n_new)])
        keys = duck.execute("SELECT entry, ts FROM truth ORDER BY entry, ts").fetchall()
        pick = rng.choice(len(keys), sz["ingest_belated"], replace=False)
        old_ts = np.array([keys[j][1] for j in pick], dtype=np.int64)
        old_idx = np.array([self.entries.index(keys[j][0]) for j in pick])
        batch, btruth = gen.records(rng, self.entries, np.concatenate([new_ts, old_ts]),
                                    np.concatenate([new_idx, old_idx]),
                                    sz["ingest_payload"])
        path = os.path.join(self.tmp, f"batch-{c}.parquet")
        pq.write_table(batch, path, compression="none")
        nbytes = batch.num_rows * sz["ingest_payload"]

        def write():
            self.store.write(ctx.spark.read.parquet(path))
            return nbytes

        if rec.op("write", write) is not None:
            rec.write_bytes.append(nbytes)
        duck.register("batch_truth", btruth)
        duck.execute("DELETE FROM truth WHERE (entry, ts) IN "
                     "(SELECT (entry, ts) FROM batch_truth)")
        duck.execute("INSERT INTO truth SELECT * FROM batch_truth")
        rec.check("live set after write", self._live_ok())
        window = (int(new_ts[0]), int(new_ts[-1]) + 1)
        self.head = int(new_ts[-1]) + US_PER_HOUR

        # 2. read-after-write on the window just written
        cval = int(rng.integers(50, 200))

        def read():
            df = ctx.qe.query(self.store.read(), entries=heads, start=window[0],
                              stop=window[1], when={"&value": {"$lt": cval}})
            return _fetch(ctx.tracer, df)

        rows = rec.op("query", read)
        if rows is not None:
            exp = duck.execute(
                f"SELECT entry, ts, plen FROM truth WHERE entry IN ({_in_list(heads)}) "
                f"AND ts >= {window[0]} AND ts < {window[1]} AND state = 1 "
                f"AND value < {cval} ORDER BY ts, entry").fetchall()
            rec.check("read-after-write", _rows_match(rows, exp))
            rec.bytes += sum(e[2] for e in exp)

        # 3. label update: set a tag, drop the k label
        keys = duck.execute("SELECT entry, ts FROM truth ORDER BY entry, ts").fetchall()
        pick = rng.choice(len(keys), sz["ingest_updates"], replace=False)
        upd = [("bench", keys[j][0], int(keys[j][1]), {"tag": f"u{c}"}, ["k"]) for j in pick]

        def update():
            df = ctx.spark.createDataFrame(
                upd, "bucket string, entry string, ts long, "
                     "upsert map<string,string>, remove array<string>")
            return self.store.update_labels(df)

        n = rec.op("update", update)
        if n is not None:
            rec.check("update count", n == len(upd))
            for _b, e, t, _u, _r in upd:
                duck.execute(f"UPDATE truth SET tag = 'u{c}', k = NULL "
                             f"WHERE entry = '{e}' AND ts = {t}")
            rec.check("live set after update", self._live_ok())

        # 4. remove every second record of one old day of one entry
        entry = self.entries[c % 4]
        day0 = T_BASE + (c // 4 % sz["ingest_days"]) * US_PER_DAY
        rm_sql = (f"SELECT entry, ts FROM truth WHERE entry = '{entry}' AND ts >= {day0} "
                  f"AND ts < {day0 + US_PER_DAY} AND state = 1 QUALIFY "
                  f"row_number() OVER (PARTITION BY entry ORDER BY ts) % 2 = 0")
        expected = duck.execute(rm_sql).fetchall()
        n = rec.op("remove", lambda: ctx.qe.remove_query(
            self.store, self.store.read(), entries=[entry], start=day0,
            stop=day0 + US_PER_DAY, when={"$each_n": 2}))
        if n is not None:
            rec.check("remove count", n == len(expected))
            duck.execute(f"DELETE FROM truth WHERE (entry, ts) IN "
                         f"(SELECT (entry, ts) FROM ({rm_sql}))")
            rec.check("live set after remove", self._live_ok())

        # 5. periodic compaction, timed apart from the pass
        if c % sz["compact_every"] == sz["compact_every"] - 1:
            rec.op("compact", self.store.compact)
            rec.check("live set after compact", self._live_ok())


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

class CorpusDedup:
    """Passes over the dedup family on a seeded corpus with injected
    near-duplicates; bypasses the store and condition layers."""

    name = "corpus_dedup"
    nominal_pass_s = 10.0

    def __init__(self, ctx):
        from reductstore_spark import entry_queries as eq
        self.ctx = ctx
        self.calls = [
            ("exact", self._exact, "SELECT min(doc_id) AS doc_id FROM documents "
                                   "GROUP BY md5(text)"),
            ("minhash_pairs", self._minhash_pairs, eq.SQL_DEDUP_MINHASH),
            ("simhash_components", self._simhash_components,
             eq.SQL_DEDUP_SIMHASH_COMPONENTS),
            ("minhash_components", self._minhash_components,
             eq.SQL_DEDUP_MINHASH_COMPONENTS),
            ("components", self._components, eq.SQL_DEDUP_COMPONENTS),
        ]
        self.expected = {}

    def setup(self, i):
        ctx = self.ctx
        tmp = _fresh_dir(ctx, "dedup", i)
        os.makedirs(tmp, exist_ok=True)
        docs = gen.documents(ctx.rng(4), ctx.size["docs_base"])
        self.path = os.path.join(tmp, "documents.parquet")
        pq.write_table(docs, self.path)
        ctx.duck.register("documents", docs)
        self.text_bytes = sum(len(t.as_py().encode()) for t in docs.column("text"))
        self.expected = {}
        self.data = {"documents": docs.num_rows, "text_bytes": self.text_bytes}

    def _docs(self):
        return self.ctx.spark.read.parquet(self.path)

    def _exact(self, d):
        return d.exact_dedup_keep_first(self._docs(), "doc_id", "text").select("doc_id")

    def _minhash_pairs(self, d):
        return d.minhash_lsh_pairs(self._docs(), "doc_id", "text", shingle_k=3,
                                   num_hashes=8, num_bands=4, threshold=0.5)

    def _simhash_components(self, d):
        return d.simhash_near_dup_components(self._docs(), "doc_id", "text",
                                             max_hamming=3)

    def _minhash_components(self, d):
        return d.minhash_near_dup_components(self._docs(), "doc_id", "text",
                                             shingle_k=3, num_hashes=8, num_bands=4,
                                             threshold=0.5)

    def _components(self, d):
        from pyspark.sql import functions as F
        docs = self._docs()
        comp = d.connected_components(self._minhash_pairs(d))
        return (docs.select("doc_id")
                .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
                .select("doc_id", F.coalesce("component", "doc_id").alias("component")))

    def _one(self, rec, call):
        from reductstore_spark.caching import release_caches
        from reductstore_spark.operators import dedup
        name, build, sql = call
        ctx = self.ctx

        def run():
            df = build(dedup)
            return _fetch(ctx.tracer, df)

        rows = rec.op(f"dedup.{name}", run)
        release_caches()
        if rows is not None:
            if name not in self.expected:
                self.expected[name] = sorted(tuple(r) for r in ctx.duck.execute(sql).fetchall())
            rec.check(f"dedup {name}", sorted(tuple(r) for r in rows) == self.expected[name])
            rec.bytes += self.text_bytes

    def warmup(self, rec):
        pass

    def run_pass(self, rec):
        for call in self.calls:
            self._one(rec, call)


WORKLOADS = {w.name: w for w in (NarrowQuery, WideScan, IngestMutate, CorpusDedup)}

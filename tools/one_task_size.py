"""Time a day-pruned store query read as one task against the same query
spread over the cores (range-partitioned sort), by scan size: the
measurement behind ``query.ONE_TASK_BYTES``.

Usage: python tools/one_task_size.py [TMP_DIR] [REPS]

Builds a seeded two-entry store under TMP_DIR (default
``.recbench_tmp/one_task``; ~65 MB): ``small`` writes ~0.5 MB a day,
``big`` ~3.7 MB, 16 days each, 1 KB incompressible payloads.  Each case
queries whole days [day 0, day k) of one entry, in three shapes
(stateless condition, the same over the compacted read, ``$each_n``),
and collects the rows.  Spark's split settings are the cluster defaults
(``openCostInBytes`` 4m; ``maxPartitionBytes`` above every scan, so
Spark's own split size, max(openCost, total / cores), decides the
spread side).  Sides alternate order per repetition; both must return
the same rows.  Prints one table row per (shape, size): median ms of
each side, their ratio and how often one task won.
"""
from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from recbench import gen  # noqa: E402
from recbench.gen import T_BASE, US_PER_DAY  # noqa: E402
from reductstore_spark import query as Q  # noqa: E402
from reductstore_spark.session import get_session  # noqa: E402
from reductstore_spark.sources.store import RecordStore  # noqa: E402

SHAPES = {"stateless": ({"&value": {"$gt": 100}}, False),
          "compacted": ({"&value": {"$gt": 100}}, True),
          "each_n": ({"$each_n": 2}, False)}
CASES = [("small", k) for k in (1, 2, 4, 8)] + [("big", k) for k in (1, 2, 4, 8, 16)]


def build(spark, tmp):
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(5)
    store = RecordStore(spark, os.path.join(tmp, "store"))
    for entry, per_day in (("small", 450), ("big", 3600)):
        ts, idx = gen.timeline(rng, 1, 16, per_day)
        rec, _ = gen.records(rng, [entry], ts, idx, 1024, 0.02)
        path = os.path.join(tmp, f"in-{entry}.parquet")
        pq.write_table(rec, path, compression="none")
        store.write(spark.read.parquet(path))
    return store


def main():
    tmp = sys.argv[1] if len(sys.argv) > 1 else ".recbench_tmp/one_task"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_session("one-task-size", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    store = build(spark, tmp)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1g")
    spark.conf.set("spark.sql.files.openCostInBytes", "4m")
    qe = Q.QueryEngine()

    def run(entry, days, shape, one_task):
        when, compacted = SHAPES[shape]
        Q.ONE_TASK_BYTES = 1 << 62 if one_task else -1
        t = time.perf_counter()
        rows = qe.query(store.read(assume_compacted=compacted), entries=[entry],
                        start=T_BASE, stop=T_BASE + days * US_PER_DAY,
                        when=when).collect()
        return time.perf_counter() - t, len(rows)

    for shape in SHAPES:  # warm-up: first use of each plan compiles code
        for case in CASES:
            run(*case, shape, True)
            run(*case, shape, False)
    times = {}
    for rep in range(reps):
        for shape in SHAPES:
            for case in CASES:
                res = {side: run(*case, shape, side)
                       for side in ((True, False) if rep % 2 == 0 else (False, True))}
                assert res[True][1] == res[False][1], (shape, case, res)
                times.setdefault((shape, case), []).append((res[True][0], res[False][0]))
    print(f"{'shape':10} {'MiB':>5} {'files':>5} {'one ms':>7} {'spread ms':>9} "
          f"{'ratio':>5}  one wins")
    for (shape, (entry, days)), pairs in times.items():
        size = store.scan_bytes([entry], T_BASE, T_BASE + days * US_PER_DAY)
        files = store.scan_bytes([entry], T_BASE, T_BASE + days * US_PER_DAY,
                                 file_cost=1) - size
        one = statistics.median(p[0] for p in pairs) * 1e3
        spread = statistics.median(p[1] for p in pairs) * 1e3
        wins = sum(a < b for a, b in pairs)
        print(f"{shape:10} {size / 2**20:5.1f} {files:5} {one:7.0f} {spread:9.0f} "
              f"{one / spread:5.2f}  {wins}/{len(pairs)}")
    spark.stop()


if __name__ == "__main__":
    main()

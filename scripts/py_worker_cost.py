#!/usr/bin/env python
"""Fixed cost of Spark's Python processes in a get_spark session.

Usage: python scripts/py_worker_cost.py [--cpus N] [--repeats R]

Prints one JSON line:
  - worker_pyspark / zip_fallback: the pyspark a Python worker imported,
    and whether it came from $SPARK_HOME/python/lib/pyspark.zip (the
    session falls back to Spark's own worker launch when that zip holds
    another pyspark version than the installed one);
  - read_wall_s: median wall time of count() over a trivial Python
    DataSource of 1/6/24/60 partitions (one row each), workers warm;
  - per_partition_wall_ms: least-squares slope of those times, and
    per_task_ms, the slope times the N task slots: the fixed cost of one
    Python DataSource task;
  - stream_first_trigger_ms / stream_first_batch_ms: medians, over R
    queries, of the time from writeStream.start() to the source runner's
    first latestOffset() call and to the first reported progress, for a
    trivial Python streaming source (each query starts its own runner).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
from pyspark.sql.datasource import (  # noqa: E402
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from postrack_spark.session import get_spark  # noqa: E402

PARTITIONS = (1, 6, 24, 60)


class _Reader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n = int(options.get("partitions", "1"))

    def partitions(self):
        return [InputPartition(i) for i in range(self.n)]

    def read(self, partition):
        yield (partition.value,)


class _StreamReader(DataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        self.mark = options["mark"]

    def initialOffset(self):
        return {"i": 0}

    def latestOffset(self):
        if not os.path.exists(self.mark):
            with open(self.mark, "w") as f:
                f.write(repr(time.time()))
        return {"i": 1}

    def partitions(self, start, end):
        return [InputPartition(0)]

    def read(self, partition):
        yield (0,)


class _Trivial(DataSource):
    @classmethod
    def name(cls):
        return "py_worker_cost_trivial"

    def schema(self):
        return "v int"

    def reader(self, schema):
        return _Reader(self.options)

    def streamReader(self, schema):
        return _StreamReader(self.options)


def _worker_pyspark(batches):
    import pyspark

    for _ in batches:
        yield pa.RecordBatch.from_pydict({"f": [pyspark.__file__]})


def _read_wall_s(spark, n: int) -> float:
    t = time.perf_counter()
    spark.read.format(_Trivial.name()).option("partitions", n).load().count()
    return time.perf_counter() - t


def _stream_start_ms(spark, work: str, i: int) -> tuple[float, float]:
    mark = os.path.join(work, f"first_trigger.{i}")
    t0 = time.time()
    q = (
        spark.readStream.format(_Trivial.name())
        .option("mark", mark)
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", os.path.join(work, f"ckpt.{i}"))
        .trigger(processingTime="60 seconds")
        .start()
    )
    try:
        while q.lastProgress is None:
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            time.sleep(0.005)
        first_batch = time.time()
    finally:
        q.stop()
    with open(mark) as f:
        first_trigger = float(f.read())
    return 1000 * (first_trigger - t0), 1000 * (first_batch - t0)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--cpus", type=int, default=min(4, len(os.sched_getaffinity(0))))
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()
    spark = get_spark("py-worker-cost", cpus=args.cpus)
    try:
        spark.dataSource.register(_Trivial)
        worker = spark.range(1).mapInArrow(_worker_pyspark, "f string").first()["f"]
        _read_wall_s(spark, args.cpus)  # start and fork the workers
        walls = {
            n: statistics.median(_read_wall_s(spark, n) for _ in range(args.repeats))
            for n in PARTITIONS
        }
        mean_n = statistics.fmean(PARTITIONS)
        mean_s = statistics.fmean(walls.values())
        slope = sum((n - mean_n) * (walls[n] - mean_s) for n in PARTITIONS) / sum(
            (n - mean_n) ** 2 for n in PARTITIONS
        )
        with tempfile.TemporaryDirectory(prefix="py_worker_cost_") as work:
            starts = [_stream_start_ms(spark, work, i) for i in range(args.repeats)]
    finally:
        spark.stop()
    print(
        json.dumps(
            {
                "cpus": args.cpus,
                "worker_pyspark": worker,
                "zip_fallback": "pyspark.zip" in worker,
                "read_wall_s": {str(n): round(s, 3) for n, s in walls.items()},
                "per_partition_wall_ms": round(1000 * slope, 1),
                "per_task_ms": round(1000 * slope * args.cpus, 1),
                "stream_first_trigger_ms": round(statistics.median(s[0] for s in starts)),
                "stream_first_batch_ms": round(statistics.median(s[1] for s in starts)),
            }
        )
    )


if __name__ == "__main__":
    main()

"""``bench.py``'s frozen sentinel query in a JVM of its own.

    python3 sentinel.py <lineitem.parquet>

Starts a Spark session whose configuration is fixed here and takes
nothing from the program under test (``local[<cores>]``, a small heap,
Spark's default SQL settings), runs the query ``WARM_QUERIES`` times and
prints ``ready``. Then, for each line read on stdin, it runs the query (filter,
group, sum and count over lineitem into a ``noop`` sink) and prints its
wall in seconds. At the end of stdin it stops the session and waits for
its JVM to exit.
"""

from __future__ import annotations

import os
import sys
import time

HEAP = "512m"
#: queries run before ``ready``: the first is cold, and the JIT keeps
#: shortening the next few
WARM_QUERIES = 30


def main(path: str) -> int:
    from pyspark.sql import SparkSession

    from run import stop_spark
    # lowest CPU priority, inherited by the JVM: the warm-up queries run
    # beside the program's set-up and take only the cores it leaves idle
    os.nice(19)
    cores = len(os.sched_getaffinity(0))
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .appName("perfbench-sentinel")
             .config("spark.driver.memory", HEAP)
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    def query() -> float:
        t0 = time.perf_counter()
        (spark.read.parquet(path)
         .filter("l_quantity <= 25").groupBy("l_returnflag")
         .agg({"l_extendedprice": "sum", "*": "count"})
         .write.mode("overwrite").format("noop").save())
        return time.perf_counter() - t0

    try:
        for _ in range(WARM_QUERIES):
            query()
        print("ready", flush=True)
        for _ in sys.stdin:
            print(repr(query()), flush=True)
    finally:
        stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))

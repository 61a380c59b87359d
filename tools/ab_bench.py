"""Interleaved A/B timing of registry entries between two checkouts.

Runs the same entry alternately from checkout A (baseline) and B
(working tree) inside ONE Spark session (module caches purged between
variants), so environment noise waves hit both sides equally. Reports
per-rep times, min per side, and the frozen sentinel around each rep.

Both sides share that session, so a session-level setting (a static
conf such as ``spark.sql.codegen.cache.maxEntries``, or anything else
``get_spark`` sets before the session starts) comes from checkout A
and cannot be A/B-ed here: compare such a change across separate
processes instead. The same holds for PySpark's call-site capture
(``spark.python.sql.dataFrameDebugging.enabled``), which PySpark
reads once per process. Each rep also prints how many classes Spark's
code generator compiled during it (``CodegenMetrics``); a warm rep of
an entry whose plans inline no per-call literals compiles none, so a
change that breaks plan reuse shows up as a nonzero count. Next to it
goes the number of py4j commands the driver sent to the JVM during
the rep (build and sink): the driver-side plan-build layer, which a
change that builds expressions Column by Column instead of as one
parsed string shows as a higher count.

Usage:
    python tools/ab_bench.py <dirA> <dirB> <reps> <entry> [entry ...]
"""

from __future__ import annotations

import os
import sys
import time

from py4j.clientserver import ClientServerConnection

DIR_A, DIR_B = sys.argv[1], sys.argv[2]
REPS = int(sys.argv[3])
ENTRIES = sys.argv[4:]
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

sys.path.insert(0, DIR_A)
from cl_data_frame_spark.session import get_spark  # noqa: E402

spark = get_spark("ab_bench")
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id)").collect()


def load(root):
    for m in [k for k in sys.modules
              if k.startswith("cl_data_frame_spark") or k == "__spark_entry__"]:
        del sys.modules[m]
    sys.path[0] = root
    import __spark_entry__ as E
    try:
        E._matview_parts(spark, SF)
    except AttributeError:
        pass
    return E.queries()


def sentinel():
    t0 = time.time()
    df = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .filter("l_quantity <= 25").groupBy("l_returnflag")
          .agg({"l_extendedprice": "sum", "*": "count"}))
    df.write.mode("overwrite").format("noop").save()
    return time.time() - t0


def compiles():
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


SENT = [0]
_send_command = ClientServerConnection.send_command


def _counted_send_command(self, command):
    SENT[0] += 1
    return _send_command(self, command)


ClientServerConnection.send_command = _counted_send_command


def run(qs, name):
    c0, p0 = compiles(), SENT[0]
    t0 = time.time()
    df = qs[name](spark, SF)
    t1 = time.time()
    df.write.mode("overwrite").format("noop").save()
    t2 = time.time()
    cmds = SENT[0] - p0
    spark.catalog.clearCache()
    # localCheckpoint blocks are released by the ContextCleaner only
    # after the JVM-side plan objects are collected; without a nudge
    # they accumulate across the interleaved reps and bias whichever
    # side runs later (observed: +12s on the 4th entry's B reps)
    spark._jvm.System.gc()
    return t1 - t0, t2 - t1, compiles() - c0, cmds


for name in ENTRIES:
    res = {"A": [], "B": []}
    for rep in range(REPS):
        for side, root in (("A", DIR_A), ("B", DIR_B)):
            qs = load(root)
            b, e, c, p = run(qs, name)
            res[side].append((b, e))
            print(f"{name} {side} rep{rep}: build {b:6.2f} exec {e:6.2f} "
                  f"total {b+e:6.2f}  compiles {c:5d}  py4j {p:6d}  "
                  f"sent {sentinel():.3f}", flush=True)
    for side in ("A", "B"):
        tots = [b + e for b, e in res[side]]
        bs = [b for b, _ in res[side]]
        print(f"{name} {side} MIN total {min(tots):.2f} "
              f"(build {min(bs):.2f})  all {['%.2f' % t for t in tots]}",
              flush=True)
spark.stop()

"""Session-level reuse: generated classes compile once per plan shape,
and relations built on the driver stay on the JVM."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cl_data_frame_spark.operators import graph as G
from cl_data_frame_spark.session import local_frame
from cl_data_frame_spark.sources import snapshots as S


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_rerun_after_other_plans_compiles_nothing(spark, sf_dir):
    """A registry entry whose plans inline no per-call literal, rerun
    after more than Spark's default 100 other generated classes,
    reuses every class it compiled the first time."""
    import __spark_entry__ as E
    entry = E.queries()["r_slice_mask"]

    def run():
        entry(spark, sf_dir).write.mode("overwrite").format("noop").save()
    run()
    c0, i = _compiles(spark), 0
    while _compiles(spark) - c0 <= 110:
        # a distinct literal per query: a distinct class each time
        spark.range(4).selectExpr(f"id * {i + 7919} + {i} AS x") \
            .write.mode("overwrite").format("noop").save()
        i += 1
    c1 = _compiles(spark)
    run()
    assert _compiles(spark) - c1 == 0


_ROUND_TRIP = [
    ("a bigint, b string, c double",
     [(1, "x", 0.5), (-(2 ** 62), None, None), (None, "", -1e300)]),
    ("cid bigint, vec array<double>, nb double",
     [(3, [1.0, 2.5], 2.7), (4, [], 0.0), (5, None, None)]),
    ("__fid__ string, __pos__ long", [("f0", 0), ("f1", 2 ** 40)]),
    ("ts timestamp, s string, v array<double>", []),
]


@pytest.mark.parametrize("ddl,rows", _ROUND_TRIP)
def test_local_frame_round_trips_like_the_list_path(spark, ddl, rows):
    got = local_frame(spark, rows, ddl)
    ref = spark.createDataFrame(rows, ddl)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()
    assert "LocalTableScan" in _plan(got)


def test_local_frame_round_trips_timestamps(spark):
    ts = dt.datetime(2024, 3, 10, 1, 30, tzinfo=dt.timezone.utc)
    rows = [(ts, 1)]
    got = local_frame(spark, rows, "ts timestamp, n bigint")
    assert got.collect() == spark.createDataFrame(
        rows, "ts timestamp, n bigint").collect()


@pytest.fixture
def made(monkeypatch):
    """Every relation the snapshot store and the graph layer build on
    the driver during the test."""
    out = []
    for mod in (S, G):
        def spy(*a, _orig=mod.local_frame, **k):
            df = _orig(*a, **k)
            out.append(df)
            return df
        monkeypatch.setattr(mod, "local_frame", spy)
    return out


def _all_local(dfs):
    assert dfs
    for df in dfs:
        plan = _plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, \
            plan


def test_driver_built_relations_are_local_table_scans(spark, tmp_path,
                                                      made):
    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(40).selectExpr("id AS k", "id * 2 AS v")
                     .repartitionByRange(2, "k"), t, stats_cols=["k"])
    # an empty snapshot_read version: every file pruned
    empty = S.snapshot_read(spark, t, where=[("k", ">", 1000)]).spark_df
    assert empty.count() == 0
    _all_local([empty])
    # an empty snapshot_changes range
    feed = S.snapshot_changes(spark, t, 1, 1).spark_df
    assert feed.count() == 0
    _all_local([feed])
    # a DV-only point MERGE writes from an empty local target
    del made[:]
    v = S.snapshot_merge(spark, t, spark.range(1).selectExpr(
        "5L AS k", "555L AS v"), on="k", change_data=False)
    m = S._read_manifest(t, v)
    assert m["operation"] == "merge" and m.get("dv")
    _all_local(made)
    # the read-time change feed of that commit finds the vector's
    # rows through rows_at
    del made[:]
    rows = S.snapshot_changes(spark, t, v - 1, v).spark_df
    assert sorted((r._change_type, r.k, r.v) for r in rows.collect()) \
        == [("update_postimage", 5, 555), ("update_preimage", 5, 10)]
    _all_local(made)
    assert "LocalTableScan" in _plan(rows)
    # graph BFS sources
    del made[:]
    pairs = spark.range(1, 6).select(F.col("id").alias("id_a"),
                                     (F.col("id") + 1).alias("id_b"))
    dist = {r.node: r.dist for r in
            G.bfs_distances(pairs, sources=[1], max_hops=2)
            .spark_df.collect()}
    assert dist == {1: 0, 2: 1, 3: 2}
    _all_local(made)

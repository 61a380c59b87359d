"""Round 14: EXPRESSION-BASED view keys — ``matview_create(keys=
{"day": "date_trunc('day', ts)"})`` declares a derived group key as a
row-local SQL expression, applied identically at create, to every
change-feed row, and to the pinned repair base. Parity against full
recompute across DML histories, single-source and star."""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from cl_data_frame_spark.frame import SparkFrame
from cl_data_frame_spark.operators.matview import (
    matview_create, matview_create_star, matview_read,
    matview_refresh)
from cl_data_frame_spark.sources.snapshots import (
    snapshot_delete, snapshot_read, snapshot_update, snapshot_write)


def _ts(day, hour):
    return datetime.datetime(2024, 3, day, hour, 30)


def _seed(spark, src):
    rows = [(i, _ts(1 + i % 3, i % 24), float(i)) for i in range(30)]
    df = spark.createDataFrame(rows,
                               "id int, ts timestamp, val double")
    snapshot_write(SparkFrame(df), src, mode="overwrite",
                   stats_cols=["id"])


def _expected(spark, src, where=None):
    base = snapshot_read(spark, src).spark_df
    if where:
        base = base.where(where)
    out = (base.withColumn("day", F.expr("date_trunc('day', ts)"))
           .groupBy("day")
           .agg(F.count(F.lit(1)).alias("cnt"),
                F.min("val").alias("mn"), F.max("val").alias("mx")))
    return {r["day"]: (r["cnt"], r["mn"], r["mx"])
            for r in out.collect()}


def _got(spark, view):
    return {r["day"]: (r["cnt"], r["min_val"], r["max_val"]) for r in
            matview_read(spark, view).spark_df
            .select("day", "cnt", "min_val", "max_val").collect()}


class TestDerivedKeySingleSource:
    def test_daily_rollup_across_dml_history(self, spark, tmp_path):
        src, view = str(tmp_path / "src"), str(tmp_path / "mv")
        _seed(spark, src)
        matview_create(spark, src, view,
                       keys={"day": "date_trunc('day', ts)"},
                       measure_cols=["val"])
        assert _got(spark, view) == _expected(spark, src)
        # inserts into an existing day and a brand-new day
        extra = spark.createDataFrame(
            [(100, _ts(1, 5), 99.0), (101, _ts(9, 1), 7.0)],
            "id int, ts timestamp, val double")
        snapshot_write(SparkFrame(extra), src, mode="append")
        matview_refresh(spark, view)
        assert _got(spark, view) == _expected(spark, src)
        # delete a stored extreme -> repair path (projected base)
        snapshot_delete(spark, src, [("id", "==", 100)])
        matview_refresh(spark, view)
        assert _got(spark, view) == _expected(spark, src)
        # update moves a row ACROSS the day boundary: pre-image
        # leaves one group, post-image enters another
        snapshot_update(spark, src, [("id", "==", 101)],
                        {"ts": _ts(2, 1)})
        matview_refresh(spark, view)
        assert _got(spark, view) == _expected(spark, src)
        # a whole day emptied -> tombstone
        snapshot_delete(spark, src, [("id", "==", 101)])
        matview_refresh(spark, view)
        assert _got(spark, view) == _expected(spark, src)

    def test_mixed_plain_and_derived_keys_with_where(self, spark,
                                                     tmp_path):
        src, view = str(tmp_path / "srcm"), str(tmp_path / "mvm")
        rows = [(i, f"g{i % 2}", _ts(1 + i % 2, i % 24), float(i))
                for i in range(20)]
        df = spark.createDataFrame(
            rows, "id int, grp string, ts timestamp, val double")
        snapshot_write(SparkFrame(df), src, mode="overwrite",
                       stats_cols=["id", "grp"])
        matview_create(
            spark, src, view,
            keys={"grp": "grp", "day": "date_trunc('day', ts)"},
            measure_cols=["val"], where="val <> 3")
        snapshot_write(SparkFrame(spark.createDataFrame(
            [(50, "g0", _ts(2, 2), 3.0),     # filtered out
             (51, "g1", _ts(5, 2), 5.0)],
            "id int, grp string, ts timestamp, val double")),
            src, mode="append")
        matview_refresh(spark, view)
        base = snapshot_read(spark, src).spark_df.where("val <> 3")
        exp = {(r["grp"], r["day"]): r["cnt"] for r in
               base.withColumn("day", F.expr("date_trunc('day', ts)"))
               .groupBy("grp", "day")
               .agg(F.count(F.lit(1)).alias("cnt")).collect()}
        got = {(r["grp"], r["day"]): r["cnt"] for r in
               matview_read(spark, view).spark_df.collect()}
        assert got == exp

    def test_mixed_keys_repair_read_prunes_on_the_plain_key(
            self, spark, tmp_path, monkeypatch):
        """A view keyed on a plain column and a derived one still
        prunes its repair read by the plain key: the base read gets an
        IN predicate over the repair groups' plain-key values."""
        from cl_data_frame_spark.sources import snapshots as S
        src, view = str(tmp_path / "srcp"), str(tmp_path / "mvp")
        rows = [(i, f"g{i % 2}", _ts(1 + i % 2, i % 24), float(i))
                for i in range(20)]
        snapshot_write(SparkFrame(spark.createDataFrame(
            rows, "id int, grp string, ts timestamp, val double")),
            src, mode="overwrite", stats_cols=["id", "grp"])
        matview_create(
            spark, src, view,
            keys={"grp": "grp", "day": "date_trunc('day', ts)"},
            measure_cols=["val"])
        # id 0 holds the (g0, day 1) group's stored min
        snapshot_delete(spark, src, [("id", "==", 0)])
        seen = []
        real = S.snapshot_read

        def spy(spark_, table_dir, *args, **kwargs):
            if os.path.abspath(table_dir) == os.path.abspath(src):
                seen.append(kwargs.get("where"))
            return real(spark_, table_dir, *args, **kwargs)

        monkeypatch.setattr(S, "snapshot_read", spy)
        assert matview_refresh(spark, view)["groups_repaired"] == 1
        assert [("grp", "in", ["g0"])] in seen, seen
        monkeypatch.undo()
        base = snapshot_read(spark, src).spark_df
        exp = {(r["grp"], r["day"]): (r["cnt"], r["mn"]) for r in
               base.withColumn("day", F.expr("date_trunc('day', ts)"))
               .groupBy("grp", "day")
               .agg(F.count(F.lit(1)).alias("cnt"),
                    F.min("val").alias("mn")).collect()}
        got = {(r["grp"], r["day"]): (r["cnt"], r["min_val"]) for r in
               matview_read(spark, view).spark_df.collect()}
        assert got == exp

    def test_derived_key_with_distinct_measures(self, spark,
                                                tmp_path):
        src, view = str(tmp_path / "srcd"), str(tmp_path / "mvd")
        _seed(spark, src)
        matview_create(spark, src, view,
                       keys={"day": "date_trunc('day', ts)"},
                       measure_cols=["val"],
                       distinct_cols=["val"])
        # a delete that removes a day's LAST occurrence of a value
        snapshot_delete(spark, src, [("id", "==", 0)])
        matview_refresh(spark, view)
        base = snapshot_read(spark, src).spark_df \
            .withColumn("day", F.expr("date_trunc('day', ts)"))
        exp = {r["day"]: r["c"] for r in
               base.where(F.col("val").isNotNull())
               .select("day", "val").distinct().groupBy("day")
               .agg(F.count(F.lit(1)).alias("c")).collect()}
        got = {r["day"]: r["cntd_val"] for r in
               matview_read(spark, view).spark_df.collect()}
        assert got == {d: exp.get(d, 0) for d in got} and got

    def test_name_collision_and_bad_expr_raise(self, spark,
                                               tmp_path):
        src = str(tmp_path / "srcbad")
        _seed(spark, src)
        with pytest.raises(ValueError, match="collide"):
            matview_create(spark, src, str(tmp_path / "x1"),
                           keys={"val": "date_trunc('day', ts)"})
        with pytest.raises(Exception):
            matview_create(spark, src, str(tmp_path / "x2"),
                           keys={"day": "date_trunc('day', nope)"})


class TestDerivedKeyStar:
    def test_star_daily_rollup_expr_over_fact(self, spark, tmp_path):
        fact = str(tmp_path / "fact")
        dim = str(tmp_path / "dim")
        view = str(tmp_path / "mvs")
        frows = [(i, i % 4, _ts(1 + i % 2, i % 24), float(i))
                 for i in range(24)]
        snapshot_write(SparkFrame(spark.createDataFrame(
            frows, "id int, fk int, ts timestamp, val double")),
            fact, mode="overwrite", stats_cols=["id", "fk"])
        snapshot_write(SparkFrame(spark.createDataFrame(
            [(k, f"c{k % 2}") for k in range(4)],
            "fk int, cat string")), dim, mode="overwrite",
            stats_cols=["fk"])
        matview_create_star(
            spark, fact, [(dim, "fk")], view,
            keys={"cat": "cat", "day": "date_trunc('day', ts)"},
            measure_cols=["val"])

        def expected():
            f = snapshot_read(spark, fact).spark_df
            d = snapshot_read(spark, dim).spark_df
            j = f.join(d, on="fk", how="inner") \
                .withColumn("day", F.expr("date_trunc('day', ts)"))
            return {(r["cat"], r["day"]): (r["cnt"], r["mn"]) for r in
                    j.groupBy("cat", "day")
                    .agg(F.count(F.lit(1)).alias("cnt"),
                         F.min("val").alias("mn")).collect()}

        def got():
            return {(r["cat"], r["day"]): (r["cnt"], r["min_val"])
                    for r in matview_read(spark, view).spark_df
                    .collect()}

        assert got() == expected()
        # fact insert + delete-a-minimum + dim recategorization, one
        # refresh over all feeds
        snapshot_write(SparkFrame(spark.createDataFrame(
            [(50, 1, _ts(7, 3), -1.0)],
            "id int, fk int, ts timestamp, val double")),
            fact, mode="append")
        snapshot_delete(spark, fact, [("id", "==", 0)])
        snapshot_update(spark, dim, [("fk", "==", 2)],
                        {"cat": "'c9'"})
        matview_refresh(spark, view)
        assert got() == expected()

"""Star-schema materialized views (matview_create_star): fact INNER
JOIN dim_1 ... dim_k maintained from ALL k+1 change feeds — the
telescoping Gupta-Mumick sum (old versions left of the changed
table, new to its right) must count every cross term exactly once.
Parity against full recomputes across DML on every table, including
a same-interval change on all three."""

import random

import pytest
from pyspark.sql import functions as F

from cl_data_frame_spark.frame import SparkFrame
from cl_data_frame_spark.operators.matview import (
    matview_create_star, matview_read, matview_refresh)
from cl_data_frame_spark.sources.snapshots import (
    snapshot_delete, snapshot_read, snapshot_txn_version,
    snapshot_update, snapshot_write)


def _mk(tmp_path, name):
    return (str(tmp_path / f"{name}_f"), str(tmp_path / f"{name}_d1"),
            str(tmp_path / f"{name}_d2"), str(tmp_path / f"{name}_mv"))


def _seed(spark, fact, d1, d2, n=60):
    f = spark.createDataFrame(
        [(i, i % 5, i % 3, float(i)) for i in range(n)],
        "id int, uk int, pk int, val double")
    u = spark.createDataFrame(
        [(k, f"u{k % 2}") for k in range(5)], "uk int, useg string")
    p = spark.createDataFrame(
        [(k, f"p{k}") for k in range(3)], "pk int, pcat string")
    snapshot_write(SparkFrame(f), fact, mode="overwrite",
                   stats_cols=["id", "uk", "pk"])
    snapshot_write(SparkFrame(u), d1, mode="overwrite",
                   stats_cols=["uk"])
    snapshot_write(SparkFrame(p), d2, mode="overwrite",
                   stats_cols=["pk"])


def _expected(spark, fact, d1, d2, where=None):
    f = snapshot_read(spark, fact).spark_df
    u = snapshot_read(spark, d1).spark_df
    p = snapshot_read(spark, d2).spark_df
    j = f.join(u, on="uk", how="inner").join(p, on="pk", how="inner")
    if where is not None:
        j = j.where(where)
    dec = F.col("val").cast("decimal(28,6)")
    return {(r["useg"], r["pcat"]):
            (r["cnt"], r["s"], r["mn"], r["mx"])
            for r in j.groupBy("useg", "pcat").agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(dec).cast("decimal(38,6)").alias("s"),
                F.min("val").alias("mn"),
                F.max("val").alias("mx")).collect()}


def _got(spark, view):
    return {(r["useg"], r["pcat"]):
            (r["cnt"], r["sum_val"], r["min_val"], r["max_val"])
            for r in matview_read(spark, view).spark_df.collect()}


def _parity(spark, fact, d1, d2, view, tag="", where=None):
    got, exp = _got(spark, view), _expected(spark, fact, d1, d2, where)
    assert got == exp, (tag, got, exp)


class TestStarViewBasics:
    def test_create_and_two_dim_keys(self, spark, tmp_path):
        fact, d1, d2, view = _mk(tmp_path, "sb")
        _seed(spark, fact, d1, d2)
        fv, dvs = matview_create_star(
            spark, fact, [(d1, "uk"), (d2, "pk")], view,
            keys=["useg", "pcat"], measure_cols=["val"])
        assert fv == 1 and dvs == [1, 1]
        assert snapshot_txn_version(view, "matview") == 1
        assert snapshot_txn_version(view, "matview.dim") == 1
        assert snapshot_txn_version(view, "matview.dim2") == 1
        _parity(spark, fact, d1, d2, view, "create")

    def test_all_three_tables_change_one_refresh(self, spark,
                                                 tmp_path):
        """Fact append+delete, dim1 segment flip, dim2 row delete —
        one refresh interval, every telescoping term live at once."""
        fact, d1, d2, view = _mk(tmp_path, "s3")
        _seed(spark, fact, d1, d2)
        matview_create_star(spark, fact, [(d1, "uk"), (d2, "pk")],
                            view, keys=["useg", "pcat"],
                            measure_cols=["val"])
        snapshot_write(SparkFrame(spark.createDataFrame(
            [(900, 2, 1, 900.0), (901, 4, 2, -9.0)],
            "id int, uk int, pk int, val double")),
            fact, mode="append")
        snapshot_delete(spark, fact, [("id", "<", 7)])
        snapshot_update(spark, d1, where=[("uk", "==", 2)],
                        set_exprs={"useg": "'flipped'"})
        snapshot_delete(spark, d2, [("pk", "==", 0)])
        r = matview_refresh(spark, view)
        assert r["mode"] == "incremental"
        assert snapshot_txn_version(view, "matview") == 3
        assert snapshot_txn_version(view, "matview.dim") == 2
        assert snapshot_txn_version(view, "matview.dim2") == 2
        _parity(spark, fact, d1, d2, view, "all-three")

    def test_cross_term_fact_and_dim_same_interval(self, spark,
                                                   tmp_path):
        """New fact rows keyed to a dim row whose attribute changed
        in the SAME interval: the ΔF term joins the dim at its NEW
        version, so the cross term lands exactly once."""
        fact, d1, d2, view = _mk(tmp_path, "sx")
        _seed(spark, fact, d1, d2)
        matview_create_star(spark, fact, [(d1, "uk"), (d2, "pk")],
                            view, keys=["useg", "pcat"],
                            measure_cols=["val"])
        snapshot_update(spark, d1, where=[("uk", "==", 1)],
                        set_exprs={"useg": "'moved'"})
        snapshot_write(SparkFrame(spark.createDataFrame(
            [(800, 1, 0, 77.0)], "id int, uk int, pk int, val double")),
            fact, mode="append")
        matview_refresh(spark, view)
        _parity(spark, fact, d1, d2, view, "cross-term")
        got = _got(spark, view)
        assert any(k[0] == "moved" for k in got)

    def test_dims_only_change(self, spark, tmp_path):
        fact, d1, d2, view = _mk(tmp_path, "sd")
        _seed(spark, fact, d1, d2)
        matview_create_star(spark, fact, [(d1, "uk"), (d2, "pk")],
                            view, keys=["useg", "pcat"],
                            measure_cols=["val"])
        snapshot_update(spark, d1, where=[("uk", "==", 0)],
                        set_exprs={"useg": "'z'"})
        snapshot_update(spark, d2, where=[("pk", "==", 2)],
                        set_exprs={"pcat": "'q'"})
        r = matview_refresh(spark, view)
        assert r["mode"] == "incremental"
        assert snapshot_txn_version(view, "matview") == 1
        _parity(spark, fact, d1, d2, view, "dims-only")
        assert matview_refresh(spark, view)["mode"] == "noop"

    def test_ambiguity_and_missing_rejected(self, spark, tmp_path):
        fact, d1, d2, view = _mk(tmp_path, "se")
        _seed(spark, fact, d1, d2)
        dup = spark.createDataFrame([(0, "x", 1.0)],
                                    "pk int, pcat string, val double")
        snapshot_write(SparkFrame(dup), d2, mode="overwrite")
        with pytest.raises(ValueError, match="BOTH tables"):
            matview_create_star(spark, fact, [(d1, "uk"), (d2, "pk")],
                                view, keys=["useg", "pcat"],
                                measure_cols=["val"])
        with pytest.raises(ValueError, match="neither"):
            matview_create_star(spark, fact, [(d1, "uk")], view,
                                keys=["nope"], measure_cols=["val"])


class TestStarViewPinnedTargets:
    def test_refresh_to_pinned_pair_then_catch_up(self, spark,
                                                  tmp_path):
        """to_version=(fact, dim1, dim2) pins each source; None
        entries mean latest. The pinned state must equal the full
        recompute AT THOSE VERSIONS, then catch-up lands on head."""
        fact, d1, d2, view = _mk(tmp_path, "sp")
        _seed(spark, fact, d1, d2, n=30)
        matview_create_star(spark, fact, [(d1, "uk"), (d2, "pk")],
                            view, keys=["useg", "pcat"],
                            measure_cols=["val"])
        snapshot_delete(spark, fact, [("id", "<", 5)])      # f v2
        snapshot_update(spark, d1, where=[("uk", "==", 0)],
                        set_exprs={"useg": "'late'"})       # d1 v2
        snapshot_write(SparkFrame(spark.createDataFrame(
            [(500, 0, 0, 5.5)], "id int, uk int, pk int, val double")),
            fact, mode="append")                            # f v3
        r = matview_refresh(spark, view, to_version=(2, 1, None))
        assert r["to_version"] == (2, 1, 1)
        # expected at fact@2, d1@1, d2@1
        f = snapshot_read(spark, fact, version=2).spark_df
        u = snapshot_read(spark, d1, version=1).spark_df
        p = snapshot_read(spark, d2, version=1).spark_df
        exp = {(r2["useg"], r2["pcat"]): r2["cnt"] for r2 in
               f.join(u, on="uk").join(p, on="pk")
               .groupBy("useg", "pcat")
               .agg(F.count(F.lit(1)).alias("cnt")).collect()}
        got = {(r2["useg"], r2["pcat"]): r2["cnt"] for r2 in
               matview_read(spark, view).spark_df.collect()}
        assert got == exp, (got, exp)
        matview_refresh(spark, view)            # catch up to head
        _parity(spark, fact, d1, d2, view, "caught-up")


class TestStarViewVacuumInterplay:
    def test_refresh_after_source_vacuum_raises_loudly(self, spark,
                                                       tmp_path):
        """Vacuuming a source past the view's consumed version makes
        the F_old time-travel read impossible — the refresh must
        fail LOUDLY (never guess), and recreating the view recovers."""
        from cl_data_frame_spark.sources.snapshots import (
            snapshot_vacuum)
        fact, d1, d2, view = _mk(tmp_path, "sv")
        _seed(spark, fact, d1, d2, n=20)
        matview_create_star(spark, fact, [(d1, "uk"), (d2, "pk")],
                            view, keys=["useg", "pcat"],
                            measure_cols=["val"])
        # several fact commits, then vacuum everything but the head
        for i in range(3):
            snapshot_write(SparkFrame(spark.createDataFrame(
                [(600 + i, i % 5, i % 3, 1.0)],
                "id int, uk int, pk int, val double")),
                fact, mode="append")
        snapshot_vacuum(fact, keep_last=1, retain_hours=0,
                        force=True)
        # d1 change forces the F_old term against a vacuumed version
        snapshot_update(spark, d1, where=[("uk", "==", 1)],
                        set_exprs={"useg": "'moved'"})
        with pytest.raises(FileNotFoundError,
                           match="vacuum"):
            matview_refresh(spark, view)
        # recovery: recreate from the head
        matview_create_star(spark, fact, [(d1, "uk"), (d2, "pk")],
                            view, keys=["useg", "pcat"],
                            measure_cols=["val"])
        _parity(spark, fact, d1, d2, view, "recreated")


class TestStarViewFiltered:
    def test_where_over_fact_and_dim_columns(self, spark, tmp_path):
        """A filtered star view: the predicate references fact AND
        dim columns; every telescoping term filters its joined change
        rows row-locally, so the filtered view stays exact under DML
        on all tables."""
        fact, d1, d2, view = _mk(tmp_path, "sw")
        _seed(spark, fact, d1, d2)
        w = "val > 3.0 AND useg <> 'u9'"
        matview_create_star(spark, fact, [(d1, "uk"), (d2, "pk")],
                            view, keys=["useg", "pcat"],
                            measure_cols=["val"], where=w)

        def exp():
            f = snapshot_read(spark, fact).spark_df
            u = snapshot_read(spark, d1).spark_df
            p = snapshot_read(spark, d2).spark_df
            j = (f.join(u, on="uk").join(p, on="pk")
                 .where(F.expr(w)))
            return {(r["useg"], r["pcat"]): r["cnt"]
                    for r in j.groupBy("useg", "pcat")
                    .agg(F.count(F.lit(1)).alias("cnt")).collect()}

        got0 = {(r["useg"], r["pcat"]): r["cnt"] for r in
                matview_read(spark, view).spark_df.collect()}
        assert got0 == exp()
        snapshot_write(SparkFrame(spark.createDataFrame(
            [(700, 1, 2, 2.0), (701, 1, 2, 700.0)],
            "id int, uk int, pk int, val double")),
            fact, mode="append")
        snapshot_update(spark, d1, where=[("uk", "==", 3)],
                        set_exprs={"useg": "'boundary'"})
        snapshot_delete(spark, fact, [("id", "<", 6)])
        matview_refresh(spark, view)
        got = {(r["useg"], r["pcat"]): r["cnt"] for r in
               matview_read(spark, view).spark_df.collect()}
        assert got == exp()

    def test_where_on_a_fact_column_outside_the_view(self, spark,
                                                     tmp_path):
        """The predicate's columns ride the maintenance joins like the
        keys' and measures' do, so a filter on a fact column that is
        neither a key nor a measure stays exact across fact and dim
        DML."""
        fact, d1, d2, view = _mk(tmp_path, "swf")
        _seed(spark, fact, d1, d2)
        schema = "id int, uk int, pk int, val double, flag int"
        snapshot_write(SparkFrame(spark.createDataFrame(
            [(i, i % 5, i % 3, float(i), int(i % 4 != 0))
             for i in range(60)], schema)), fact, mode="overwrite",
            stats_cols=["id", "uk", "pk"])
        w = "flag = 1"
        matview_create_star(spark, fact, [(d1, "uk"), (d2, "pk")],
                            view, keys=["useg", "pcat"],
                            measure_cols=["val"], where=w)
        _parity(spark, fact, d1, d2, view, "create", w)
        # fact DML: the flag moves rows across the predicate, and id 1
        # is its (u1, p1) group's filtered min
        snapshot_update(spark, fact, where=[("id", "==", 4)],
                        set_exprs={"flag": F.lit(1)})
        snapshot_update(spark, fact, where=[("id", "==", 5)],
                        set_exprs={"flag": F.lit(0)})
        snapshot_delete(spark, fact, [("id", "==", 1)])
        assert matview_refresh(spark, view)["groups_repaired"] >= 1
        _parity(spark, fact, d1, d2, view, "fact-dml", w)
        # dim DML on both dims, then all three in one interval
        snapshot_update(spark, d1, where=[("uk", "==", 0)],
                        set_exprs={"useg": "'z'"})
        snapshot_update(spark, d2, where=[("pk", "==", 2)],
                        set_exprs={"pcat": "'q'"})
        matview_refresh(spark, view)
        _parity(spark, fact, d1, d2, view, "dim-dml", w)
        snapshot_write(SparkFrame(spark.createDataFrame(
            [(900, 2, 1, -5.0, 1), (901, 2, 1, -6.0, 0)], schema)),
            fact, mode="append")
        snapshot_update(spark, d1, where=[("uk", "==", 2)],
                        set_exprs={"useg": "'y'"})
        matview_refresh(spark, view)
        _parity(spark, fact, d1, d2, view, "all", w)


class TestStarViewRandomizedParity:
    def test_seeded_dml_history_parity(self, spark, tmp_path):
        rng = random.Random(1212)
        fact, d1, d2, view = _mk(tmp_path, "sr")
        _seed(spark, fact, d1, d2, n=100)
        matview_create_star(spark, fact, [(d1, "uk"), (d2, "pk")],
                            view, keys=["useg", "pcat"],
                            measure_cols=["val"])
        next_id = [1000]

        def op():
            c = rng.choice(["fa", "fa", "fd", "d1u", "d2u"])
            if c == "fa":
                rows = [(next_id[0] + j, rng.randrange(5),
                         rng.randrange(3),
                         round(rng.uniform(-40, 40), 3))
                        for j in range(rng.randrange(1, 10))]
                next_id[0] += len(rows)
                snapshot_write(SparkFrame(spark.createDataFrame(
                    rows, "id int, uk int, pk int, val double")),
                    fact, mode="append")
            elif c == "fd":
                lo = rng.randrange(0, next_id[0])
                snapshot_delete(spark, fact,
                                [("id", ">=", lo),
                                 ("id", "<", lo + 30)])
            elif c == "d1u":
                snapshot_update(
                    spark, d1,
                    where=[("uk", "==", rng.randrange(5))],
                    set_exprs={"useg": f"'u{rng.randrange(4)}'"})
            else:
                snapshot_update(
                    spark, d2,
                    where=[("pk", "==", rng.randrange(3))],
                    set_exprs={"pcat": f"'p{rng.randrange(5)}'"})

        for step in range(6):
            for _ in range(rng.randrange(1, 3)):
                op()
            matview_refresh(spark, view)
            _parity(spark, fact, d1, d2, view, f"step-{step}")


class TestFullScanFlagSurfaced:
    """Round 13: the 10k-key IN-prune cap on dim-delta fact reads is
    no longer silent — the refresh summary carries
    ``fact_full_scan`` / ``pruned_keys`` so an operator can see WHY
    a refresh got slow."""

    def test_small_delta_reports_pruned_keys(self, spark, tmp_path):
        fact, d1, d2, view = _mk(tmp_path, "flag1")
        _seed(spark, fact, d1, d2)
        matview_create_star(
            spark, fact, [(d1, "uk"), (d2, "pk")], view,
            keys=["useg", "pcat"], measure_cols=["val"])
        snapshot_update(spark, d1, [("uk", "==", 2)],
                        {"useg": "'uZ'"})
        s = matview_refresh(spark, view)
        assert s["mode"] == "incremental"
        assert s["fact_full_scan"] is False
        assert s["pruned_keys"] == 1

    def test_over_cap_delta_reports_full_scan(self, spark,
                                              tmp_path):
        fact = str(tmp_path / "bigf")
        dim = str(tmp_path / "bigd")
        view = str(tmp_path / "bigmv")
        n = 10_500                  # > the 10k IN-prune cap
        f = spark.range(n).selectExpr(
            "CAST(id AS INT) AS id", "CAST(id AS INT) AS uk",
            "CAST(id % 7 AS DOUBLE) AS val")
        u = spark.range(n).selectExpr(
            "CAST(id AS INT) AS uk",
            "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS useg")
        snapshot_write(SparkFrame(f), fact, mode="overwrite",
                       stats_cols=["uk"])
        snapshot_write(SparkFrame(u), dim, mode="overwrite",
                       stats_cols=["uk"])
        from cl_data_frame_spark.operators.matview import (
            matview_create_join)
        matview_create_join(spark, fact, dim, view, on="uk",
                            keys="useg", measure_cols=["val"])
        # touch EVERY dim row in one commit -> 10.5k delta keys
        snapshot_update(spark, dim, [("uk", ">=", 0)],
                        {"useg": "concat(useg, 'x')"})
        s = matview_refresh(spark, view)
        assert s["mode"] == "incremental"
        assert s["fact_full_scan"] is True
        # parity still exact through the full-scan fallback
        got = {r["useg"]: r["cnt"] for r in
               matview_read(spark, view).spark_df.collect()}
        assert got == {"ax": (n + 1) // 2, "bx": n // 2}

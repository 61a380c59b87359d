"""Delta-join IVM (operators/matview.py matview_create_join /
_refresh_join): materialized views over fact INNER JOIN dim,
maintained from BOTH tables' change feeds — parity against exact
recomputes across DML histories on either and both sides, min/max
repair, dim-attribute updates that move rows between groups,
tombstones, per-source txn watermarks, and a seeded randomized fuzz.
"""

import random

import pytest
from pyspark.sql import functions as F

from cl_data_frame_spark.frame import SparkFrame
from cl_data_frame_spark.operators.matview import (
    matview_create_join, matview_read, matview_refresh)
from cl_data_frame_spark.sources.snapshots import (
    snapshot_delete, snapshot_read, snapshot_txn_version,
    snapshot_update, snapshot_write)


def _mk(tmp_path, name):
    return (str(tmp_path / f"{name}_fact"),
            str(tmp_path / f"{name}_dim"),
            str(tmp_path / f"{name}_mv"))


def _seed_fact(spark, fact, rows):
    df = spark.createDataFrame(rows, "id int, fk int, val double")
    snapshot_write(SparkFrame(df), fact, mode="overwrite",
                   stats_cols=["id", "fk"])


def _seed_dim(spark, dim, rows):
    df = spark.createDataFrame(rows, "pk int, cat string, w double")
    snapshot_write(SparkFrame(df), dim, mode="overwrite",
                   stats_cols=["pk"])


def _expected(spark, fact, dim, keys, measure, where=None):
    f = snapshot_read(spark, fact).spark_df
    d = snapshot_read(spark, dim).spark_df
    j = f.join(d, on=f["fk"] == d["pk"], how="inner")
    if where is not None:
        j = j.where(F.expr(where))
    dec = F.col(measure).cast("decimal(28,6)")
    s = F.sum(dec).cast("decimal(38,6)")
    return {tuple(r[k] for k in keys):
            (r["cnt"], r["s"], r["mn"], r["mx"])
            for r in j.groupBy(*keys).agg(
                F.count(F.lit(1)).alias("cnt"), s.alias("s"),
                F.min(measure).alias("mn"),
                F.max(measure).alias("mx")).collect()}


def _got(spark, view, keys, measure):
    return {tuple(r[k] for k in keys):
            (r["cnt"], r[f"sum_{measure}"], r[f"min_{measure}"],
             r[f"max_{measure}"])
            for r in matview_read(spark, view).spark_df.collect()}


def _assert_parity(spark, fact, dim, view, keys, measure,
                   where=None, tag=""):
    got = _got(spark, view, keys, measure)
    exp = _expected(spark, fact, dim, keys, measure, where)
    assert got == exp, (tag, got, exp)


class TestJoinViewBasics:
    def test_create_matches_join_aggregate(self, spark, tmp_path):
        fact, dim, view = _mk(tmp_path, "jb")
        _seed_fact(spark, fact, [(i, i % 5, float(i))
                                 for i in range(50)])
        _seed_dim(spark, dim, [(p, f"c{p % 2}", p * 1.0)
                               for p in range(5)])
        fv, dv = matview_create_join(
            spark, fact, dim, view, on=("fk", "pk"), keys="cat",
            measure_cols=["val"])
        assert (fv, dv) == (1, 1)
        assert snapshot_txn_version(view, "matview") == 1
        assert snapshot_txn_version(view, "matview.dim") == 1
        _assert_parity(spark, fact, dim, view, ["cat"], "val",
                       tag="create")

    def test_inner_join_drops_unmatched_fact_rows(self, spark,
                                                  tmp_path):
        fact, dim, view = _mk(tmp_path, "ji")
        _seed_fact(spark, fact, [(i, i % 7, float(i))
                                 for i in range(30)])
        _seed_dim(spark, dim, [(p, f"c{p}", 0.0)
                               for p in range(5)])      # 5,6 missing
        matview_create_join(spark, fact, dim, view,
                            on=("fk", "pk"), keys="cat",
                            measure_cols=["val"])
        _assert_parity(spark, fact, dim, view, ["cat"], "val",
                       tag="unmatched")

    def test_ambiguous_column_rejected(self, spark, tmp_path):
        fact, dim, view = _mk(tmp_path, "ja")
        _seed_fact(spark, fact, [(0, 0, 1.0)])
        df = spark.createDataFrame([(0, "x", 2.0)],
                                   "pk int, cat string, val double")
        snapshot_write(SparkFrame(df), dim, mode="overwrite")
        with pytest.raises(ValueError, match="BOTH tables"):
            matview_create_join(spark, fact, dim, view,
                                on=("fk", "pk"), keys="cat",
                                measure_cols=["val"])

    def test_join_key_as_view_key_is_not_ambiguous(self, spark,
                                                   tmp_path):
        fact, dim, view = _mk(tmp_path, "jk")
        f = spark.createDataFrame([(i, i % 3, float(i))
                                   for i in range(12)],
                                  "id int, k int, val double")
        d = spark.createDataFrame([(p, f"c{p}") for p in range(3)],
                                  "k int, cat string")
        snapshot_write(SparkFrame(f), fact, mode="overwrite",
                       stats_cols=["k"])
        snapshot_write(SparkFrame(d), dim, mode="overwrite",
                       stats_cols=["k"])
        matview_create_join(spark, fact, dim, view, on="k",
                            keys=["k", "cat"], measure_cols=["val"])
        rows = matview_read(spark, view).spark_df.collect()
        assert len(rows) == 3
        assert {(r["k"], r["cat"]) for r in rows} \
            == {(0, "c0"), (1, "c1"), (2, "c2")}


class TestJoinViewRefresh:
    def test_fact_only_dml(self, spark, tmp_path):
        fact, dim, view = _mk(tmp_path, "jf")
        _seed_fact(spark, fact, [(i, i % 4, float(i))
                                 for i in range(40)])
        _seed_dim(spark, dim, [(p, f"c{p % 2}", 0.0)
                               for p in range(4)])
        matview_create_join(spark, fact, dim, view,
                            on=("fk", "pk"), keys="cat",
                            measure_cols=["val"])
        extra = spark.createDataFrame([(100, 1, 500.0),
                                       (101, 2, -3.0)],
                                      "id int, fk int, val double")
        snapshot_write(SparkFrame(extra), fact, mode="append")
        r = matview_refresh(spark, view)
        assert r["mode"] == "incremental"
        assert snapshot_txn_version(view, "matview") == 2
        assert snapshot_txn_version(view, "matview.dim") == 1
        _assert_parity(spark, fact, dim, view, ["cat"], "val",
                       tag="fact-append")
        # band delete removes stored minima -> repair path
        snapshot_delete(spark, fact, [("id", "<", 10)])
        r2 = matview_refresh(spark, view)
        assert r2["groups_repaired"] >= 1
        _assert_parity(spark, fact, dim, view, ["cat"], "val",
                       tag="fact-delete")

    def test_dim_only_dml_moves_groups(self, spark, tmp_path):
        """A dim-attribute UPDATE moves every joining fact row from
        the old group to the new one (pre-image negative, post-image
        positive through F_old ⋈ ΔD)."""
        fact, dim, view = _mk(tmp_path, "jd")
        _seed_fact(spark, fact, [(i, i % 4, float(i))
                                 for i in range(40)])
        _seed_dim(spark, dim, [(p, f"c{p}", 0.0) for p in range(4)])
        matview_create_join(spark, fact, dim, view,
                            on=("fk", "pk"), keys="cat",
                            measure_cols=["val"])
        snapshot_update(spark, dim, where=[("pk", "==", 2)],
                        set_exprs={"cat": "'c0'"})
        r = matview_refresh(spark, view)
        assert r["mode"] == "incremental"
        assert snapshot_txn_version(view, "matview.dim") == 2
        _assert_parity(spark, fact, dim, view, ["cat"], "val",
                       tag="dim-update")
        # the vacated group must be tombstoned out of the read
        cats = {r["cat"] for r in
                matview_read(spark, view).spark_df.collect()}
        assert "c2" not in cats
        # dim delete drops all joining fact rows
        snapshot_delete(spark, dim, [("pk", "==", 3)])
        matview_refresh(spark, view)
        _assert_parity(spark, fact, dim, view, ["cat"], "val",
                       tag="dim-delete")

    def test_both_sides_dml_one_refresh(self, spark, tmp_path):
        """ΔF ⋈ D_new + F_old ⋈ ΔD in a single refresh interval —
        including the cross term (new fact rows joining changed dim
        rows)."""
        fact, dim, view = _mk(tmp_path, "jb2")
        _seed_fact(spark, fact, [(i, i % 3, float(i))
                                 for i in range(30)])
        _seed_dim(spark, dim, [(p, f"c{p}", 0.0) for p in range(3)])
        matview_create_join(spark, fact, dim, view,
                            on=("fk", "pk"), keys="cat",
                            measure_cols=["val"])
        # fact: append rows keyed to pk=2 (whose cat flips below)
        extra = spark.createDataFrame([(200, 2, 77.0), (201, 0, 1.5)],
                                      "id int, fk int, val double")
        snapshot_write(SparkFrame(extra), fact, mode="append")
        snapshot_delete(spark, fact, [("id", "<", 3)])
        # dim: flip pk=2's category and delete pk=1
        snapshot_update(spark, dim, where=[("pk", "==", 2)],
                        set_exprs={"cat": "'flipped'"})
        snapshot_delete(spark, dim, [("pk", "==", 1)])
        r = matview_refresh(spark, view)
        assert r["mode"] == "incremental"
        assert snapshot_txn_version(view, "matview") == 3
        assert snapshot_txn_version(view, "matview.dim") == 3
        _assert_parity(spark, fact, dim, view, ["cat"], "val",
                       tag="both-sides")

    def test_noop_and_watermark_idempotence(self, spark, tmp_path):
        fact, dim, view = _mk(tmp_path, "jn")
        _seed_fact(spark, fact, [(i, 0, float(i)) for i in range(5)])
        _seed_dim(spark, dim, [(0, "only", 0.0)])
        matview_create_join(spark, fact, dim, view,
                            on=("fk", "pk"), keys="cat",
                            measure_cols=["val"])
        assert matview_refresh(spark, view)["mode"] == "noop"
        snapshot_write(SparkFrame(spark.createDataFrame(
            [(9, 0, 9.0)], "id int, fk int, val double")),
            fact, mode="append")
        assert matview_refresh(spark, view)["mode"] == "incremental"
        assert matview_refresh(spark, view)["mode"] == "noop"
        _assert_parity(spark, fact, dim, view, ["cat"], "val",
                       tag="noop")

    def test_filtered_join_view(self, spark, tmp_path):
        fact, dim, view = _mk(tmp_path, "jw")
        _seed_fact(spark, fact, [(i, i % 4, float(i))
                                 for i in range(40)])
        _seed_dim(spark, dim, [(p, f"c{p % 2}", 0.0)
                               for p in range(4)])
        w = "val > 5.0 AND cat <> 'c9'"
        matview_create_join(spark, fact, dim, view,
                            on=("fk", "pk"), keys="cat",
                            measure_cols=["val"], where=w)
        _assert_parity(spark, fact, dim, view, ["cat"], "val",
                       where=w, tag="filtered-create")
        snapshot_write(SparkFrame(spark.createDataFrame(
            [(300, 1, 2.0), (301, 1, 800.0)],
            "id int, fk int, val double")), fact, mode="append")
        snapshot_delete(spark, fact, [("id", "<", 8)])
        matview_refresh(spark, view)
        _assert_parity(spark, fact, dim, view, ["cat"], "val",
                       where=w, tag="filtered-refresh")

    def test_measure_from_dim_side(self, spark, tmp_path):
        """Measures may live on the dim side (each joining fact row
        contributes the dim row's value — weight-style rollups)."""
        fact, dim, view = _mk(tmp_path, "jm")
        _seed_fact(spark, fact, [(i, i % 3, float(i))
                                 for i in range(15)])
        _seed_dim(spark, dim, [(p, f"c{p}", 10.0 * (p + 1))
                               for p in range(3)])
        matview_create_join(spark, fact, dim, view,
                            on=("fk", "pk"), keys="cat",
                            measure_cols=["w"])
        _assert_parity(spark, fact, dim, view, ["cat"], "w",
                       tag="dim-measure-create")
        snapshot_update(spark, dim, where=[("pk", "==", 1)],
                        set_exprs={"w": "w + 5.0"})
        snapshot_delete(spark, fact, [("id", "==", 0)])
        matview_refresh(spark, view)
        _assert_parity(spark, fact, dim, view, ["cat"], "w",
                       tag="dim-measure-refresh")


class TestJoinViewRandomizedParity:
    def test_seeded_dml_history_parity(self, spark, tmp_path):
        """Seeded fuzz: a random interleaving of fact appends/deletes
        and dim updates/deletes, refreshed at random points — every
        refresh must land the view exactly on the full recompute."""
        rng = random.Random(1207)
        fact, dim, view = _mk(tmp_path, "jr")
        _seed_fact(spark, fact,
                   [(i, rng.randrange(8),
                     round(rng.uniform(-50, 50), 3))
                    for i in range(120)])
        _seed_dim(spark, dim, [(p, f"c{p % 3}", float(p))
                               for p in range(8)])
        matview_create_join(spark, fact, dim, view,
                            on=("fk", "pk"), keys="cat",
                            measure_cols=["val"])
        next_id = [1000]
        alive_pks = set(range(8))

        def rand_op():
            op = rng.choice(["fa", "fa", "fd", "du", "dd"])
            if op == "fa":
                rows = [(next_id[0] + j, rng.randrange(8),
                         round(rng.uniform(-50, 50), 3))
                        for j in range(rng.randrange(1, 12))]
                next_id[0] += len(rows)
                snapshot_write(SparkFrame(spark.createDataFrame(
                    rows, "id int, fk int, val double")),
                    fact, mode="append")
            elif op == "fd":
                lo = rng.randrange(0, next_id[0])
                snapshot_delete(spark, fact,
                                [("id", ">=", lo),
                                 ("id", "<", lo + 40)])
            elif op == "du" and alive_pks:
                pk = rng.choice(sorted(alive_pks))
                snapshot_update(
                    spark, dim, where=[("pk", "==", pk)],
                    set_exprs={"cat": f"'c{rng.randrange(4)}'"})
            elif op == "dd" and len(alive_pks) > 2:
                pk = rng.choice(sorted(alive_pks))
                alive_pks.discard(pk)
                snapshot_delete(spark, dim, [("pk", "==", pk)])

        for step in range(8):
            for _ in range(rng.randrange(1, 3)):
                rand_op()
            matview_refresh(spark, view)
            _assert_parity(spark, fact, dim, view, ["cat"], "val",
                           tag=f"fuzz-step-{step}")


class TestJoinViewStreamingMaintenance:
    def test_either_feed_triggers_refresh(self, spark, tmp_path):
        from cl_data_frame_spark.operators.matview import (
            matview_refresh_stream)
        fact, dim, view = _mk(tmp_path, "js")
        _seed_fact(spark, fact, [(i, i % 2, float(i))
                                 for i in range(10)])
        _seed_dim(spark, dim, [(0, "a", 0.0), (1, "b", 0.0)])
        matview_create_join(spark, fact, dim, view,
                            on=("fk", "pk"), keys="cat",
                            measure_cols=["val"])
        snapshot_write(SparkFrame(spark.createDataFrame(
            [(50, 0, 50.0)], "id int, fk int, val double")),
            fact, mode="append")
        snapshot_update(spark, dim, where=[("pk", "==", 1)],
                        set_exprs={"cat": "'z'"})
        q = matview_refresh_stream(
            spark, view,
            checkpoint_dir=str(tmp_path / "js_ckpt"),
            available_now=True)
        q.awaitTermination(120)
        _assert_parity(spark, fact, dim, view, ["cat"], "val",
                       tag="streamed")
        assert snapshot_txn_version(view, "matview") == 2
        assert snapshot_txn_version(view, "matview.dim") == 2

"""CDC-maintained materialized aggregate views (operators/matview.py):
create / incremental refresh / read parity against exact recomputes,
min-max repair under deletion, tombstones, exactly-once refresh via
the commit-riding txn watermark."""

import json
import os
import random

import pytest
from pyspark.sql import functions as F

from cl_data_frame_spark.frame import SparkFrame
from cl_data_frame_spark.operators.matview import (matview_create,
                                                   matview_refresh,
                                                   matview_read)
from cl_data_frame_spark.sources.snapshots import (snapshot_delete,
                                                   snapshot_read,
                                                   snapshot_txn_version,
                                                   snapshot_update,
                                                   snapshot_write)


def _mkdirs(tmp_path, name):
    src = str(tmp_path / f"{name}_src")
    view = str(tmp_path / f"{name}_mv")
    return src, view


def _seed(spark, src, rows):
    df = spark.createDataFrame(rows, "id int, grp string, val double")
    snapshot_write(SparkFrame(df), src, mode="overwrite",
                   stats_cols=["id", "grp"])


def _expected(spark, src):
    """Exact recompute of the view's exposed shape from the base."""
    dec = F.col("val").cast("decimal(28,6)")
    s = F.sum(dec).cast("decimal(38,6)")
    return {r["grp"]: (r["cnt"], r["sum_val"], r["avg_val"],
                       r["min_val"], r["max_val"])
            for r in snapshot_read(spark, src).spark_df
            .groupBy("grp").agg(
                F.count(F.lit(1)).alias("cnt"),
                s.alias("sum_val"),
                (s.cast("double") / F.count("val")).alias("avg_val"),
                F.min("val").alias("min_val"),
                F.max("val").alias("max_val")).collect()}


def _got(spark, view):
    return {r["grp"]: (r["cnt"], r["sum_val"], r["avg_val"],
                       r["min_val"], r["max_val"])
            for r in matview_read(spark, view).spark_df.collect()}


def _assert_parity(spark, src, view, tag=""):
    got, exp = _got(spark, view), _expected(spark, src)
    assert got == exp, (tag, got, exp)


class TestMatviewBasics:
    def test_create_matches_full_aggregate(self, spark, tmp_path):
        src, view = _mkdirs(tmp_path, "basic")
        _seed(spark, src, [(i, f"g{i % 3}", float(i))
                           for i in range(30)])
        v = matview_create(spark, src, view, keys="grp",
                           measure_cols=["val"])
        assert v == 1
        _assert_parity(spark, src, view, "create")
        # the create commit already carries the watermark
        assert snapshot_txn_version(view, "matview") == 1

    def test_append_only_refresh_is_arithmetic(self, spark, tmp_path):
        src, view = _mkdirs(tmp_path, "append")
        _seed(spark, src, [(i, f"g{i % 3}", float(i))
                           for i in range(30)])
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"])
        extra = spark.createDataFrame(
            [(100, "g0", 99.0), (101, "g7", -1.0)],
            "id int, grp string, val double")
        snapshot_write(SparkFrame(extra), src, mode="append")
        r = matview_refresh(spark, view)
        assert r["mode"] == "incremental"
        assert r["groups_repaired"] == 0       # pure inserts: no repair
        assert r["groups_touched"] == 2
        _assert_parity(spark, src, view, "append")

    def test_deleting_the_min_triggers_exact_repair(self, spark,
                                                    tmp_path):
        src, view = _mkdirs(tmp_path, "repair")
        _seed(spark, src, [(i, f"g{i % 3}", float(i))
                           for i in range(30)])
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"])
        snapshot_delete(spark, src, where=[("id", "==", 0)])  # g0 min
        r = matview_refresh(spark, view)
        assert r["groups_repaired"] == 1
        _assert_parity(spark, src, view, "repair")

    def test_refresh_releases_its_checkpoints(self, spark, tmp_path):
        """Once a create or a refresh returns, none of its checkpoints
        holds stored blocks: the create's aggregate, the group deltas,
        the delta-view join, the upserts, the view merge's vector rows,
        a distinct column's state deltas and upserts, and a dim's
        change rows."""
        from cl_data_frame_spark.operators.matview import (
            matview_create_join)
        jvm_sc = spark.sparkContext._jsc.sc()

        def stored():
            return {i.id() for i in jvm_sc.getRDDStorageInfo()
                    if "localCheckpoint" in i.callSite()}
        src, view = _mkdirs(tmp_path, "release")
        _seed(spark, src, [(i, f"g{i % 3}", float(i))
                           for i in range(30)])
        before = stored()
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"])
        assert stored() - before == set()
        snapshot_delete(spark, src, where=[("id", "==", 0)])
        r = matview_refresh(spark, view)
        assert r["groups_repaired"] == 1
        assert stored() - before == set()
        _assert_parity(spark, src, view, "release")
        # a distinct_cols view advances its per-value state
        dview = str(tmp_path / "release_dmv")
        matview_create(spark, src, dview, keys="grp",
                       measure_cols=["val"], distinct_cols=["val"])
        snapshot_delete(spark, src, where=[("id", "==", 1)])
        assert matview_refresh(spark, dview)["mode"] == "incremental"
        assert stored() - before == set()
        # a join view refreshed over a dim-side update
        dim, jview = str(tmp_path / "release_dim"), \
            str(tmp_path / "release_jmv")
        snapshot_write(SparkFrame(spark.createDataFrame(
            [(f"g{k}", f"c{k % 2}") for k in range(3)],
            "grp string, cat string")), dim, mode="overwrite",
            stats_cols=["grp"])
        matview_create_join(spark, src, dim, jview, on="grp",
                            keys="cat", measure_cols=["val"])
        snapshot_update(spark, dim, where=[("grp", "==", "g1")],
                        set_exprs={"cat": F.lit("c9")})
        r = matview_refresh(spark, jview)
        assert r["mode"] == "incremental" and r["pruned_keys"] == 1
        assert stored() - before == set()

    def test_interior_delete_stays_arithmetic(self, spark, tmp_path):
        src, view = _mkdirs(tmp_path, "interior")
        _seed(spark, src, [(i, f"g{i % 3}", float(i))
                           for i in range(30)])
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"])
        # id=3 is g0's val=3.0 — strictly inside (0.0, 27.0)
        snapshot_delete(spark, src, where=[("id", "==", 3)])
        r = matview_refresh(spark, view)
        assert r["groups_repaired"] == 0
        _assert_parity(spark, src, view, "interior")

    def test_update_moves_rows_between_groups(self, spark, tmp_path):
        src, view = _mkdirs(tmp_path, "move")
        _seed(spark, src, [(i, f"g{i % 3}", float(i))
                           for i in range(30)])
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"])
        snapshot_update(spark, src, where=[("id", "==", 4)],
                        set_exprs={"grp": F.lit("gNEW")})
        matview_refresh(spark, view)
        _assert_parity(spark, src, view, "move")

    def test_erased_group_tombstones_and_rebirth(self, spark,
                                                 tmp_path):
        src, view = _mkdirs(tmp_path, "tomb")
        _seed(spark, src, [(0, "a", 1.0), (1, "a", 2.0),
                           (2, "b", 5.0)])
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"])
        snapshot_delete(spark, src, where=[("grp", "==", "a")])
        matview_refresh(spark, view)
        assert set(_got(spark, view)) == {"b"}
        # the tombstone row exists in storage, filtered at read
        stored = snapshot_read(spark, view).spark_df
        assert stored.where((F.col("grp") == "a")
                            & (F.col("cnt") == 0)).count() == 1
        _assert_parity(spark, src, view, "erased")
        # rebirth: arithmetic resumes cleanly from the tombstone
        back = spark.createDataFrame([(9, "a", 7.0)],
                                     "id int, grp string, val double")
        snapshot_write(SparkFrame(back), src, mode="append")
        matview_refresh(spark, view)
        _assert_parity(spark, src, view, "rebirth")

    def test_count_only_view_no_measures(self, spark, tmp_path):
        src, view = _mkdirs(tmp_path, "cntonly")
        _seed(spark, src, [(i, f"g{i % 2}", float(i))
                           for i in range(10)])
        matview_create(spark, src, view, keys="grp")
        snapshot_delete(spark, src, where=[("grp", "==", "g1")])
        r = matview_refresh(spark, view)
        assert r["groups_repaired"] == 0   # no measures: never repairs
        got = {r_["grp"]: r_["cnt"] for r_ in
               matview_read(spark, view).spark_df.collect()}
        assert got == {"g0": 5}


class TestMatviewNullSemantics:
    def test_all_null_measure_exposes_sql_nulls(self, spark, tmp_path):
        src, view = _mkdirs(tmp_path, "nulls")
        _seed(spark, src, [(0, "a", None), (1, "a", None),
                           (2, "b", 3.0), (3, "b", None)])
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"])
        got = _got(spark, view)
        assert got["a"] == (2, None, None, None, None)
        cnt, s, avg, lo, hi = got["b"]
        assert (cnt, float(s), avg, lo, hi) == (2, 3.0, 3.0, 3.0, 3.0)

    def test_deleting_last_non_null_value(self, spark, tmp_path):
        src, view = _mkdirs(tmp_path, "nulldrain")
        _seed(spark, src, [(0, "a", 5.0), (1, "a", None)])
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"])
        snapshot_delete(spark, src, where=[("id", "==", 0)])
        matview_refresh(spark, view)
        assert _got(spark, view)["a"] == (1, None, None, None, None)
        _assert_parity(spark, src, view, "nulldrain")

    def test_null_group_key_rejected(self, spark, tmp_path):
        src, view = _mkdirs(tmp_path, "nullkey")
        _seed(spark, src, [(0, None, 1.0), (1, "a", 2.0)])
        with pytest.raises(ValueError, match="NULL group key"):
            matview_create(spark, src, view, keys="grp",
                           measure_cols=["val"])


class TestMatviewExactlyOnce:
    def test_noop_and_crash_recovery(self, spark, tmp_path):
        src, view = _mkdirs(tmp_path, "once")
        _seed(spark, src, [(i, f"g{i % 2}", float(i))
                           for i in range(10)])
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"])
        snapshot_delete(spark, src, where=[("id", "==", 9)])
        r = matview_refresh(spark, view)
        assert r["mode"] == "incremental" and r["to_version"] == 2
        assert snapshot_txn_version(view, "matview") == 2
        assert matview_refresh(spark, view)["mode"] == "noop"
        # crash-sim: the meta cache rolls back, but the commit
        # watermark prevents the double-apply
        mp = os.path.join(view, "_matview.json")
        meta = json.load(open(mp))
        json.dump({**meta, "fact_version": 1}, open(mp, "w"))
        assert matview_refresh(spark, view)["mode"] == "noop"
        _assert_parity(spark, src, view, "crash-sim")

    def test_refresh_to_pinned_version_then_catch_up(self, spark,
                                                     tmp_path):
        src, view = _mkdirs(tmp_path, "pinned")
        _seed(spark, src, [(i, "g", float(i)) for i in range(5)])
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"])
        snapshot_delete(spark, src, where=[("id", "==", 2)])  # v2
        extra = spark.createDataFrame([(9, "g", 90.0)],
                                      "id int, grp string, val double")
        snapshot_write(SparkFrame(extra), src, mode="append")  # v3
        r = matview_refresh(spark, view, to_version=2)
        assert r["to_version"] == 2
        got = _got(spark, view)["g"]
        assert got[0] == 4                      # v2 state: one delete
        matview_refresh(spark, view)            # catch up to v3
        _assert_parity(spark, src, view, "caught-up")


class TestMatviewConcurrentMaintainers:
    def test_stale_watermark_commit_aborts_not_double_applies(
            self, spark, tmp_path):
        """The concurrent-maintainer race, deterministically: a
        refresher that computed its delta from watermark W must NOT
        land its merge after another maintainer advanced the
        watermark — the commit CAS-checks ``txn_expect`` and aborts,
        instead of re-applying the overlapping range on top."""
        from cl_data_frame_spark.sources.snapshots import (
            SnapshotTxnConflict, snapshot_merge)
        from cl_data_frame_spark.operators.matview import _refresh_once
        src, view = _mkdirs(tmp_path, "race")
        _seed(spark, src, [(i, f"g{i % 2}", float(i))
                           for i in range(10)])
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"])
        extra = spark.createDataFrame([(90, "g0", 90.0)],
                                      "id int, grp string, val double")
        snapshot_write(SparkFrame(extra), src, mode="append")  # v2
        # maintainer A lands v1->v2
        assert _refresh_once(spark, view, None)["mode"] \
            == "incremental"
        # maintainer B (planned from stale watermark 1) tries to
        # commit the same range directly: the CAS must reject it
        stale = matview_read(spark, view).spark_df.limit(0)
        with pytest.raises(SnapshotTxnConflict, match="expected"):
            snapshot_merge(spark, view, SparkFrame(
                snapshot_read(spark, view).spark_df.limit(0)),
                on="grp", txn=("matview", 2), txn_expect=1)
        del stale
        # replaying an identical watermark without CAS also aborts
        with pytest.raises(SnapshotTxnConflict, match="advance"):
            snapshot_merge(spark, view, SparkFrame(
                snapshot_read(spark, view).spark_df.limit(0)),
                on="grp", txn=("matview", 2))
        _assert_parity(spark, src, view, "post-race")

    def test_four_threaded_refreshers_converge_exactly(self, spark,
                                                       tmp_path):
        """Four concurrent maintainers racing over the same DML
        backlog: whatever interleaving the scheduler picks, the CAS
        serializes the refreshes and the view lands on the exact
        full-recompute values (a lost race retries from the moved
        watermark, never double-applies)."""
        import threading
        src, view = _mkdirs(tmp_path, "mtrace")
        _seed(spark, src, [(i, f"g{i % 3}", float(i))
                           for i in range(60)])
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"])
        snapshot_delete(spark, src, where=[("id", "<", 5)])
        extra = spark.createDataFrame(
            [(100 + i, f"g{i % 3}", 7.5 * i) for i in range(9)],
            "id int, grp string, val double")
        snapshot_write(SparkFrame(extra), src, mode="append")
        snapshot_update(spark, src, where=[("id", "==", 101)],
                        set_exprs={"val": "val + 1000.0"})
        errors: list = []
        barrier = threading.Barrier(4, timeout=120)

        def run():
            barrier.wait()
            try:
                matview_refresh(spark, view, max_retries=20)
            except Exception as exc:        # noqa: BLE001
                errors.append(exc)
        threads = [threading.Thread(target=run) for _ in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
        assert not errors, errors
        assert snapshot_txn_version(view, "matview") == 4
        _assert_parity(spark, src, view, "threaded")


class TestMatviewRecreate:
    def test_recreate_over_same_dir_resets_watermarks(self, spark,
                                                      tmp_path):
        """matview_create over an existing view dir is a RESET: the
        overwrite starts a new consumer lineage, so the commit's own
        watermark replaces the old map (no monotonic conflict even at
        the same source version), and refresh works from there."""
        src, view = _mkdirs(tmp_path, "recreate")
        _seed(spark, src, [(i, f"g{i % 2}", float(i))
                           for i in range(10)])
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"])
        snapshot_delete(spark, src, where=[("id", "==", 0)])
        matview_refresh(spark, view)        # watermark -> 2
        # recreate at the SAME head version: must not conflict
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"])
        assert snapshot_txn_version(view, "matview") == 2
        _assert_parity(spark, src, view, "recreated")
        snapshot_delete(spark, src, where=[("id", "==", 1)])
        assert matview_refresh(spark, view)["mode"] == "incremental"
        _assert_parity(spark, src, view, "post-recreate-refresh")


class TestMatviewSchemaGuards:
    def test_renamed_measure_column_raises_with_remedy(self, spark,
                                                       tmp_path):
        from cl_data_frame_spark.sources.snapshots import (
            snapshot_rename_column)
        src, view = _mkdirs(tmp_path, "schema")
        _seed(spark, src, [(0, "a", 1.0)])
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"])
        snapshot_rename_column(src, "val", "value")
        extra = spark.createDataFrame([(1, "a", 2.0)],
                                      "id int, grp string, value double")
        snapshot_write(SparkFrame(extra), src, mode="append")
        with pytest.raises(ValueError, match="recreate the view"):
            matview_refresh(spark, view)

    def test_missing_source_column_at_create(self, spark, tmp_path):
        src, view = _mkdirs(tmp_path, "misscol")
        _seed(spark, src, [(0, "a", 1.0)])
        with pytest.raises(ValueError, match="not in source table"):
            matview_create(spark, src, view, keys="grp",
                           measure_cols=["nope"])


class TestMatviewMultiKeyRepairPrune:
    def test_two_key_repair_read_skips_files(self, spark, tmp_path):
        """Composite-key views map their bounded repair set through a
        DNF of equality conjunctions, so the repair re-aggregation
        reads strictly fewer base files than the table holds (stats
        skipping by the first key's per-file ranges)."""
        from cl_data_frame_spark.operators import matview as MV
        from cl_data_frame_spark.sources import snapshots as S
        src, view = _mkdirs(tmp_path, "mk")
        # 4 range-partitioned files on grp1 so a single-group DNF
        # branch can prove most files irrelevant
        df = spark.createDataFrame(
            [(i, i % 4, f"h{i % 2}", float(i)) for i in range(400)],
            "id int, grp1 int, grp2 string, val double")
        S.snapshot_write(
            SparkFrame(df.repartitionByRange(4, "grp1")), src,
            mode="overwrite", stats_cols=["id", "grp1", "grp2"],
            num_files=4)
        MV.matview_create(spark, src, view, keys=["grp1", "grp2"],
                          measure_cols=["val"])
        # prune surface check: the DNF the repair path would build
        # admits strictly fewer files than the table holds
        pred = MV._eq_dnf_prune(
            ["grp1", "grp2"],
            [{"grp1": 1, "grp2": "h1"}])
        n_all = len(S.snapshot_scan_files(src))
        n_hit = len(S.snapshot_scan_files(src, where=pred))
        assert 0 < n_hit < n_all, (n_hit, n_all)
        # end-to-end: delete the stored min of ONE (grp1, grp2) group
        # -> repair recomputes exactly (and only) that group
        # id 1 -> (grp1=1, grp2=h1), val 1.0 = that group's stored min
        S.snapshot_delete(spark, src, [("id", "==", 1)])
        r = matview_refresh(spark, view)
        assert r["groups_repaired"] == 1, r
        dec = F.col("val").cast("decimal(28,6)")
        exp = {(x["grp1"], x["grp2"]):
               (x["cnt"], x["mn"], x["mx"])
               for x in snapshot_read(spark, src).spark_df
               .groupBy("grp1", "grp2").agg(
                   F.count(F.lit(1)).alias("cnt"),
                   F.min("val").alias("mn"),
                   F.max("val").alias("mx")).collect()}
        got = {(x["grp1"], x["grp2"]):
               (x["cnt"], x["min_val"], x["max_val"])
               for x in MV.matview_read(spark, view)
               .spark_df.collect()}
        assert got == exp


class TestMatviewFiltered:
    def test_filtered_view_parity_and_boundary_updates(self, spark,
                                                       tmp_path):
        src, view = _mkdirs(tmp_path, "filt")
        _seed(spark, src, [(i, f"g{i % 2}", float(i))
                           for i in range(20)])
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"], where="val <= 10")

        def exp_filtered():
            dec = F.col("val").cast("decimal(28,6)")
            s = F.sum(dec).cast("decimal(38,6)")
            return {r["grp"]: (r["cnt"], r["sum_val"])
                    for r in snapshot_read(spark, src).spark_df
                    .where("val <= 10").groupBy("grp").agg(
                        F.count(F.lit(1)).alias("cnt"),
                        s.alias("sum_val")).collect()}

        def got():
            return {r["grp"]: (r["cnt"], r["sum_val"]) for r in
                    matview_read(spark, view).spark_df.collect()}

        assert got() == exp_filtered()
        # update moves a row OUT of the predicate (5.0 -> 50.0): its
        # pre-image passes the filter, its post-image doesn't — the
        # view loses the row
        snapshot_update(spark, src, where=[("id", "==", 5)],
                        set_exprs={"val": F.lit(50.0)})
        # and one IN (15.0 -> 2.0): bare post-image enters
        snapshot_update(spark, src, where=[("id", "==", 15)],
                        set_exprs={"val": F.lit(2.0)})
        # plus a delete of an already-filtered-out row: no-op
        snapshot_delete(spark, src, where=[("id", "==", 19)])
        matview_refresh(spark, view)
        assert got() == exp_filtered()

    def test_filtered_view_repair_respects_predicate(self, spark,
                                                     tmp_path):
        src, view = _mkdirs(tmp_path, "filtrep")
        _seed(spark, src, [(0, "a", 3.0), (1, "a", 7.0),
                           (2, "a", 99.0)])
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"], where="val <= 10")
        # delete the filtered min -> repair recomputes ONLY over
        # predicate-passing base rows (99.0 must not leak in as max)
        snapshot_delete(spark, src, where=[("id", "==", 0)])
        r = matview_refresh(spark, view)
        assert r["groups_repaired"] == 1
        row = matview_read(spark, view).spark_df.collect()[0]
        assert (row["cnt"], row["min_val"], row["max_val"]) \
            == (1, 7.0, 7.0)

    def test_where_on_a_column_outside_the_view(self, spark,
                                                tmp_path):
        """The predicate may read a source column that is neither a
        key nor a measure, backtick-quoted or not; create, the change
        feed and the repair read all carry it."""
        src, view = _mkdirs(tmp_path, "filtflag")
        schema = "id int, grp string, val double, flag int"
        snapshot_write(SparkFrame(spark.createDataFrame(
            [(i, f"g{i % 2}", float(i), int(i % 3 != 0))
             for i in range(20)], schema)), src, mode="overwrite",
            stats_cols=["id", "grp"])
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"], where="`flag` = 1")

        def exp_filtered():
            base = snapshot_read(spark, src).spark_df.where("flag = 1")
            return {r["grp"]: (r["cnt"], r["mn"], r["mx"]) for r in
                    base.groupBy("grp").agg(
                        F.count(F.lit(1)).alias("cnt"),
                        F.min("val").alias("mn"),
                        F.max("val").alias("mx")).collect()}

        def got():
            return {r["grp"]: (r["cnt"], r["min_val"], r["max_val"])
                    for r in matview_read(spark, view).spark_df
                    .collect()}

        assert got() == exp_filtered()
        # the flag moves one row out of the view and one into it
        snapshot_update(spark, src, where=[("id", "==", 4)],
                        set_exprs={"flag": F.lit(0)})
        snapshot_update(spark, src, where=[("id", "==", 3)],
                        set_exprs={"flag": F.lit(1)})
        matview_refresh(spark, view)
        assert got() == exp_filtered()
        # deleting g0's filtered min (id 2) repairs over flagged rows
        snapshot_delete(spark, src, where=[("id", "==", 2)])
        snapshot_write(SparkFrame(spark.createDataFrame(
            [(50, "g1", 0.5, 0), (51, "g1", 99.0, 1)], schema)),
            src, mode="append")
        assert matview_refresh(spark, view)["groups_repaired"] == 1
        assert got() == exp_filtered()


class TestMatviewRandomizedParity:
    def test_random_dml_history_stays_exact(self, spark, tmp_path):
        """Seeded random insert/delete/update history; after every
        refresh the view equals the exact recompute (the IVM replay
        invariant, same discipline as the CDC replay property)."""
        src, view = _mkdirs(tmp_path, "fuzz")
        rng = random.Random(1311)
        rows = [(i, f"g{rng.randrange(4)}",
                 float(rng.randrange(100))) for i in range(40)]
        _seed(spark, src, rows)
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"])
        next_id = 40
        for step in range(6):
            op = rng.choice(["insert", "delete", "update", "mixed"])
            if op in ("insert", "mixed"):
                batch = [(next_id + k, f"g{rng.randrange(4)}",
                          float(rng.randrange(100)))
                         for k in range(rng.randrange(1, 6))]
                next_id += len(batch)
                snapshot_write(SparkFrame(spark.createDataFrame(
                    batch, "id int, grp string, val double")),
                    src, mode="append")
            if op in ("delete", "mixed"):
                snapshot_delete(
                    spark, src,
                    where=[("id", "<", rng.randrange(next_id)),
                           ("id", ">=", rng.randrange(next_id) - 5)])
            if op == "update":
                snapshot_update(
                    spark, src,
                    where=[("id", "==", rng.randrange(next_id))],
                    set_exprs={"val": F.lit(float(
                        rng.randrange(500))),
                        "grp": F.lit(f"g{rng.randrange(5)}")})
            matview_refresh(spark, view)
            _assert_parity(spark, src, view, f"fuzz step {step}")


class TestMatviewStreamingMaintenance:
    def test_change_feed_driven_refresh(self, spark, tmp_path):
        from cl_data_frame_spark.operators.matview import (
            matview_refresh_stream)
        src, view = _mkdirs(tmp_path, "stream")
        _seed(spark, src, [(i, f"g{i % 2}", float(i))
                           for i in range(20)])
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"])
        # DML lands after create; the maintenance stream catches up
        snapshot_delete(spark, src, where=[("id", "==", 0)])
        extra = spark.createDataFrame(
            [(100, "g0", 50.0), (101, "g9", 9.0)],
            "id int, grp string, val double")
        snapshot_write(SparkFrame(extra), src, mode="append")
        q = matview_refresh_stream(spark, view, available_now=True)
        q.awaitTermination(120)
        _assert_parity(spark, src, view, "stream catch-up")
        from cl_data_frame_spark.sources.snapshots import (
            _latest_version)
        assert snapshot_txn_version(view, "matview") \
            == _latest_version(src)
        # second wave, same checkpoint: restart processes only the new
        snapshot_delete(spark, src, where=[("grp", "==", "g9")])
        q2 = matview_refresh_stream(spark, view, available_now=True)
        q2.awaitTermination(120)
        _assert_parity(spark, src, view, "stream second wave")


class TestMatviewCompact:
    def test_tombstone_purge_and_rebirth_stays_exact(self, spark,
                                                     tmp_path):
        from cl_data_frame_spark.operators.matview import (
            matview_compact)
        src, view = _mkdirs(tmp_path, "compact")
        _seed(spark, src, [(0, "a", 1.0), (1, "a", 2.0),
                           (2, "b", 5.0), (3, "c", 7.0)])
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["val"])
        snapshot_delete(spark, src, where=[("grp", "==", "a")])
        snapshot_delete(spark, src, where=[("grp", "==", "c")])
        matview_refresh(spark, view)
        stored = snapshot_read(spark, view).spark_df
        assert stored.where(F.col("cnt") == 0).count() == 2
        matview_compact(spark, view)
        stored = snapshot_read(spark, view).spark_df
        assert stored.where(F.col("cnt") == 0).count() == 0
        _assert_parity(spark, src, view, "post-compact")
        # rebirth of a purged group: absent == tombstoned for refresh
        back = spark.createDataFrame([(9, "a", 4.0)],
                                     "id int, grp string, val double")
        snapshot_write(SparkFrame(back), src, mode="append")
        matview_refresh(spark, view)
        _assert_parity(spark, src, view, "rebirth after purge")


class TestMatviewWiderShapes:
    def test_two_measures_with_nulls(self, spark, tmp_path):
        src = str(tmp_path / "wide_src")
        view = str(tmp_path / "wide_mv")
        rows = [(0, "a", 1.0, None), (1, "a", None, 5.0),
                (2, "b", 3.0, 4.0), (3, "b", 8.0, None),
                (4, "a", 2.0, 2.0)]
        df = spark.createDataFrame(
            rows, "id int, grp string, x double, y double")
        snapshot_write(SparkFrame(df), src, mode="overwrite",
                       stats_cols=["id"])
        matview_create(spark, src, view, keys="grp",
                       measure_cols=["x", "y"])

        def exp():
            out = {}
            for r in snapshot_read(spark, src).spark_df \
                    .groupBy("grp").agg(
                        F.count(F.lit(1)).alias("cnt"),
                        F.min("x").alias("min_x"),
                        F.max("x").alias("max_x"),
                        F.min("y").alias("min_y"),
                        F.max("y").alias("max_y")).collect():
                out[r["grp"]] = (r["cnt"], r["min_x"], r["max_x"],
                                 r["min_y"], r["max_y"])
            return out

        def got():
            return {r["grp"]: (r["cnt"], r["min_x"], r["max_x"],
                               r["min_y"], r["max_y"])
                    for r in matview_read(spark, view)
                    .spark_df.collect()}

        assert got() == exp()
        # delete the row holding a's only y value AND a's min x:
        # both measures repair independently
        snapshot_delete(spark, src, where=[("id", "==", 4)])
        snapshot_delete(spark, src, where=[("id", "==", 1)])
        matview_refresh(spark, view)
        assert got() == exp()
        g = got()["a"]
        assert g == (1, 1.0, 1.0, None, None), g

    def test_composite_keys_repair(self, spark, tmp_path):
        src = str(tmp_path / "ck_src")
        view = str(tmp_path / "ck_mv")
        rows = [(i, f"g{i % 2}", f"s{i % 3}", float(i))
                for i in range(24)]
        df = spark.createDataFrame(
            rows, "id int, a string, b string, val double")
        snapshot_write(SparkFrame(df), src, mode="overwrite",
                       stats_cols=["id"])
        matview_create(spark, src, view, keys=["a", "b"],
                       measure_cols=["val"])
        # delete each (a,b) group's min (id 0..5 are the minima)
        snapshot_delete(spark, src, where=[("id", "<", 6)])
        r = matview_refresh(spark, view)
        assert r["groups_repaired"] == 6    # composite-key repair path
        exp = {(r_["a"], r_["b"]): (r_["cnt"], r_["min_val"])
               for r_ in snapshot_read(spark, src).spark_df
               .groupBy("a", "b").agg(
                   F.count(F.lit(1)).alias("cnt"),
                   F.min("val").alias("min_val")).collect()}
        got = {(r_["a"], r_["b"]): (r_["cnt"], r_["min_val"])
               for r_ in matview_read(spark, view)
               .spark_df.collect()}
        assert got == exp

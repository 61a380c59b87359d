"""Streaming verification (SURVEY §2.2 'Streaming'): every windowed
aggregation is asserted against the identical batch aggregation — the
logical plan is the same; Structured Streaming only changes execution —
and the custom stateful operator runs as a real multi-micro-batch file
stream into a memory sink.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from cl_data_frame_spark import streaming as ST

EVENTS = "/root/testdata/sf0.001/events.parquet"


def _events_batch(spark):
    # ts is either parquet TIMESTAMP(NANOS) read as long (older testdata)
    # or a plain micros TIMESTAMP[_NTZ] (current testdata) — normalize both
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(EVENTS)
    if dict(raw.dtypes)["ts"] == "bigint":
        ts = F.timestamp_micros(F.expr("ts div 1000"))
    else:
        ts = F.col("ts").cast("timestamp")
    return raw.withColumn("ts", ts)


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """The events table split into two parquet files so the file-source
    stream runs (at least) two distinct input splits."""
    d = tmp_path_factory.mktemp("events_stream")
    ev = _events_batch(spark)
    n = ev.count()
    ev.limit(n // 2).coalesce(1).write.mode("overwrite").parquet(str(d / "a"))
    ev.subtract(ev.limit(n // 2)).coalesce(1).write.mode("overwrite").parquet(
        str(d / "b"))
    out = d / "in"
    out.mkdir()
    i = 0
    for sub in ("a", "b"):
        for f in (d / sub).glob("*.parquet"):
            shutil.copy(f, out / f"part-{i}.parquet")
            i += 1
    return str(out)


def _sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_tumbling_stream_matches_batch(spark, stream_dir):
    batch = _events_batch(spark)
    schema = batch.schema
    stream = ST.read_stream_parquet(spark, stream_dir, schema)
    agg = ST.tumbling_window_agg(stream, "ts", "1 hour", ["event_type"],
                                 {"n": F.count(F.lit(1))})
    out = agg.select(F.col("window.start").alias("ws"), "event_type", "n")
    ST.run_stream_to_memory(out, "t_tumbling", output_mode="complete")
    got = _sorted_rows(spark.table("t_tumbling"), ["ws", "event_type", "n"])
    expected_df = (ST.tumbling_window_agg(batch, "ts", "1 hour",
                                          ["event_type"],
                                          {"n": F.count(F.lit(1))})
                   .select(F.col("window.start").alias("ws"), "event_type", "n"))
    assert got == _sorted_rows(expected_df, ["ws", "event_type", "n"])


def test_sliding_stream_matches_batch(spark, stream_dir):
    batch = _events_batch(spark)
    stream = ST.read_stream_parquet(spark, stream_dir, batch.schema)
    agg = ST.sliding_window_agg(stream, "ts", "2 hours", "1 hour", [],
                                {"n": F.count(F.lit(1))})
    out = agg.select(F.col("window.start").alias("ws"), "n")
    ST.run_stream_to_memory(out, "t_sliding", output_mode="complete")
    got = _sorted_rows(spark.table("t_sliding"), ["ws", "n"])
    expected_df = (ST.sliding_window_agg(batch, "ts", "2 hours", "1 hour",
                                         [], {"n": F.count(F.lit(1))})
                   .select(F.col("window.start").alias("ws"), "n"))
    assert got == _sorted_rows(expected_df, ["ws", "n"])


def test_session_stream_matches_batch(spark, stream_dir):
    batch = _events_batch(spark)
    stream = ST.read_stream_parquet(spark, stream_dir, batch.schema)
    # session windows in streaming REQUIRE a watermark; a huge delay means
    # nothing is treated as late, so results must equal the batch plan
    agg = ST.session_window_agg(
        ST.with_watermark(stream, "ts", "3650 days"),
        "ts", "6 hours", ["user_id"], {"n": F.count(F.lit(1))})
    out = agg.select("user_id",
                     F.col("session_window.start").alias("ss"), "n")
    ST.run_stream_to_memory(out, "t_session", output_mode="complete")
    got = _sorted_rows(spark.table("t_session"), ["user_id", "ss", "n"])
    expected_df = (ST.session_window_agg(batch, "ts", "6 hours", ["user_id"],
                                         {"n": F.count(F.lit(1))})
                   .select("user_id",
                           F.col("session_window.start").alias("ss"), "n"))
    assert got == _sorted_rows(expected_df, ["user_id", "ss", "n"])


def test_stateful_running_totals_matches_batch(spark, stream_dir):
    batch = _events_batch(spark)
    stream = ST.read_stream_parquet(spark, stream_dir, batch.schema)
    totals = ST.running_user_totals(stream)
    ST.run_stream_to_memory(totals, "t_totals", output_mode="update")
    # update mode emits one row per user per micro-batch; the final state
    # is the row with the largest count per user
    final = (spark.table("t_totals")
             .groupBy("user_id")
             .agg(F.max(F.struct("count", "total")).alias("s"))
             .select("user_id", F.col("s.count").alias("count"),
                     F.col("s.total").alias("total")))
    got = {r["user_id"]: (r["count"], round(r["total"], 6))
           for r in final.collect()}
    exp = {r["user_id"]: (r["n"], round(r["total"], 6))
           for r in (batch.groupBy("user_id")
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.sum("value").alias("total"))).collect()}
    assert got == exp


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode tumbling agg with a watermark: a second micro-batch
    carrying an event far older than the advanced watermark must not
    resurrect (or create) its window."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    schema = "ts timestamp, user_id long, value double"
    fresh = spark.createDataFrame(
        [("2024-01-02 10:05:00", 1, 1.0), ("2024-01-02 11:20:00", 2, 2.0)],
        "ts string, user_id long, value double").withColumn(
            "ts", F.to_timestamp("ts"))
    fresh.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b1"))
    shutil.copy(next((tmp_path / "b1").glob("*.parquet")),
                in_dir / "p0.parquet")

    stream = spark.readStream.schema(schema).parquet(str(in_dir))
    agg = ST.tumbling_window_agg(
        ST.with_watermark(stream, "ts", "10 minutes"),
        "ts", "1 hour", [], {"n": F.count(F.lit(1))})
    out = agg.select(F.col("window.start").alias("ws"), "n")
    q = (out.writeStream.format("memory").queryName("t_late")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        # batch 2: one event a full day older than anything seen — far
        # behind the watermark (max_ts 11:20 - 10 min)
        late = spark.createDataFrame(
            [("2024-01-01 10:00:00", 3, 9.0)],
            "ts string, user_id long, value double").withColumn(
                "ts", F.to_timestamp("ts"))
        late.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b2"))
        shutil.copy(next((tmp_path / "b2").glob("*.parquet")),
                    in_dir / "p1.parquet")
        q.processAllAvailable()
        # batch 3: advance the watermark past both fresh windows so their
        # finalized results flush in append mode
        push = spark.createDataFrame(
            [("2024-01-02 23:00:00", 4, 1.0)],
            "ts string, user_id long, value double").withColumn(
                "ts", F.to_timestamp("ts"))
        push.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b3"))
        shutil.copy(next((tmp_path / "b3").glob("*.parquet")),
                    in_dir / "p2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    starts = {r["ws"].strftime("%Y-%m-%d %H:%M") for r in
              spark.table("t_late").collect()}
    assert "2024-01-02 10:00" in starts
    assert "2024-01-02 11:00" in starts
    assert not any(s.startswith("2024-01-01") for s in starts)


def test_streaming_dedup_collapses_duplicate_deliveries(spark, tmp_path):
    from cl_data_frame_spark import streaming as ST
    src = spark.createDataFrame(
        [("2024-01-01 10:00:00", 1, 5.0), ("2024-01-01 10:05:00", 2, 7.0)],
        "ts string, event_id long, value double").withColumn(
            "ts", F.to_timestamp("ts"))
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    src.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b"))
    import shutil
    p = next((tmp_path / "b").glob("*.parquet"))
    shutil.copy(p, in_dir / "c1.parquet")
    shutil.copy(p, in_dir / "c2.parquet")   # duplicate delivery
    stream = (spark.readStream.schema(src.schema)
              .parquet(str(in_dir)))
    dd = ST.streaming_dedup(stream, ["event_id"], ts_col="ts")
    ST.run_stream_to_memory(dd, "t_dedup", output_mode="append")
    rows = spark.table("t_dedup").collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2]


def test_stream_stream_interval_join_matches_batch(spark, stream_dir):
    batch = _events_batch(spark)

    def split(df, kind, idc, tsc):
        return (df.filter(F.col("event_type") == kind)
                .select("user_id", F.col("event_id").alias(idc),
                        F.col("ts").alias(tsc)))

    stream = ST.read_stream_parquet(spark, stream_dir, batch.schema)
    joined = ST.stream_stream_interval_join(
        split(stream, "view", "view_id", "vts"),
        split(stream, "click", "click_id", "cts"),
        key="user_id", left_ts="vts", right_ts="cts",
        max_delay="30 minutes")
    ST.run_stream_to_memory(joined, "t_ssj", output_mode="append")
    got = _sorted_rows(spark.table("t_ssj"),
                       ["user_id", "view_id", "click_id"])
    expected = ST.stream_stream_interval_join(
        split(batch, "view", "view_id", "vts"),
        split(batch, "click", "click_id", "cts"),
        key="user_id", left_ts="vts", right_ts="cts",
        max_delay="30 minutes")
    assert len(got) > 0
    assert got == _sorted_rows(expected,
                               ["user_id", "view_id", "click_id"])


def test_stream_static_join_matches_batch(spark, stream_dir):
    batch = _events_batch(spark)
    dim = spark.createDataFrame(
        [(i, f"bucket_{i}") for i in range(10)], ["nk", "bucket"])
    stream = (ST.read_stream_parquet(spark, stream_dir, batch.schema)
              .withColumn("nk", F.col("user_id") % 10))
    joined = ST.stream_static_join(stream, dim, on="nk") \
        .select("event_id", "bucket")
    ST.run_stream_to_memory(joined, "t_stj", output_mode="append")
    got = _sorted_rows(spark.table("t_stj"), ["event_id", "bucket"])
    expected = (batch.withColumn("nk", F.col("user_id") % 10)
                .join(dim, "nk").select("event_id", "bucket"))
    assert len(got) == batch.count()
    assert got == _sorted_rows(expected, ["event_id", "bucket"])


def test_foreach_batch_sink_idempotent_layout(spark, stream_dir, tmp_path):
    batch = _events_batch(spark)
    stream = ST.read_stream_parquet_throttled(
        spark, stream_dir, batch.schema, max_files_per_trigger=1)
    out = str(tmp_path / "sink")
    ST.stream_foreach_batch_parquet(
        stream.select("event_id", "event_type"), out,
        str(tmp_path / "ckpt"))
    import glob as g
    batches = sorted(g.glob(f"{out}/batch=*"))
    # one directory per micro-batch (throttled to 1 file per trigger ->
    # at least 2 batches for the 2-file input)
    assert len(batches) >= 2
    back = spark.read.option("basePath", out).parquet(f"{out}/batch=*")
    assert back.count() == batch.count()
    assert back.select("event_id").distinct().count() == batch.count()


def test_stream_stream_left_outer_join_flushes_unmatched(
        spark, stream_dir, tmp_path):
    """Left-outer stream-stream join: unmatched view events surface
    with NULL click columns once the watermark proves no matching
    click can still arrive. A far-future sentinel pair (self-matching,
    filtered out below) advances the watermark past all real data so
    the null rows flush deterministically."""
    import datetime as dt
    import shutil as sh
    batch = _events_batch(spark)
    d = tmp_path / "in"
    d.mkdir()
    i = 0
    import pathlib
    for f in sorted(pathlib.Path(stream_dir).glob("*.parquet")):
        sh.copy(f, d / f"part-{i}.parquet")
        i += 1
    far = batch.agg(F.max("ts")).collect()[0][0] + dt.timedelta(days=100)
    sentinel = spark.createDataFrame(
        [(900001, far, 99999, "view", 0.0, "{}"),
         (900002, far + dt.timedelta(minutes=1), 99999, "click",
          0.0, "{}")],
        schema=batch.schema)
    sentinel.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "sentinel"))
    for f in pathlib.Path(str(tmp_path / "sentinel")).glob("*.parquet"):
        sh.copy(f, d / f"part-{i}.parquet")
        i += 1

    def split(df, kind, idc, tsc):
        return (df.filter(F.col("event_type") == kind)
                .select("user_id", F.col("event_id").alias(idc),
                        F.col("ts").alias(tsc)))

    expected_df = ST.stream_stream_interval_join(
        split(batch, "view", "view_id", "vts"),
        split(batch, "click", "click_id", "cts"),
        key="user_id", left_ts="vts", right_ts="cts",
        max_delay="30 minutes", how="left_outer")
    expected = _sorted_rows(expected_df,
                            ["user_id", "view_id", "click_id"])
    n_expected = len(expected) + 1  # + the sentinel self-match

    stream = ST.read_stream_parquet_throttled(
        spark, str(d), batch.schema, max_files_per_trigger=1)
    joined = ST.stream_stream_interval_join(
        split(stream, "view", "view_id", "vts"),
        split(stream, "click", "click_id", "cts"),
        key="user_id", left_ts="vts", right_ts="cts",
        max_delay="30 minutes", how="left_outer")
    ST.run_stream_to_memory(joined, "t_ssj_lo", output_mode="append",
                            min_rows=n_expected)
    got = _sorted_rows(
        spark.table("t_ssj_lo").filter(F.col("user_id") < 90000),
        ["user_id", "view_id", "click_id"])
    assert any(c is None for _, _, c in got)  # real null-flushed rows
    assert got == expected


def test_streaming_holt_matches_batch_across_microbatches(
        spark, tmp_path):
    """The O(1)-state streaming Holt twin must agree with the batch
    bounded-series fold on the same prefix — across MULTIPLE real
    micro-batches (state carried through the state store), bit-for-bit
    vs the sequential reference and to 6 decimals vs the batch
    operator."""
    import random
    from cl_data_frame_spark.operators.relational import holt_linear

    rng = random.Random(88)
    rows = [(k, t, rng.uniform(-50.0, 50.0))
            for k in (1, 2, 3) for t in range(40)]
    df = spark.createDataFrame(rows, "user_id long, ts long, value double")
    d = tmp_path / "in"
    d.mkdir()
    first = df.filter(F.col("ts") < 25)
    second = df.filter(F.col("ts") >= 25)
    first.coalesce(1).write.mode("overwrite").parquet(str(d / "b0"))
    import shutil
    for i, f in enumerate((d / "b0").glob("*.parquet")):
        shutil.copy(f, d / f"f0-{i}.parquet")
    shutil.rmtree(d / "b0")

    holt = ST.streaming_holt(
        ST.read_stream_parquet(spark, str(d), df.schema),
        key_col="user_id", value_col="value", order_cols=["ts"])
    q = (holt.writeStream.format("memory").queryName("t_holt")
         .outputMode("update").start())
    try:
        q.processAllAvailable()          # micro-batch 1: ts < 25
        second.coalesce(1).write.mode("overwrite").parquet(str(d / "b1"))
        for i, f in enumerate((d / "b1").glob("*.parquet")):
            shutil.copy(f, d / f"f1-{i}.parquet")
        shutil.rmtree(d / "b1")
        q.processAllAvailable()          # micro-batch 2: ts >= 25
    finally:
        q.stop()

    final = (spark.table("t_holt")
             .groupBy("user_id")
             .agg(F.max(F.struct("n", "level", "trend", "forecast"))
                  .alias("s"))
             .select("user_id", "s.n", "s.level", "s.trend",
                     "s.forecast"))
    got = {r.user_id: r for r in final.collect()}
    assert all(got[k].n == 40 for k in (1, 2, 3))

    # bit-exact vs the sequential reference (same Python float ops)
    series = {}
    for k, t, v in rows:
        series.setdefault(k, []).append((t, v))
    a1, a2, c1, c2 = 0.5, 0.5, 0.3 * 0.5, 1 - 0.3 * 0.5
    for k, pts in series.items():
        ys = [v for _t, v in sorted(pts)]
        lev, tr = ys[0], ys[1] - ys[0]
        for y in ys[1:]:
            lev, tr = (a1 * y + a2 * (lev + tr),
                       c1 * (y - lev) + c2 * tr)
        assert got[k].level == lev and got[k].trend == tr, k

    # and 6-decimal agreement with the batch operator on the full data
    batch = {r.user_id: r for r in
             holt_linear(df, "ts", "value",
                         by=["user_id"]).spark_df.collect()}
    for k in (1, 2, 3):
        assert round(got[k].level, 6) == batch[k].level
        assert round(got[k].trend, 6) == batch[k].trend
        assert round(got[k].forecast, 6) == batch[k].forecast


def test_streaming_cusum_matches_batch_with_its_moments(
        spark, tmp_path):
    """Streaming CUSUM (fixed reference mean/σ — Page's sequential
    form) must reproduce the batch detector's S maxima when given the
    batch operator's own moments, across two real micro-batches, and
    alarm on the shifted key."""
    import math
    import shutil
    from cl_data_frame_spark.operators.relational import cusum_drift

    # key 1 stable around 10, key 2 shifts +8 halfway
    rows = [(1, t, 10.0 + (1.5 if t % 2 else -1.5)) for t in range(60)]
    rows += [(2, t, (10.0 if t < 30 else 18.0)
              + (1.5 if t % 2 else -1.5)) for t in range(60)]
    df = spark.createDataFrame(rows, "user_id long, ts long, value double")

    # the batch fold's exact-moment expressions, mirrored op-for-op
    def moments(vals):
        n = float(len(vals))
        sx, sxx = float(sum(vals)), float(sum(v * v for v in vals))
        mu = sx / n
        sd = math.sqrt((n * sxx - sx * sx) / (n * (n - 1.0)))
        return mu, sd

    stable_mu, stable_sd = moments([v for k, _t, v in rows if k == 1])

    d = tmp_path / "in"
    d.mkdir()

    def land(sub, name):
        sub.coalesce(1).write.mode("overwrite").parquet(str(d / "tmp"))
        for i, f in enumerate((d / "tmp").glob("*.parquet")):
            shutil.copy(f, d / f"{name}-{i}.parquet")
        shutil.rmtree(d / "tmp")

    land(df.filter(F.col("ts") < 40), "f0")
    cus = ST.streaming_cusum(
        ST.read_stream_parquet(spark, str(d), df.schema),
        mu=stable_mu, sigma=stable_sd,
        key_col="user_id", value_col="value", order_cols=["ts"])
    q = (cus.writeStream.format("memory").queryName("t_cusum")
         .outputMode("update").start())
    try:
        q.processAllAvailable()
        land(df.filter(F.col("ts") >= 40), "f1")
        q.processAllAvailable()
    finally:
        q.stop()
    final = (spark.table("t_cusum")
             .groupBy("user_id")
             .agg(F.max(F.struct("n", "max_s_plus", "max_s_minus",
                                 "alarm")).alias("s"))
             .select("user_id", "s.n", "s.max_s_plus", "s.max_s_minus",
                     "s.alarm"))
    got = {r.user_id: r for r in final.collect()}
    assert got[1].n == 60 and got[2].n == 60
    assert got[2].alarm and not got[1].alarm

    # key 1's own moments == the reference passed in, so the batch
    # detector (which estimates from the series) must agree on key 1
    batch = {r.user_id: r for r in
             cusum_drift(df, "ts", "value",
                         by=["user_id"]).spark_df.collect()}
    assert round(got[1].max_s_plus, 6) == batch[1].max_s_plus
    assert round(got[1].max_s_minus, 6) == batch[1].max_s_minus
    # batch emits mu/sd rounded to 6 decimals
    assert abs(batch[1].mu - stable_mu) < 1e-6
    assert abs(batch[1].sd - stable_sd) < 1e-6

    # bit-exact vs the sequential reference with the same reference
    kappa, slack = 0.5, 0.5 * stable_sd
    for k in (1, 2):
        sp = sm = msp = msm = 0.0
        for _t, y in sorted((t, v) for kk, t, v in rows if kk == k):
            sp = max(0.0, sp + (y - stable_mu - slack))
            sm = max(0.0, sm + (stable_mu - y - slack))
            msp, msm = max(msp, sp), max(msm, sm)
        assert got[k].max_s_plus == msp and got[k].max_s_minus == msm


def test_stateful_operators_respect_key_name_and_type(spark, tmp_path):
    """streaming_holt with a non-default, non-long key (string) must
    emit the key under its real name and type — the schema used to
    hardcode user_id/long, failing string keys at runtime."""
    from cl_data_frame_spark.streaming import (
        run_stream_to_memory, streaming_cusum, streaming_holt)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("a", i, float(i)) for i in range(6)]
        + [("b", i, 10.0 + i) for i in range(6)],
        "host string, seq int, value double") \
        .coalesce(1).write.json(src)
    stream = (spark.readStream.schema("host string, seq int, "
                                      "value double").json(src))
    run_stream_to_memory(
        streaming_holt(stream, key_col="host", value_col="value",
                       order_cols=["seq"]),
        "holt_strkey", min_rows=2)
    out = spark.table("holt_strkey")
    assert set(out.columns) == {"host", "n", "level", "trend",
                                "forecast"}
    got = {r.host: r for r in out.collect()}
    assert set(got) == {"a", "b"}
    assert got["a"].n == 6
    run_stream_to_memory(
        streaming_cusum(stream, mu=5.0, sigma=2.0, key_col="host",
                        value_col="value", order_cols=["seq"]),
        "cusum_strkey", min_rows=2)
    out2 = spark.table("cusum_strkey")
    assert "host" in out2.columns
    assert {r.host for r in out2.collect()} == {"a", "b"}


class TestSnapshotStreamSink:
    def test_replayed_batch_publishes_once(self, spark, tmp_path):
        """Direct replay simulation: calling the sink twice with the
        same batch id (Spark's at-least-once foreachBatch contract
        after a crash) must publish exactly one version; the txn
        watermark also survives interleaved writers and OPTIMIZE."""
        from cl_data_frame_spark.sources.snapshots import (
            snapshot_history, snapshot_optimize, snapshot_read,
            snapshot_txn_version, snapshot_write)
        from cl_data_frame_spark.streaming import snapshot_stream_sink
        t = str(tmp_path / "tbl")
        sink = snapshot_stream_sink(t, app_id="q1")
        b0 = spark.range(0, 5).withColumnRenamed("id", "v")
        b1 = spark.range(5, 8).withColumnRenamed("id", "v")
        sink(b0, 0)
        sink(b1, 1)
        sink(b1, 1)                       # replay: must be a no-op
        assert snapshot_txn_version(t, "q1") == 1
        assert len(snapshot_history(t)) == 2
        assert snapshot_read(spark, t).nrow == 8
        # interleaved non-stream writers carry the watermark forward
        snapshot_write(spark.range(100, 102)
                       .withColumnRenamed("id", "v"), t)
        snapshot_optimize(spark, t, num_files=1)
        assert snapshot_txn_version(t, "q1") == 1
        sink(b1, 1)                       # replay AFTER other commits
        assert snapshot_read(spark, t).nrow == 10
        # a new batch still lands
        sink(spark.range(8, 9).withColumnRenamed("id", "v"), 2)
        assert snapshot_txn_version(t, "q1") == 2
        assert snapshot_read(spark, t).nrow == 11
        # two independent app_ids keep independent watermarks
        assert snapshot_txn_version(t, "other") is None

    def test_kill_and_restart_replay_exactly_once(self, spark,
                                                  tmp_path):
        """Integration: a file-source stream into a snapshot table,
        stopped and restarted with the same checkpoint — every source
        row lands exactly once and versions match processed batches."""
        import os
        from cl_data_frame_spark.sources.snapshots import snapshot_read
        from cl_data_frame_spark.streaming import (
            write_stream_to_snapshot)
        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        t = str(tmp_path / "tbl")
        os.makedirs(src)
        spark.range(0, 10).withColumnRenamed("id", "v") \
            .coalesce(1).write.mode("append").json(src)
        stream = spark.readStream.schema("v bigint").json(src)
        q = write_stream_to_snapshot(stream, t, ckpt, app_id="sq")
        q.processAllAvailable()
        q.stop()
        assert sorted(r.v for r in
                      snapshot_read(spark, t).spark_df.collect()) == \
            list(range(10))
        # restart with MORE data on the same checkpoint
        spark.range(10, 15).withColumnRenamed("id", "v") \
            .coalesce(1).write.mode("append").json(src)
        stream2 = spark.readStream.schema("v bigint").json(src)
        q2 = write_stream_to_snapshot(stream2, t, ckpt, app_id="sq")
        q2.processAllAvailable()
        q2.stop()
        got = sorted(r.v for r in
                     snapshot_read(spark, t).spark_df.collect())
        assert got == list(range(15))     # no duplicates, no losses


def test_stream_to_snapshot_complete_mode_keeps_all_groups(spark,
                                                           tmp_path):
    """mode='complete': every version holds the FULL aggregate table —
    a later trigger updating only one group must not drop the others
    (the update-outputMode pairing bug: overwrite with only the
    changed groups)."""
    import os
    from cl_data_frame_spark.sources.snapshots import snapshot_read
    from cl_data_frame_spark.streaming import write_stream_to_snapshot
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame([("a", 1), ("a", 2), ("b", 5)],
                          "g string, v int") \
        .coalesce(1).write.mode("append").json(src)
    stream = (spark.readStream.schema("g string, v int").json(src)
              .groupBy("g").count())
    q = write_stream_to_snapshot(
        stream, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
        app_id="agg", mode="complete")
    q.processAllAvailable()
    # second batch touches ONLY group a
    spark.createDataFrame([("a", 3)], "g string, v int") \
        .coalesce(1).write.mode("append").json(src)
    q.processAllAvailable()
    q.stop()
    got = {r.g: r["count"] for r in
           snapshot_read(spark, str(tmp_path / "tbl"))
           .spark_df.collect()}
    assert got == {"a": 3, "b": 1}        # b survived the update


class TestSnapshotStreamSource:
    """Snapshot table as a streaming SOURCE (Python data source API):
    version-number offsets, manifest-diff batches, Delta-parity change
    handling."""

    def test_incremental_appends_stream_exactly_once(self, spark,
                                                     tmp_path):
        from pyspark.sql import functions as F
        from cl_data_frame_spark.sources.snapshots import snapshot_write
        from cl_data_frame_spark.streaming.snapshot_source import (
            read_stream_snapshot)
        t = str(tmp_path / "tbl")
        snapshot_write(spark.range(3).select(F.col("id").alias("v")), t)
        q = (read_stream_snapshot(spark, t)
             .writeStream.format("memory").queryName("snapsrc_inc")
             .start())
        try:
            q.processAllAvailable()
            got = sorted(r.v for r in
                         spark.table("snapsrc_inc").collect())
            assert got == [0, 1, 2]
            snapshot_write(spark.range(3, 5)
                           .select(F.col("id").alias("v")),
                           t, mode="append")
            snapshot_write(spark.range(5, 6)
                           .select(F.col("id").alias("v")),
                           t, mode="append")
            q.processAllAvailable()
            got = sorted(r.v for r in
                         spark.table("snapsrc_inc").collect())
            assert got == [0, 1, 2, 3, 4, 5]   # no re-emission
        finally:
            q.stop()

    def test_checkpoint_restart_resumes_at_offset(self, spark,
                                                  tmp_path):
        from pyspark.sql import functions as F
        from cl_data_frame_spark.sources.snapshots import snapshot_write
        from cl_data_frame_spark.streaming.snapshot_source import (
            read_stream_snapshot)
        t = str(tmp_path / "tbl")
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")
        snapshot_write(spark.range(4).select(F.col("id").alias("v")), t)
        q = (read_stream_snapshot(spark, t)
             .writeStream.format("parquet")
             .option("checkpointLocation", ckpt)
             .option("path", out).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # table grows while the stream is DOWN
        snapshot_write(spark.range(4, 7).select(F.col("id").alias("v")),
                       t, mode="append")
        q2 = (read_stream_snapshot(spark, t)
              .writeStream.format("parquet")
              .option("checkpointLocation", ckpt)
              .option("path", out).start())
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        got = sorted(r.v for r in spark.read.parquet(out).collect())
        assert got == list(range(7))          # resumed, not replayed

    def test_non_append_change_raises_unless_ignored(self, spark,
                                                     tmp_path):
        import pytest
        from pyspark.sql import functions as F
        from cl_data_frame_spark.sources.snapshots import (
            snapshot_write, snapshot_delete)
        from cl_data_frame_spark.streaming.snapshot_source import (
            read_stream_snapshot)
        t = str(tmp_path / "tbl")
        snapshot_write(spark.range(6).select(F.col("id").alias("v")),
                       t, num_files=1)
        q = (read_stream_snapshot(spark, t)
             .writeStream.format("memory").queryName("snapsrc_chg")
             .start())
        try:
            q.processAllAvailable()
            snapshot_delete(spark, t, [("v", "<=", 1)])  # rewrite
            with pytest.raises(Exception, match="rewrote"):
                q.processAllAvailable()
        finally:
            q.stop()
        # ignoreChanges: the rewritten file streams (re-emission is the
        # documented Delta ignoreChanges trade)
        q2 = (read_stream_snapshot(spark, t, ignore_changes=True)
              .writeStream.format("memory").queryName("snapsrc_ign")
              .start())
        try:
            q2.processAllAvailable()
            got = sorted(r.v for r in
                         spark.table("snapsrc_ign").collect())
            # v1's file (0..5) + v2's rewritten survivors (2..5)
            assert got == [0, 1, 2, 2, 3, 3, 4, 4, 5, 5]
        finally:
            q2.stop()

    def test_restarted_stream_reads_old_files_through_renames(
            self, spark, tmp_path):
        from pyspark.sql import functions as F
        from cl_data_frame_spark.sources.snapshots import (
            snapshot_write, snapshot_rename_column)
        from cl_data_frame_spark.streaming.snapshot_source import (
            read_stream_snapshot)
        t = str(tmp_path / "tbl")
        snapshot_write(spark.range(3).select(F.col("id").alias("v")), t)
        snapshot_rename_column(t, "v", "val")
        snapshot_write(spark.range(3, 5).select(F.col("id")
                                                .alias("val")),
                       t, mode="append")
        stream = read_stream_snapshot(spark, t)
        assert stream.columns == ["val"]      # new logical schema
        q = (stream.writeStream.format("memory")
             .queryName("snapsrc_ren").start())
        try:
            q.processAllAvailable()
            got = sorted(r.val for r in
                         spark.table("snapsrc_ren").collect())
            assert got == [0, 1, 2, 3, 4]     # old era mapped v -> val
        finally:
            q.stop()

    def test_starting_version_skips_history(self, spark, tmp_path):
        from pyspark.sql import functions as F
        from cl_data_frame_spark.sources.snapshots import snapshot_write
        from cl_data_frame_spark.streaming.snapshot_source import (
            read_stream_snapshot)
        t = str(tmp_path / "tbl")
        snapshot_write(spark.range(3).select(F.col("id").alias("v")), t)
        snapshot_write(spark.range(3, 5).select(F.col("id").alias("v")),
                       t, mode="append")
        q = (read_stream_snapshot(spark, t, starting_version=2)
             .writeStream.format("memory").queryName("snapsrc_sv")
             .start())
        try:
            q.processAllAvailable()
            got = sorted(r.v for r in
                         spark.table("snapsrc_sv").collect())
            assert got == [3, 4]              # v1's files skipped
        finally:
            q.stop()


class TestSnapshotStreamRateLimit:
    def test_max_files_per_batch_paces_versions(self, spark, tmp_path):
        from pyspark.sql import functions as F
        from cl_data_frame_spark.sources.snapshots import snapshot_write
        from cl_data_frame_spark.streaming.snapshot_source import (
            register_snapshot_source, FORMAT_NAME)
        t = str(tmp_path / "tbl")
        snapshot_write(spark.range(10).select(F.col("id").alias("v")),
                       t, mode="append", num_files=2)
        register_snapshot_source(spark)
        stream = (spark.readStream.format(FORMAT_NAME)
                  .option("path", t)
                  .option("maxFilesPerBatch", "2").load())
        batches = []
        q = (stream.writeStream
             .foreachBatch(lambda df, bid: batches.append(
                 sorted(r.v for r in df.collect())))
             .start())
        try:
            q.processAllAvailable()          # initial backfill
            # versions landing while the stream RUNS arrive paced:
            # one 2-file version per micro-batch
            for i in range(1, 3):
                snapshot_write(
                    spark.range(i * 10, i * 10 + 10)
                    .select(F.col("id").alias("v")),
                    t, mode="append", num_files=2)
            q.processAllAvailable()
        finally:
            q.stop()
        flat = sorted(v for b in batches for v in b)
        assert flat == list(range(30))       # everything arrives once
        # paced: three non-empty batches of one version each
        nonempty = [b for b in batches if b]
        assert len(nonempty) == 3
        assert all(len(b) == 10 for b in nonempty)

    def test_streaming_sink_builds_blooms(self, spark, tmp_path):
        from pyspark.sql import functions as F
        from cl_data_frame_spark.sources.snapshots import (
            _read_manifest, _latest_version)
        from cl_data_frame_spark.streaming import (
            snapshot_stream_sink)
        t = str(tmp_path / "tbl")
        sink = snapshot_stream_sink(t, app_id="t_bloomsink",
                                    bloom_cols=["v"])
        sink(spark.range(50).select(F.col("id").alias("v")), 0)
        m = _read_manifest(t, _latest_version(t))
        assert m.get("bloom"), "sink did not build bloom filters"
        assert all("v" in b for b in m["bloom"].values())


class TestSnapshotStreamSourceFixes:
    def test_overwrite_and_restore_raise_clone_streams(self, spark,
                                                       tmp_path):
        import pytest
        from pyspark.sql import functions as F
        from cl_data_frame_spark.sources.snapshots import (
            snapshot_clone, snapshot_restore, snapshot_write)
        from cl_data_frame_spark.streaming.snapshot_source import (
            read_stream_snapshot)
        t = str(tmp_path / "tbl")
        snapshot_write(spark.range(4).select(F.col("id").alias("v")),
                       t)
        q = (read_stream_snapshot(spark, t)
             .writeStream.format("memory").queryName("srcfix_ow")
             .start())
        try:
            q.processAllAvailable()
            # an OVERWRITE mid-stream replaced rows: must raise, not
            # stream the replacement as an append
            snapshot_write(spark.range(100, 102)
                           .select(F.col("id").alias("v")),
                           t, mode="overwrite")
            with pytest.raises(Exception, match="replaced|rewrote"):
                q.processAllAvailable()
        finally:
            q.stop()
        # a RESTORE that resurrects files is likewise a change: v2's
        # delete rewrote v1's file, so restoring v1 RE-ADDS it
        from cl_data_frame_spark.sources.snapshots import (
            snapshot_delete)
        t2 = str(tmp_path / "tbl2")
        snapshot_write(spark.range(4).select(F.col("id").alias("v")),
                       t2, num_files=1)
        snapshot_delete(spark, t2, [("v", "<=", 1)])
        q2 = (read_stream_snapshot(spark, t2, starting_version=3)
              .writeStream.format("memory").queryName("srcfix_rs")
              .start())
        try:
            q2.processAllAvailable()           # nothing yet (v <= 2)
            snapshot_restore(t2, 1)            # resurrects v1's file
            with pytest.raises(Exception, match="resurrected|rewrote"):
                q2.processAllAvailable()
        finally:
            q2.stop()
        # a CLONE's v1 is initial data: a fresh stream over the clone
        # must serve it, not error
        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        snapshot_write(spark.range(5).select(F.col("id").alias("v")),
                       src)
        snapshot_clone(src, dst)
        q3 = (read_stream_snapshot(spark, dst)
              .writeStream.format("memory").queryName("srcfix_cl")
              .start())
        try:
            q3.processAllAvailable()
            got = sorted(r.v for r in
                         spark.table("srcfix_cl").collect())
            assert got == list(range(5))
        finally:
            q3.stop()

    def test_rate_limit_restart_never_regresses_offset(self, spark,
                                                       tmp_path):
        # unit-level: a RESTARTED reader (initialOffset never called)
        # must admit everything rather than cap from zero — a capped
        # offset behind the checkpoint would re-emit consumed versions
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType
        from cl_data_frame_spark.sources.snapshots import (
            snapshot_write, _read_manifest)
        from cl_data_frame_spark.streaming.snapshot_source import (
            SnapshotStreamReader)
        import json as _json
        t = str(tmp_path / "tbl")
        for i in range(5):
            snapshot_write(spark.range(i, i + 1)
                           .select(F.col("id").alias("v")),
                           t, mode="append")
        schema = StructType.fromJson(
            _json.loads(_read_manifest(t, 5)["schema"]))
        restarted = SnapshotStreamReader(
            schema, {"path": t, "maxfilesperbatch": "1"})
        assert restarted.latestOffset() == {"version": 5}
        # pacing kicks in from the second trigger: THREE new versions
        # are admitted one per latestOffset call, and the offset never
        # moves backwards
        for i in range(3):
            snapshot_write(spark.range(9 + i, 10 + i)
                           .selectExpr("id AS v"), t, mode="append")
        assert restarted.latestOffset() == {"version": 6}
        assert restarted.latestOffset() == {"version": 7}
        assert restarted.latestOffset() == {"version": 8}
        assert restarted.latestOffset() == {"version": 8}

    def test_stream_null_fills_era_predating_columns(self, spark,
                                                     tmp_path):
        from pyspark.sql import functions as F
        from cl_data_frame_spark.sources.snapshots import snapshot_write
        from cl_data_frame_spark.streaming.snapshot_source import (
            read_stream_snapshot)
        t = str(tmp_path / "tbl")
        snapshot_write(spark.range(2).select(F.col("id").alias("v")),
                       t)
        snapshot_write(
            spark.range(2, 4).select(F.col("id").alias("v"),
                                     F.lit("x").alias("extra")),
            t, mode="append", merge_schema=True)
        q = (read_stream_snapshot(spark, t)
             .writeStream.format("memory").queryName("srcfix_era")
             .start())
        try:
            q.processAllAvailable()
            got = {r.v: r.extra for r in
                   spark.table("srcfix_era").collect()}
            assert got == {0: None, 1: None, 2: "x", 3: "x"}
        finally:
            q.stop()


class TestSnapshotChangeFeed:
    """Round 10: Delta-CDF-style change feed — non-append commits
    stream their row-level delta with _change_type/_commit_version
    instead of raising, reduced to manifest diffs per version."""

    @staticmethod
    def _base(spark, t):
        from pyspark.sql import functions as F
        from cl_data_frame_spark.sources.snapshots import snapshot_write
        snapshot_write(
            spark.range(100).select(F.col("id").alias("k"),
                                    (F.col("id") * 2).alias("v"))
            .repartitionByRange(2, "k"), t, stats_cols=["k"])

    def test_merge_streams_exact_delta(self, spark, tmp_path):
        from cl_data_frame_spark.sources import snapshots as S
        from cl_data_frame_spark.streaming.snapshot_source import (
            read_stream_snapshot)
        t = str(tmp_path / "tbl")
        self._base(spark, t)
        S.snapshot_merge(
            spark, t,
            spark.createDataFrame([(5, 555), (1000, 1)],
                                  "k bigint, v bigint"), on="k")
        q = (read_stream_snapshot(spark, t, read_change_feed=True)
             .writeStream.format("memory").queryName("cdf_merge")
             .start())
        try:
            q.processAllAvailable()
            rows = {(r._commit_version, r._change_type, r.k, r.v)
                    for r in spark.table("cdf_merge").collect()}
        finally:
            q.stop()
        v1 = {r for r in rows if r[0] == 1}
        assert len(v1) == 100 and all(r[1] == "insert" for r in v1)
        # the MERGE commit streams EXACTLY its delta: one keyed
        # update pair + one insert — the ~49 carried rows of the
        # rewritten file cancel
        v2 = {r[1:] for r in rows if r[0] == 2}
        assert v2 == {("update_preimage", 5, 10),
                      ("update_postimage", 5, 555),
                      ("insert", 1000, 1)}, v2

    def test_dv_delete_update_optimize_append(self, spark, tmp_path):
        from pyspark.sql import functions as F
        from cl_data_frame_spark.sources import snapshots as S
        from cl_data_frame_spark.streaming.snapshot_source import (
            read_stream_snapshot)
        t = str(tmp_path / "tbl")
        self._base(spark, t)
        S.snapshot_delete(spark, t, [("k", "==", 7)])     # v2: DV
        S.snapshot_update(spark, t, [("k", "==", 8)],     # v3: DV+app
                          {"v": "888"})
        S.snapshot_optimize(spark, t)                     # v4: no-op
        S.snapshot_write(
            spark.createDataFrame([(2000, 2)], "k bigint, v bigint"),
            t, mode="append")                             # v5
        q = (read_stream_snapshot(spark, t, read_change_feed=True)
             .writeStream.format("memory").queryName("cdf_dml")
             .start())
        try:
            q.processAllAvailable()
            rows = [(r._commit_version, r._change_type, r.k, r.v)
                    for r in spark.table("cdf_dml").collect()]
        finally:
            q.stop()
        by = {}
        for r in rows:
            by.setdefault(r[0], set()).add(r[1:])
        assert by[2] == {("delete", 7, 14)}       # just the DV'd row
        assert by[3] == {("update_preimage", 8, 16),
                         ("update_postimage", 8, 888)}
        assert 4 not in by            # OPTIMIZE is a net-zero change
        assert by[5] == {("insert", 2000, 2)}

    def test_restart_exactly_once(self, spark, tmp_path):
        from cl_data_frame_spark.sources import snapshots as S
        from cl_data_frame_spark.streaming.snapshot_source import (
            read_stream_snapshot)
        t = str(tmp_path / "tbl")
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")
        self._base(spark, t)
        q = (read_stream_snapshot(spark, t, read_change_feed=True)
             .writeStream.format("parquet")
             .option("checkpointLocation", ckpt)
             .option("path", out).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # changes land while the stream is DOWN
        S.snapshot_delete(spark, t, [("k", "==", 3)])
        S.snapshot_merge(
            spark, t,
            spark.createDataFrame([(4, 444)], "k bigint, v bigint"),
            on="k")
        q2 = (read_stream_snapshot(spark, t, read_change_feed=True)
              .writeStream.format("parquet")
              .option("checkpointLocation", ckpt)
              .option("path", out).start())
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        rows = [(r._commit_version, r._change_type, r.k, r.v)
                for r in spark.read.parquet(out).collect()]
        assert len([r for r in rows if r[0] == 1]) == 100  # once
        assert {r[1:] for r in rows if r[0] == 2} == \
            {("delete", 3, 6)}
        assert {r[1:] for r in rows if r[0] == 3} == \
            {("update_preimage", 4, 8), ("update_postimage", 4, 444)}


def test_stream_sink_partition_tuples_prune(spark, tmp_path):
    """Round 10: a streamed snapshot table written with partition_by
    records partition tuples per micro-batch file, so predicated
    reads prune metadata-exactly — the batch write's layout story
    through the streaming sink."""
    import time
    from pyspark.sql import functions as F
    from cl_data_frame_spark.sources.snapshots import (
        snapshot_read, snapshot_scan_files)
    from cl_data_frame_spark.streaming import write_stream_to_snapshot
    src = str(tmp_path / "src")
    t = str(tmp_path / "tbl")
    ck = str(tmp_path / "ck")
    (spark.range(90)
     .select(F.col("id").alias("k"), (F.col("id") % 3).alias("g"))
     .write.json(src))
    stream = (spark.readStream.schema("k long, g long").json(src))
    q = write_stream_to_snapshot(stream, t, ck, app_id="t_part",
                                 partition_by=["g"])
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_all = len(snapshot_scan_files(t))
    n_one = len(snapshot_scan_files(t, where=[("g", "==", 1)]))
    assert 0 < n_one < n_all
    fr = snapshot_read(spark, t, where=[("g", "==", 1)])
    assert fr.nrow == 30
    assert snapshot_read(spark, t).nrow == 90


def test_starting_timestamp_skips_history(spark, tmp_path):
    """Round 10 (+r11 inclusivity fix): Delta's startingTimestamp —
    stream every version committed AT or after the instant; a commit
    at exactly the timestamp is included."""
    import os
    import time
    from pyspark.sql import functions as F
    from cl_data_frame_spark.sources import snapshots as S
    from cl_data_frame_spark.streaming.snapshot_source import (
        read_stream_snapshot)
    t = str(tmp_path / "tbl")
    S.snapshot_write(spark.range(3).select(F.col("id").alias("v")), t)
    t1 = os.path.getmtime(S._manifest_path(t, 1))
    time.sleep(0.05)
    S.snapshot_write(spark.range(3, 6).select(F.col("id").alias("v")),
                     t, mode="append")
    # strictly after v1's commit instant: v1 excluded, v2 streams
    q = (read_stream_snapshot(spark, t,
                              starting_timestamp=t1 + 0.001)
         .writeStream.format("memory").queryName("ts_start").start())
    try:
        q.processAllAvailable()
        got = sorted(r.v for r in spark.table("ts_start").collect())
    finally:
        q.stop()
    assert got == [3, 4, 5]
    # AT v1's commit instant: v1 itself is included (at-or-after)
    q_at = (read_stream_snapshot(spark, t, starting_timestamp=t1)
            .writeStream.format("memory").queryName("ts_at").start())
    try:
        q_at.processAllAvailable()
        got = sorted(r.v for r in spark.table("ts_at").collect())
    finally:
        q_at.stop()
    assert got == [0, 1, 2, 3, 4, 5]
    # a timestamp older than all history streams from the beginning
    q2 = (read_stream_snapshot(spark, t, starting_timestamp=t1 - 100)
          .writeStream.format("memory").queryName("ts_all").start())
    try:
        q2.processAllAvailable()
        got = sorted(r.v for r in spark.table("ts_all").collect())
    finally:
        q2.stop()
    assert got == [0, 1, 2, 3, 4, 5]


def test_change_feed_rename_mid_range_streams_both_eras(spark,
                                                        tmp_path):
    """Round 11: a rename inside the streamed range no longer loses
    the old era's column — era-alignment pairs map era names to the
    reader's (latest) schema, for file chunks, diff tasks, and
    materialized change-data files alike."""
    from pyspark.sql import functions as F

    from cl_data_frame_spark.sources import snapshots as S
    from cl_data_frame_spark.streaming.snapshot_source import (
        read_stream_snapshot)
    t = str(tmp_path / "tbl")
    S.snapshot_write(spark.range(4).select(F.col("id").alias("v")), t,
                     stats_cols=["v"])
    S.snapshot_delete(spark, t, [("v", "==", 1)])   # era-1 DML (cdc)
    S.snapshot_rename_column(t, "v", "w")
    S.snapshot_write(spark.range(4, 6).select(F.col("id").alias("w")),
                     t, mode="append")
    q = (read_stream_snapshot(spark, t, read_change_feed=True)
         .writeStream.format("memory").queryName("cdf_eras").start())
    try:
        q.processAllAvailable()
        got = {(r._commit_version, r._change_type, r.w)
               for r in spark.table("cdf_eras").collect()}
    finally:
        q.stop()
    assert got == {(1, "insert", 0), (1, "insert", 1),
                   (1, "insert", 2), (1, "insert", 3),
                   (2, "delete", 1),
                   (4, "insert", 4), (4, "insert", 5)}
    # and the batch feed agrees across the same range
    batch = {(r._commit_version, r._change_type, r.w) for r in
             S.snapshot_changes(spark, t, 0).spark_df.collect()}
    assert batch == got


def test_stream_cdc_across_widen_commit(spark, tmp_path):
    """Round 13: a metadata-only TYPE WIDENING mid-stream is a
    net-zero commit; old-era files stream at the FINAL (wide) era
    types through the native parquet upcast."""
    from pyspark.sql import functions as F

    from cl_data_frame_spark.sources import snapshots as S
    from cl_data_frame_spark.streaming.snapshot_source import (
        read_stream_snapshot)
    t = str(tmp_path / "wtbl")
    S.snapshot_write(
        spark.range(6).select(F.col("id").cast("int").alias("k")),
        t, stats_cols=["k"])
    S.snapshot_widen_column(t, "k", "bigint")
    S.snapshot_write(
        spark.range(10, 13).select(F.col("id").alias("k")),
        t, mode="append")
    S.snapshot_delete(spark, t, [("k", "==", 2)])
    q = (read_stream_snapshot(spark, t, read_change_feed=True)
         .writeStream.format("memory").queryName("cdf_widen")
         .start())
    try:
        q.processAllAvailable()
        out = spark.table("cdf_widen")
        assert dict(out.drop("_change_type",
                             "_commit_version").dtypes) \
            == {"k": "bigint"}
        got = {(r._commit_version, r._change_type, r.k)
               for r in out.collect()}
    finally:
        q.stop()
    assert got == ({(1, "insert", k) for k in range(6)}
                   | {(3, "insert", k) for k in (10, 11, 12)}
                   | {(4, "delete", 2)})


def test_failed_start_removes_checkpoint(spark, stream_dir):
    """``start()`` raising (complete mode over a non-aggregating stream)
    must still remove the query's scratch checkpoint and restore the
    session's shuffle-partition conf."""
    import glob
    import os
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    stream = ST.read_stream_parquet(spark, stream_dir,
                                    _events_batch(spark).schema)
    with pytest.raises(Exception, match="(?i)complete"):
        ST.run_stream_to_memory(stream.select("event_id"), "t_badstart",
                                output_mode="complete")
    assert not glob.glob(os.path.join(ST.scratch_dir(),
                                      "cdf_ck_t_badstart_*"))
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_scratch_dir_needs_free_shm(monkeypatch):
    """/dev/shm is scratch only with SHM_MIN_FREE_BYTES free; a small
    or missing tmpfs falls back to the system temp dir, and
    $SPARK_GRAFT_SCRATCH overrides both."""
    import os
    import tempfile
    from types import SimpleNamespace

    def statvfs_with(free):
        return lambda path: SimpleNamespace(f_bavail=free // 4096,
                                            f_frsize=4096)

    def no_shm(path):
        raise FileNotFoundError(path)

    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    monkeypatch.setattr(os, "access", lambda path, mode: True)
    monkeypatch.setattr(os, "statvfs", statvfs_with(64 << 20))
    assert ST.scratch_dir() == tempfile.gettempdir()
    monkeypatch.setattr(os, "statvfs", no_shm)
    assert ST.scratch_dir() == tempfile.gettempdir()
    monkeypatch.setattr(os, "statvfs",
                        statvfs_with(ST.SHM_MIN_FREE_BYTES))
    assert ST.scratch_dir() == "/dev/shm"
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", "/elsewhere")
    assert ST.scratch_dir() == "/elsewhere"

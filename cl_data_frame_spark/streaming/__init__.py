"""Structured Streaming surface (SURVEY.md §2.2 'Streaming' — absent in the
reference; completed with Spark Structured Streaming).

Covers: file/rate sources, watermarks + late-data policy, tumbling/sliding/
session windows, and a custom stateful operator via
``applyInPandasWithState``. The same windowed aggregations run in batch mode
over the ``events`` table (used by the oracle corpus) — Structured
Streaming's incremental execution of the identical logical plan is the
scale path for unbounded inputs.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def read_stream_parquet(spark: SparkSession, path: str, schema,
                        glob: str | None = None) -> DataFrame:
    """File-source stream over a parquet directory (one-file-per-trigger
    unbounded reads at scale; schema must be explicit for streams).
    ``glob`` restricts to matching files inside the directory — the file
    source requires a directory basePath."""
    reader = spark.readStream.schema(schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.parquet(path)


def with_watermark(sdf: DataFrame, ts_col: str, delay: str = "10 minutes") -> DataFrame:
    """Late-data policy: events later than *delay* behind the max seen
    event time are dropped from stateful aggregations."""
    return sdf.withWatermark(ts_col, delay)


def tumbling_window_agg(sdf: DataFrame, ts_col: str, duration: str,
                        group_cols: list[str], aggs: dict) -> DataFrame:
    """Tumbling-window aggregation; works identically on batch and stream."""
    return (sdf.groupBy(F.window(ts_col, duration), *group_cols)
            .agg(*[expr.alias(name) for name, expr in aggs.items()]))


def sliding_window_agg(sdf: DataFrame, ts_col: str, duration: str, slide: str,
                       group_cols: list[str], aggs: dict) -> DataFrame:
    return (sdf.groupBy(F.window(ts_col, duration, slide), *group_cols)
            .agg(*[expr.alias(name) for name, expr in aggs.items()]))


def session_window_agg(sdf: DataFrame, ts_col: str, gap: str,
                       group_cols: list[str], aggs: dict) -> DataFrame:
    """Session windows: rows within *gap* of each other merge into one
    session per group key."""
    return (sdf.groupBy(F.session_window(ts_col, gap), *group_cols)
            .agg(*[expr.alias(name) for name, expr in aggs.items()]))


# ---------------------------------------------------------------------------
# custom stateful operator: running per-user counters with timeout
# ---------------------------------------------------------------------------

_STATE_SCHEMA = T.StructType([
    T.StructField("count", T.LongType()),
    T.StructField("total", T.DoubleType()),
])

def _keyed_output_schema(sdf: DataFrame, key_col: str,
                         tail: list) -> T.StructType:
    """Output StructType for a keyed stateful operator: the key field
    under its REAL name and input type (not a hardcoded user_id/long —
    a string key would otherwise fail at runtime with an Arrow schema
    mismatch, and a renamed key silently emitted as user_id)."""
    return T.StructType(
        [T.StructField(key_col, sdf.schema[key_col].dataType)]
        + list(tail))


_TOTALS_TAIL = [
    T.StructField("count", T.LongType()),
    T.StructField("total", T.DoubleType()),
]


def running_user_totals(sdf: DataFrame, user_col: str = "user_id",
                        value_col: str = "value") -> DataFrame:
    """Custom stateful streaming operator: per-user running (count, total)
    maintained across micro-batches with ``applyInPandasWithState``.

    State is O(1) per key; the shuffle partitions by user, so state lives
    where the key lives — the standard scalable stateful pattern.
    """

    def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (user,) = key
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            count += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((count, total))
        yield pd.DataFrame({user_col: [user], "count": [count],
                            "total": [total]})

    return (sdf.select(user_col, value_col)
            .groupBy(user_col)
            .applyInPandasWithState(
                _update,
                outputStructType=_keyed_output_schema(
                    sdf, user_col, _TOTALS_TAIL),
                stateStructType=_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


_HOLT_STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("y1", T.DoubleType()),
    T.StructField("level", T.DoubleType()),
    T.StructField("trend", T.DoubleType()),
])

_HOLT_TAIL = [
    T.StructField("n", T.LongType()),
    T.StructField("level", T.DoubleType()),
    T.StructField("trend", T.DoubleType()),
    T.StructField("forecast", T.DoubleType()),
]


def streaming_holt(sdf: DataFrame, key_col: str = "user_id",
                   value_col: str = "value",
                   order_cols: list[str] | None = None,
                   alpha: float = 0.5, beta: float = 0.3,
                   horizon: int = 3) -> DataFrame:
    """Streaming twin of ``relational.holt_linear``: per-key Holt
    linear-trend smoothing as an ``applyInPandasWithState`` operator.
    The batch operator collects each key's FULL ordered series into one
    array (bounded-series contract); here the state is O(1) — four
    numbers (n, first value, level, trend) carried across micro-batches
    — so the stream form handles UNBOUNDED per-key series, exactly the
    escape the batch guard's error message points to for hot keys.

    Semantics: identical recurrence, identical operation order (the
    same Python float ops the batch fold inlines as JVM doubles), so
    on the same prefix in the same order the two agree bit-for-bit —
    pytest-pinned. Rows are sorted by *order_cols* WITHIN each
    micro-batch; cross-batch order is the arrival order, the standard
    streaming contract (a watermark + sorted replay gives total order).

    Output (update mode): one row per key per micro-batch with the
    state after that batch — keys still holding fewer than 2 points
    emit nothing (the batch operator drops them too).
    """
    a1, a2 = float(alpha), float(1 - alpha)
    c1, c2 = float(beta * alpha), float(1 - beta * alpha)
    ocols = list(order_cols or [])
    fh = float(horizon)

    def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (k,) = key
        n, y1, lev, tr = state.get if state.exists else (0, 0.0, 0.0, 0.0)
        chunks = list(pdfs)
        pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        if ocols:
            pdf = pdf.sort_values(ocols, kind="stable")
        for y in pdf[value_col].astype(float):
            if n == 0:
                y1 = y
            else:
                if n == 1:
                    lev, tr = y1, y - y1
                # same op order as the batch fold (old level on the RHS
                # of both updates) -> bit-identical doubles
                lev, tr = (a1 * y + a2 * (lev + tr),
                           c1 * (y - lev) + c2 * tr)
            n += 1
        state.update((n, y1, lev, tr))
        if n >= 2:
            yield pd.DataFrame({
                key_col: [k], "n": [n], "level": [lev],
                "trend": [tr], "forecast": [lev + fh * tr]})

    cols = [key_col, value_col] + ocols
    return (sdf.select(*cols)
            .groupBy(key_col)
            .applyInPandasWithState(
                _update,
                outputStructType=_keyed_output_schema(
                    sdf, key_col, _HOLT_TAIL),
                stateStructType=_HOLT_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


_CUSUM_STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("s_plus", T.DoubleType()),
    T.StructField("s_minus", T.DoubleType()),
    T.StructField("max_s_plus", T.DoubleType()),
    T.StructField("max_s_minus", T.DoubleType()),
])

_CUSUM_TAIL = [
    T.StructField("n", T.LongType()),
    T.StructField("max_s_plus", T.DoubleType()),
    T.StructField("max_s_minus", T.DoubleType()),
    T.StructField("alarm", T.BooleanType()),
]


def streaming_cusum(sdf: DataFrame, mu: float, sigma: float,
                    key_col: str = "user_id",
                    value_col: str = "value",
                    order_cols: list[str] | None = None,
                    kappa: float = 0.5, h: float = 4.0) -> DataFrame:
    """Streaming twin of ``relational.cusum_drift`` — Page's CUSUM in
    its ORIGINAL sequential form: the reference mean/σ are supplied
    (from a calibration window, a control chart, or the batch
    operator's own exact moments) instead of estimated from the full
    series, because a stream never has the full series. State is five
    numbers per key across micro-batches; same update expression, same
    operation order as the batch fold, so with ``mu``/``sigma`` set to
    the batch operator's computed moments the S statistics agree
    bit-for-bit on the same prefix — pytest-pinned. Emits each key's
    running maxima + alarm (max S exceeds h·σ) every micro-batch.
    """
    fmu, fsd = float(mu), float(sigma)
    slack = float(kappa) * fsd
    limit = float(h) * fsd
    ocols = list(order_cols or [])

    def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (k,) = key
        n, sp, sm, msp, msm = state.get if state.exists \
            else (0, 0.0, 0.0, 0.0, 0.0)
        chunks = list(pdfs)
        pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        if ocols:
            pdf = pdf.sort_values(ocols, kind="stable")
        for y in pdf[value_col].astype(float):
            sp = max(0.0, sp + (y - fmu - slack))
            sm = max(0.0, sm + (fmu - y - slack))
            msp = max(msp, sp)
            msm = max(msm, sm)
            n += 1
        state.update((n, sp, sm, msp, msm))
        if n >= 1:
            yield pd.DataFrame({
                key_col: [k], "n": [n], "max_s_plus": [msp],
                "max_s_minus": [msm],
                "alarm": [msp > limit or msm > limit]})

    cols = [key_col, value_col] + ocols
    return (sdf.select(*cols)
            .groupBy(key_col)
            .applyInPandasWithState(
                _update,
                outputStructType=_keyed_output_schema(
                    sdf, key_col, _CUSUM_TAIL),
                stateStructType=_CUSUM_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


#: serializes the shuffle-partition pin window in run_stream_to_memory
_START_LOCK = threading.Lock()


#: free bytes /dev/shm must report before scratch goes there — container
#: tmpfs mounts are often only 64 MiB, and a full tmpfs fails writes
#: mid-query instead of up front
SHM_MIN_FREE_BYTES = 1 << 30


def scratch_dir() -> str:
    """Fast ephemeral scratch for verification-stream checkpoints and
    test-only table dirs. These checkpoints live only for the duration
    of a memory-sink verification query (removed on stop), so
    durability is irrelevant — prefer RAM-backed tmpfs when present
    with at least ``SHM_MIN_FREE_BYTES`` free (state-store + offset-log
    commits are many tiny fsync-ing files, measured IO-bound on disk
    /tmp), else the system temp dir. Override with $SPARK_GRAFT_SCRATCH
    (e.g. cluster-local SSD scratch); production streams pass their own
    durable ``checkpoint_dir`` explicitly and never come through here.
    """
    import os
    import tempfile
    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        return env
    try:
        st = os.statvfs("/dev/shm")
    except OSError:
        st = None
    if (st is not None and st.f_bavail * st.f_frsize >= SHM_MIN_FREE_BYTES
            and os.access("/dev/shm", os.W_OK)):
        return "/dev/shm"
    return tempfile.gettempdir()


def run_stream_to_memory(stream_df: DataFrame, query_name: str,
                         output_mode: str = "update",
                         min_rows: int | None = None,
                         timeout: float = 120.0) -> None:
    """Drive a stream to a memory sink until all available data is
    processed (test/verification harness).

    *min_rows*: keep the query alive until the sink holds at least this
    many rows (or *timeout* elapses). Needed for watermark-gated output
    — outer-join null rows and final window panes are emitted by the
    no-data micro-batch AFTER the watermark advances, which
    ``processAllAvailable`` alone may return before.

    Shuffle-partition note: a streaming query PINS the session's
    ``spark.sql.shuffle.partitions`` at start for the life of its state
    stores; stateful operators (dedup/joins/windows) pay per-partition
    state-store setup every micro-batch, so a 32-partition default
    costs multiples of the actual work on small-to-medium streams
    (measured 8.5s → ~3s on the stream-stream join at sf0.1). The
    query is planned with at most 8 shuffle partitions here — on a
    real cluster with large state, raise the session conf before
    calling (the pin is per-query, so batch queries are unaffected).
    """
    import shutil
    import tempfile
    spark = stream_df.sparkSession
    ckpt = tempfile.mkdtemp(prefix=f"cdf_ck_{query_name}_",
                            dir=scratch_dir())
    q = None
    try:
        # the set -> start -> restore window is serialized: independent
        # streams are routinely STARTED from a small thread pool so
        # their micro-batches overlap, and an unguarded restore could
        # capture another starter's temporary value as "previous" and
        # leave the session conf pinned low for later batch queries
        with _START_LOCK:
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            stream_parts = min(int(prev), 8) if str(prev).isdigit() else 8
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(stream_parts))
            try:
                q = (stream_df.writeStream.format("memory")
                     .queryName(query_name)
                     .option("checkpointLocation", ckpt)
                     .outputMode(output_mode).start())
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
        q.processAllAvailable()
        if min_rows is not None:
            import time as _time
            deadline = _time.time() + timeout
            while (spark.table(query_name).count() < min_rows
                   and _time.time() < deadline):
                # short poll: the no-data micro-batch that emits
                # watermark-gated rows usually lands within ~100ms of
                # processAllAvailable; 0.5s polls added ~0.4s per
                # waiting stream to the composite wall
                _time.sleep(0.1)
                q.processAllAvailable()
    finally:
        # a failed start() or micro-batch must not leak the checkpoint
        if q is not None:
            q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)


def streaming_dedup(sdf: DataFrame, key_cols: list[str],
                    ts_col: str = "ts", delay: str = "1 hour") -> DataFrame:
    """Exactly-once projection over an at-least-once stream: drop
    duplicate deliveries of the same keys.

    The event-time column joins the dedup key so the state store evicts
    entries once the watermark passes them — bounded state, the
    production-safe shape for infinite streams (unkeyed ``dropDuplicates``
    would grow state forever). Duplicates of a record share its event
    time, so including it never misses a dup.
    """
    return (sdf.withWatermark(ts_col, delay)
            .dropDuplicates([*key_cols, ts_col]))


def stream_static_join(stream_df: DataFrame, static_df: DataFrame,
                       on, how: str = "inner") -> DataFrame:
    """Enrich a stream with a static dimension table. Spark broadcasts or
    re-reads the static side per micro-batch; no state is kept, so any
    join type the planner allows works and state size is zero — the
    standard dimension-enrichment shape at scale."""
    return stream_df.join(static_df, on, how)


def stream_stream_interval_join(left: DataFrame, right: DataFrame,
                                key: str, left_ts: str, right_ts: str,
                                max_delay: str = "10 minutes",
                                watermark: str = "1 hour",
                                how: str = "inner") -> DataFrame:
    """Stream-stream join: pair each left event with the right events of
    the same *key* whose timestamp falls in
    ``[left_ts, left_ts + max_delay]``.

    Both sides carry watermarks and the join condition bounds event time
    in both directions, so the state store provably evicts rows once the
    watermark passes ``left_ts + max_delay`` — bounded state on infinite
    streams, the production-safe shape. The same plan runs in batch mode
    (the oracle path) because the condition is an ordinary theta join.

    ``how='left_outer'`` additionally emits each unmatched left event
    with NULL right columns — but only once the watermark proves no
    matching right event can still arrive, i.e. null rows surface in a
    LATER micro-batch than their event (use ``run_stream_to_memory``'s
    *min_rows* to wait for that flush in tests). Right/full outer work
    the same way; semi/anti are not supported by the state store.
    """
    l = left.select(F.col(key).alias("__lk__"),
                    F.col(left_ts).alias("__lts__"),
                    *[c for c in left.columns if c not in (key, left_ts)])
    r = right.select(F.col(key).alias("__rk__"),
                     F.col(right_ts).alias("__rts__"),
                     *[c for c in right.columns if c not in (key, right_ts)])
    if l.isStreaming:
        l = l.withWatermark("__lts__", watermark)
        r = r.withWatermark("__rts__", watermark)
    cond = ((F.col("__lk__") == F.col("__rk__"))
            & (F.col("__rts__") >= F.col("__lts__"))
            & (F.col("__rts__") <= F.col("__lts__")
               + F.expr(f"INTERVAL {max_delay}")))
    return (l.join(r, cond, how)
            .select(F.col("__lk__").alias(key),
                    F.col("__lts__").alias(left_ts),
                    F.col("__rts__").alias(right_ts),
                    *[c for c in l.columns if c.startswith("__") is False],
                    *[c for c in r.columns if c.startswith("__") is False]))


def stream_foreach_batch_parquet(stream_df: DataFrame, path: str,
                                 checkpoint_dir: str) -> None:
    """Drive a stream into partitioned parquet via ``foreachBatch`` with
    batch-id idempotence: each micro-batch writes to
    ``path/batch=<epoch>`` with ``overwrite``, so a batch replayed after
    a failure overwrites its own directory instead of duplicating rows —
    the standard exactly-once file-sink recipe when the built-in file
    sink's commit log cannot be used (e.g. when also writing to other
    systems in the same batch). The checkpoint directory carries the
    stream's progress across restarts.
    """
    def _write(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{path}/batch={epoch_id}")

    q = (stream_df.writeStream.foreachBatch(_write)
         .option("checkpointLocation", checkpoint_dir)
         .start())
    q.processAllAvailable()
    q.stop()


def read_stream_parquet_throttled(spark: SparkSession, path: str, schema,
                                  max_files_per_trigger: int = 1,
                                  glob: str | None = None) -> DataFrame:
    """File-source stream that admits at most *max_files_per_trigger*
    files per micro-batch — the backpressure knob that turns a directory
    backlog into bounded, steady micro-batches instead of one giant
    catch-up batch."""
    reader = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger))
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.parquet(path)


def snapshot_stream_sink(table_dir: str, app_id: str,
                         mode: str = "append",
                         stats_cols=None, bloom_cols=None,
                         num_files: int | None = None,
                         max_retries: int = 5,
                         partition_by=None):
    """foreachBatch callable publishing each micro-batch as a snapshot
    table version EXACTLY ONCE — the union of the two subsystems: a
    stream lands in the same time-travelable, stats-pruned, vacuumable
    manifest format every batch reader uses.

    Exactly-once protocol (Delta's ``txnAppId``/``txnVersion``, public):
    every publish stamps ``txn = (app_id, batch_id)`` into the manifest
    (carried forward by all later writers); a REPLAYED batch — Spark
    re-runs the last micro-batch when a crash lands between the sink
    call and the checkpoint commit — sees ``snapshot_txn_version >=
    batch_id`` and returns without writing. Racing non-stream writers
    (ingest appends, OPTIMIZE) are absorbed by the publish retry loop,
    which re-checks the watermark before every attempt so a conflict
    caused by our own landed commit can't double-publish.

    ``partition_by`` lays every micro-batch's files out Hive-style
    with manifest partition tuples (round 10), so the streamed table
    gets the same metadata-exact date=/key= pruning as batch writes —
    the streaming-ingest layout story end to end.
    """
    from cl_data_frame_spark.sources.snapshots import (
        snapshot_txn_version, snapshot_write)
    if mode not in ("append", "complete"):
        raise ValueError(f"mode must be append/complete, got {mode!r}")
    write_mode = "append" if mode == "append" else "overwrite"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        last = FileExistsError("unreached")
        for _ in range(max_retries + 1):
            done = snapshot_txn_version(table_dir, app_id)
            if done is not None and int(batch_id) <= done:
                return                       # replayed batch: landed
            try:
                snapshot_write(batch_df, table_dir, mode=write_mode,
                               stats_cols=stats_cols,
                               bloom_cols=bloom_cols,
                               num_files=num_files,
                               partition_by=partition_by,
                               txn=(app_id, int(batch_id)))
                return
            except FileExistsError as exc:
                last = exc                   # racer: re-check, retry
        raise FileExistsError(
            f"stream batch {batch_id} lost the publish race "
            f"{max_retries + 1} times in {table_dir}: {last}")

    return _sink


def write_stream_to_snapshot(stream_df: DataFrame, table_dir: str,
                             checkpoint_dir: str, app_id: str,
                             mode: str = "append", stats_cols=None,
                             bloom_cols=None,
                             num_files: int | None = None,
                             partition_by=None):
    """Start a streaming query landing every micro-batch in a snapshot
    table via ``snapshot_stream_sink`` (exactly-once across restarts:
    the checkpoint replays at-least-once, the txn watermark dedups).
    Returns the running ``StreamingQuery`` — callers drive/stop it."""
    # mode='complete' must pair with outputMode('complete') so every
    # trigger hands the sink the FULL result table to overwrite with —
    # 'update' would deliver only the changed groups and the overwrite
    # would silently drop every unchanged group from the new version
    return (stream_df.writeStream
            .foreachBatch(snapshot_stream_sink(
                table_dir, app_id, mode=mode, stats_cols=stats_cols,
                bloom_cols=bloom_cols, num_files=num_files,
                partition_by=partition_by))
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("complete" if mode == "complete" else "append")
            .start())

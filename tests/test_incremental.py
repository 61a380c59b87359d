"""Incremental MinHash dedup index: batch ingest against persisted
signature state — corpus history text is never rescanned."""

from __future__ import annotations


BASE = "the quick brown fox jumps over the lazy dog " * 8
OTHER = "completely different text about spark engines " * 8
FRESH = "fresh unseen content with its own words entirely " * 8


def test_index_flags_cross_batch_and_intra_batch_dups(spark,
                                                      tmp_path):
    from cl_data_frame_spark.operators import incremental as INC
    from cl_data_frame_spark.sources.snapshots import (
        snapshot_history, snapshot_read)
    t = str(tmp_path / "idx")
    b1 = spark.createDataFrame([(1, BASE), (2, OTHER)],
                               ["doc_id", "text"])
    f1 = {r.doc_id: r for r in
          INC.minhash_index_update(spark, t, b1).spark_df.collect()}
    assert not f1[1].is_duplicate and not f1[2].is_duplicate
    b2 = spark.createDataFrame(
        [(10, BASE.replace("lazy", "very lazy", 1)),  # near-dup of 1
         (11, OTHER),                                 # exact re-ingest
         (12, FRESH),                                 # novel
         (13, FRESH)],                                # intra-batch dup
        ["doc_id", "text"])
    f2 = {r.doc_id: r for r in
          INC.minhash_index_update(spark, t, b2).spark_df.collect()}
    assert f2[10].is_duplicate and f2[10].match_id == 1
    assert 0.8 <= f2[10].est_jaccard < 1.0
    assert f2[11].is_duplicate and f2[11].match_id == 2
    assert f2[11].est_jaccard == 1.0
    assert not f2[12].is_duplicate
    assert f2[13].is_duplicate and f2[13].match_id == 12
    # the index holds ONLY novel signatures, appended per batch
    idx_ids = sorted(r.doc_id for r in
                     snapshot_read(spark, t).spark_df
                     .select("doc_id").collect())
    assert idx_ids == [1, 2, 12]
    assert [h["version"] for h in snapshot_history(t)] == [1, 2]
    assert [h["operation"] for h in snapshot_history(t)] == \
        ["append", "append"]


def test_index_txn_watermark_for_streaming_ingest(spark, tmp_path):
    from cl_data_frame_spark.operators import incremental as INC
    from cl_data_frame_spark.sources.snapshots import (
        snapshot_txn_version)
    t = str(tmp_path / "idx")
    b = spark.createDataFrame([(1, BASE)], ["doc_id", "text"])
    INC.minhash_index_update(spark, t, b, txn=("ingest", 0))
    assert snapshot_txn_version(t, "ingest") == 0


def test_index_rejects_mismatched_signature_width(spark, tmp_path):
    import pytest
    from cl_data_frame_spark.operators import incremental as INC
    t = str(tmp_path / "idx")
    b = spark.createDataFrame([(1, BASE)], ["doc_id", "text"])
    INC.minhash_index_update(spark, t, b, num_hashes=64, bands=16)
    # a later batch with a different signature width must fail LOUDLY
    # up front, not silently mix incomparable signatures
    with pytest.raises(ValueError, match="signature schema mismatch"):
        INC.minhash_index_update(spark, t,
                                 spark.createDataFrame(
                                     [(2, OTHER)], ["doc_id", "text"]),
                                 num_hashes=128, bands=32)


def test_stream_sink_dedups_and_swallows_replay(spark, tmp_path):
    from cl_data_frame_spark.operators import incremental as INC
    from cl_data_frame_spark.sources.snapshots import (
        snapshot_history, snapshot_read)
    idx = str(tmp_path / "idx")
    fl = str(tmp_path / "flags")
    sink = INC.minhash_index_stream_sink(idx, fl, app_id="t_ingest")
    b0 = spark.createDataFrame([(1, BASE)], ["doc_id", "text"])
    b1 = spark.createDataFrame([(2, BASE), (3, OTHER)],
                               ["doc_id", "text"])
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)                     # crash replay: swallowed whole
    flags = {r.doc_id: r for r in
             snapshot_read(spark, fl).spark_df.collect()}
    assert len(flags) == 3          # no double-landed flags
    assert not flags[1].is_duplicate
    assert flags[2].is_duplicate and flags[2].match_id == 1
    assert not flags[3].is_duplicate
    idx_ids = sorted(r.doc_id for r in
                     snapshot_read(spark, idx).spark_df
                     .select("doc_id").collect())
    assert idx_ids == [1, 3]
    assert len(snapshot_history(idx)) == 2


def test_optimize_where_compacts_only_matching_files(spark, tmp_path):
    from pyspark.sql import functions as F
    from cl_data_frame_spark.sources.snapshots import (
        snapshot_optimize, snapshot_read, snapshot_write,
        _read_manifest, _latest_version)
    t = str(tmp_path / "tbl")
    # two key bands, many small files each, stats on k
    snapshot_write(spark.range(100).select(F.col("id").alias("k"))
                   .repartitionByRange(4, "k"),
                   t, stats_cols=["k"])
    snapshot_write(spark.range(1000, 1100).select(F.col("id")
                                                  .alias("k"))
                   .repartitionByRange(4, "k"),
                   t, mode="append", stats_cols=["k"])
    pre = _read_manifest(t, _latest_version(t))["files"]
    assert len(pre) == 8
    v = snapshot_optimize(spark, t, num_files=1,
                          where=[("k", ">=", 1000)])
    post = _read_manifest(t, v)["files"]
    carried = set(pre) & set(post)
    assert len(carried) == 4        # the cold band untouched
    assert len(post) == 5           # 4 carried + 1 compacted
    got = snapshot_read(spark, t)
    assert got.nrow == 200          # rows identical
    # a predicate matching nothing is a metadata no-op
    v2 = snapshot_optimize(spark, t, num_files=1,
                           where=[("k", ">=", 10_000)])
    assert v2 == v                  # no new version published


def test_stream_sink_recovers_crash_between_commits(spark, tmp_path):
    # regression: index committed, flags lost, batch replayed — the
    # flags must still land (watermark lives on the LAST table), and
    # the replayed index append is swallowed without self-matching
    from cl_data_frame_spark.operators import incremental as INC
    from cl_data_frame_spark.sources.snapshots import (
        snapshot_history, snapshot_read)
    idx = str(tmp_path / "idx")
    fl = str(tmp_path / "flags")
    b = spark.createDataFrame([(1, BASE), (2, OTHER)],
                              ["doc_id", "text"])
    # simulate the crash: the index append landed with the batch txn,
    # but the flags write never happened
    INC.minhash_index_update(spark, idx, b, txn=("t_crash", 0))
    sink = INC.minhash_index_stream_sink(idx, fl, app_id="t_crash")
    sink(b, 0)                            # replay
    flags = {r.doc_id: r for r in
             snapshot_read(spark, fl).spark_df.collect()}
    assert len(flags) == 2
    # ids already in the index must NOT flag as duplicates of
    # themselves on the replay
    assert not flags[1].is_duplicate and not flags[2].is_duplicate
    assert len(snapshot_history(idx)) == 1    # no second append


def test_index_update_retries_lost_publish_race(spark, tmp_path,
                                                monkeypatch):
    # a lost publish race re-reads the index and re-dedups: the
    # retried batch must see the interleaved winner's docs
    from cl_data_frame_spark.operators import incremental as INC
    from cl_data_frame_spark.sources import snapshots as SNAP
    idx = str(tmp_path / "idx")
    INC.minhash_index_update(
        spark, idx, spark.createDataFrame([(1, OTHER)],
                                          ["doc_id", "text"]))
    real_write = SNAP.snapshot_write
    state = {"raised": False}

    def racing_write(frame, table_dir, **kw):
        if not state["raised"]:
            state["raised"] = True
            raise FileExistsError("simulated lost race")
        return real_write(frame, table_dir, **kw)

    # winner's doc enters the index between the loser's read and write
    INC.minhash_index_update(
        spark, idx, spark.createDataFrame([(50, BASE)],
                                          ["doc_id", "text"]))
    monkeypatch.setattr(SNAP, "snapshot_write", racing_write)
    flags = INC.minhash_index_update(
        spark, idx, spark.createDataFrame([(99, BASE)],
                                          ["doc_id", "text"])) \
        .spark_df.collect()[0]
    assert flags.is_duplicate and flags.match_id == 50


def _stored_checkpoints(spark) -> set[int]:
    return {i.id() for i in
            spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if "localCheckpoint" in i.callSite()}


def _checkpoint_ids(df) -> set[int]:
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    return {leaves.apply(i).rdd().id() for i in range(leaves.size())
            if leaves.apply(i).nodeName() == "LogicalRDD"}


def test_index_update_releases_its_signatures(spark, tmp_path):
    """Once an index update returns, only the flags it returns stay
    stored: the batch signatures' checkpoint is released."""
    from cl_data_frame_spark.operators import incremental as INC
    t = str(tmp_path / "idx")
    INC.minhash_index_update(spark, t, spark.createDataFrame(
        [(1, BASE), (2, OTHER)], ["doc_id", "text"]))
    before = _stored_checkpoints(spark)
    flags = INC.minhash_index_update(spark, t, spark.createDataFrame(
        [(10, BASE), (12, FRESH)], ["doc_id", "text"])).spark_df
    assert _stored_checkpoints(spark) - before == _checkpoint_ids(flags)
    assert sorted(r.doc_id for r in flags.collect()) == [10, 12]


def test_index_update_py4j_commands(spark, tmp_path, py4j_commands):
    """An index update against an existing index sends a bounded number
    of py4j commands: each signature lane, band projection and match
    fraction is one parsed expression, and no call captures its Python
    call site."""
    from cl_data_frame_spark.operators import incremental as INC
    t = str(tmp_path / "idx")
    INC.minhash_index_update(spark, t, spark.createDataFrame(
        [(1, BASE), (2, OTHER)], ["doc_id", "text"]))
    batch = spark.createDataFrame([(10, BASE), (12, FRESH)],
                                  ["doc_id", "text"])
    sent = py4j_commands(
        lambda: INC.minhash_index_update(spark, t, batch))
    # local[4], 128 hashes: 2,828 here; 24,667 with PySpark's call-site
    # capture on and every lane, band and match term built Column by
    # Column
    assert sent <= 3200, sent

"""Persisted IVF/ANN index over snapshot tables (Tier X, SURVEY.md
§2.3 — similarity-search scale path, round 10).

The batch IVF in ``similarity.py`` recomputes centroid routing on
every query; a production corpus ingests continuously and queries far
more often than it retrains. This module persists the two IVF halves
as snapshot tables under one index directory:

    <index_dir>/centroids   (centroid_id bigint, vector array<double>)
    <index_dir>/vectors     (id, embedding, centroid_id)
                            written partition_by=["centroid_id"]

- ``ann_index_build`` trains k-means (the deterministic
  ``kmeans_fit``) and seeds both tables.
- ``ann_index_update`` routes ONE ingest batch against the stored
  k x dim centroid table (broadcast; per-batch cost independent of
  history size) and appends the routed vectors, Hive-partitioned by
  cell, with the manifest recording each file's partition tuple.
  ``txn=(app_id, batch_id)`` gives streaming ingest exactly-once
  replay (the snapshot txn watermark protocol).
- ``ann_index_query`` scores the query against the centroids
  driver-side (k x dim — tiny), keeps the *nprobe* nearest cells, and
  scans ONLY those cells' files — the partition-tuple prune makes the
  cell filter metadata-exact, so a query touches ~nprobe/k of the
  corpus regardless of how many batches have ever been ingested.

The reference (`cl-data-frame.lisp:1-583`) has no similarity search;
the IVF design follows the public Jégou et al. TPAMI'11 inverted-file
scheme.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..frame import SparkFrame
from ..session import local_frame
from .similarity import _lit_vec, _route, kmeans_fit

_CENTROIDS = "centroids"
_VECTORS = "vectors"
_IDX_META = "_ann_index.json"


def _idx_meta_path(index_dir: str) -> str:
    return os.path.join(index_dir, _IDX_META)


def _read_idx_meta(index_dir: str) -> dict:
    try:
        with open(_idx_meta_path(index_dir), "r",
                  encoding="utf-8") as fh:
            return json.load(fh)
    except (FileNotFoundError, json.JSONDecodeError):
        return {}


def _write_idx_meta(index_dir: str, meta: dict) -> None:
    tmp = _idx_meta_path(index_dir) + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    os.replace(tmp, _idx_meta_path(index_dir))


def _routing_stats(assign: DataFrame) -> tuple[float, int]:
    """(sum, count) of routed cosine similarities — one tiny
    aggregate over an already-batch-sized assignment frame."""
    r = assign.agg(F.sum("centroid_sim").alias("s"),
                   F.count(F.lit(1)).alias("n")).collect()[0]
    return float(r["s"] or 0.0), int(r["n"])


def _plain(frame) -> DataFrame:
    return frame.spark_df if isinstance(frame, SparkFrame) else frame


def _dirs(index_dir: str) -> tuple[str, str]:
    return (os.path.join(index_dir, _CENTROIDS),
            os.path.join(index_dir, _VECTORS))


def load_centroids(spark: SparkSession, index_dir: str) -> list:
    """The stored model, k x dim — the only driver-side state."""
    from cl_data_frame_spark.sources.snapshots import snapshot_read
    cdir, _ = _dirs(index_dir)
    rows = snapshot_read(spark, cdir).spark_df.collect()
    return sorted((int(r["centroid_id"]),
                   [float(x) for x in r["vector"]]) for r in rows)


def ann_index_build(spark: SparkSession, index_dir: str, frame,
                    k: int = 8, max_iter: int = 3,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> int:
    """Train the cell model on *frame* and seed the index with its
    vectors; returns the vectors table's first version. REBUILDING
    over an existing index OVERWRITES the vectors table too — old
    vectors carried centroid_ids from the replaced model and would
    silently route queries to wrong cells if left appended."""
    from cl_data_frame_spark.sources.snapshots import snapshot_write
    cdir, _ = _dirs(index_dir)
    cents, _assign = kmeans_fit(frame, k=k, max_iter=max_iter,
                                id_col=id_col, vec_col=vec_col)
    cdf = local_frame(
        spark, [(int(cid), [float(x) for x in vec]) for cid, vec in cents],
        "centroid_id bigint, vector array<double>")
    snapshot_write(cdf, cdir, mode="overwrite", num_files=1)
    return ann_index_update(spark, index_dir, frame,
                            id_col=id_col, vec_col=vec_col,
                            _mode="overwrite")


def ann_index_update(spark: SparkSession, index_dir: str, batch,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     txn: tuple[str, int] | None = None,
                     _mode: str = "append") -> int:
    """Route one ingest batch to the stored cells and append it,
    partitioned by cell. Per-batch cost: one broadcast routing pass
    over the BATCH — never a rescan of the index. Replayed
    transactions (``txn`` at or below the stored watermark) are
    swallowed, returning -1. (``_mode='overwrite'`` is the
    build/recluster seed path: it replaces any stale vectors routed
    under a previous model.)"""
    from cl_data_frame_spark.sources.snapshots import (
        snapshot_txn_version, snapshot_write)
    _, vdir = _dirs(index_dir)
    if txn is not None:
        last = snapshot_txn_version(vdir, txn[0])
        if last is not None and int(txn[1]) <= last:
            return -1
    cents = load_centroids(spark, index_dir)
    sdf = _plain(batch)
    # pin ONE routing pass: the write and the drift statistic both
    # consume the assignment
    assign = _route(sdf, cents, id_col, vec_col).spark_df \
        .localCheckpoint(eager=True)
    rows = (sdf.select(id_col, vec_col)
            .join(assign.select(id_col, "centroid_id"), on=id_col))
    # id stats let ann_index_delete prune to the files actually
    # holding a vector (the GDPR point-delete path)
    v = snapshot_write(rows, vdir, mode=_mode,
                       partition_by=["centroid_id"],
                       stats_cols=[id_col], txn=txn)
    # DRIFT TRACKING (advisory, written after the data commit — a
    # crash in between costs staleness of the health statistic,
    # never correctness): the seed/overwrite batch RESETS the
    # model's routing-quality baseline; every append accumulates
    # into the running mean ann_index_health compares against.
    s, n = _routing_stats(assign)
    if _mode == "overwrite":
        _write_idx_meta(index_dir, {
            "baseline_mean_sim": (s / n) if n else None,
            "baseline_n": n, "cur_sum": 0.0, "cur_n": 0})
    else:
        meta = _read_idx_meta(index_dir)
        if meta.get("baseline_mean_sim") is not None:
            meta["cur_sum"] = float(meta.get("cur_sum") or 0.0) + s
            meta["cur_n"] = int(meta.get("cur_n") or 0) + n
            _write_idx_meta(index_dir, meta)
    return v


def ann_index_delete(spark: SparkSession, index_dir: str, ids,
                     id_col: str = "vec_id") -> int:
    """Remove vectors by id (the GDPR/right-to-be-forgotten path) in
    ONE deletion-vector commit: an ``(id, in, ids)`` predicate prunes
    via manifest id stats to the files that can hold any of the ids,
    and every matched position lands in DV sidecars under a single
    manifest publish — forgetting k vectors in a 100 TB index writes
    bytes proportional to k, with ONE Spark job and ONE version bump
    (the old per-id loop issued k sequential commits). Returns the
    new version."""
    from cl_data_frame_spark.sources.snapshots import snapshot_delete
    _, vdir = _dirs(index_dir)
    ids = [int(i) for i in ids]
    if not ids:
        raise ValueError("ann_index_delete: empty id list")
    return snapshot_delete(spark, vdir, [(id_col, "in", ids)])


def ann_index_recluster(spark: SparkSession, index_dir: str,
                        k: int | None = None, max_iter: int = 3,
                        train_frame=None,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> int:
    """Retrain the cell model and re-route EVERY stored vector — the
    index-maintenance op for centroid drift: ``ann_index_build``
    trains once, and as the corpus grows past the training
    distribution the stale cells mix neighborhoods, so a query's
    probed cells hold an ever-thinner slice of its true neighbors
    (recall decays). Recluster = one k-means over the CURRENT corpus
    (or *train_frame*, e.g. a sample or a hand-picked seed set — the
    standard IVF retraining lever), one OPTIMIZE-style overwrite of
    the vectors table re-routed and re-partitioned by the new cells,
    one overwrite of the centroids table. Readers pinned to older
    versions keep the old routing (snapshot semantics); update/query
    work unchanged against the new model. Returns the vectors
    table's new version."""
    from cl_data_frame_spark.sources.snapshots import (snapshot_read,
                                                       snapshot_write)
    cdir, vdir = _dirs(index_dir)
    cur = snapshot_read(spark, vdir).spark_df.select(id_col, vec_col)
    if k is None:
        k = len(load_centroids(spark, index_dir))
    train = _plain(train_frame) if train_frame is not None else cur
    cents, _assign = kmeans_fit(train, k=k, max_iter=max_iter,
                                id_col=id_col, vec_col=vec_col)
    cdf = local_frame(
        spark, [(int(cid), [float(x) for x in vec]) for cid, vec in cents],
        "centroid_id bigint, vector array<double>")
    assign = _route(cur, cents, id_col, vec_col).spark_df \
        .localCheckpoint(eager=True)
    rows = cur.join(assign.select(id_col, "centroid_id"), on=id_col)
    # two commits, one per table — snapshot isolation is PER TABLE,
    # so a query racing the recluster can pair one table's new
    # version with the other's old (approximate results from
    # mismatched cells for that instant). Run recluster from the
    # maintenance path, like OPTIMIZE; queries before and after are
    # exact-per-model.
    v = snapshot_write(rows, vdir, mode="overwrite",
                       partition_by=["centroid_id"],
                       stats_cols=[id_col])
    snapshot_write(cdf, cdir, mode="overwrite", num_files=1)
    # the retrained model starts a fresh drift baseline
    s, n = _routing_stats(assign)
    _write_idx_meta(index_dir, {
        "baseline_mean_sim": (s / n) if n else None,
        "baseline_n": n, "cur_sum": 0.0, "cur_n": 0})
    return v


def ann_index_health(spark: SparkSession, index_dir: str,
                     drift_threshold: float = 0.95) -> dict:
    """The index's RECALL-DRIFT statistic, answerable from metadata
    alone: ``baseline_mean_sim`` is the mean routed cosine (each
    vector to its assigned centroid) recorded when the current model
    was trained (build / recluster); ``current_mean_sim`` is the
    running mean over every batch ingested SINCE. As the corpus
    drifts away from the training distribution, new vectors land
    farther from their nearest stale centroid, the ratio decays, and
    probed cells hold an ever-thinner slice of each query's true
    neighbors — the statistic crosses *drift_threshold* BEFORE the
    measured recall drop, so a pipeline can schedule
    ``ann_index_recluster`` without running a recall evaluation.
    Returns ``{baseline_mean_sim, current_mean_sim, ingested_n,
    drift_ratio, recluster_recommended}``; a legacy index without
    recorded stats (or one with no post-build ingest) reports
    ``drift_ratio=None`` and never recommends."""
    meta = _read_idx_meta(index_dir)
    base = meta.get("baseline_mean_sim")
    cur_n = int(meta.get("cur_n") or 0)
    cur = (float(meta["cur_sum"]) / cur_n) if cur_n else None
    ratio = (cur / base) if (base and cur is not None) else None
    return {
        "baseline_mean_sim": base,
        "current_mean_sim": cur,
        "ingested_n": cur_n,
        "drift_ratio": ratio,
        "recluster_recommended": (ratio is not None
                                  and ratio < float(drift_threshold)),
    }


def ann_index_query(spark: SparkSession, index_dir: str, query_vec,
                    k: int = 10, nprobe: int = 2,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> SparkFrame:
    """Approximate top-k over the persisted index: probe the *nprobe*
    cells nearest the query (driver-side k x dim scoring), scan only
    their files (partition-tuple prune), exact cosine + TakeOrdered
    inside the probed subset. Same argmax/rounding rules as
    ``ivf_search_topk``, so results match the batch IVF bit-for-bit
    on identical data and centroids."""
    from cl_data_frame_spark.sources.snapshots import snapshot_read
    _, vdir = _dirs(index_dir)
    cents = load_centroids(spark, index_dir)
    q = [float(x) for x in query_vec]
    nq = math.sqrt(sum(x * x for x in q))

    def _cos_to_q(vec):
        nb = math.sqrt(sum(float(x) * float(x) for x in vec))
        return sum(a * float(b) for a, b in zip(q, vec)) / (nq * nb)

    probed = [cid for cid, _ in sorted(
        cents, key=lambda cv: (-_cos_to_q(cv[1]), cv[0]))[:nprobe]]
    # ONE pruned read over all probed cells: the in-list prunes on
    # the partition tuples (metadata-exact min==max), so the scan
    # lists exactly the probed cells' files — no per-cell read loop
    part = snapshot_read(
        spark, vdir,
        where=[("centroid_id", "in", [int(c) for c in probed])]
    ).spark_df
    v = F.col(vec_col).cast("array<double>")
    dot = F.aggregate(F.zip_with(v, _lit_vec(q), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    cos = F.round(dot / (na * F.lit(nq)), 6)
    out = (part.select(id_col, "centroid_id", cos.alias("cosine"))
           .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
           .limit(k))
    return SparkFrame(out)


def vectors_table_dir(index_dir: str) -> str:
    """The vectors snapshot table's path — pass to
    ``snapshot_scan_files(..., where=[("centroid_id", "==", cid)])``
    for file-skip asserts and capacity planning."""
    return _dirs(index_dir)[1]

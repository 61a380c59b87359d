"""Incremental near-duplicate INDEX: dedup each ingest batch against
the whole corpus HISTORY without ever rescanning it.

The batch-mode MinHash pass (``dedup.minhash_near_duplicates``) is
quadratic-avoiding but still rescans the full corpus per run. A
production ingest pipeline instead keeps a persisted SIGNATURE INDEX —
per document: its banded MinHash signature, KBs per million docs vs
the TBs of text — and processes each batch as:

1. signature the BATCH only (one scan of the new documents);
2. band-bucket equi-join batch signatures against the INDEX (and
   against the batch itself, for intra-batch duplicates);
3. verify candidates on the minhash match fraction (the unbiased
   Jaccard estimate — the index deliberately does NOT keep shingle
   sets, so the verify is signature-based; at 128 hashes the estimate's
   sd at j=0.8 is 0.035, and the stored threshold should be set with
   that band in mind);
4. flag batch duplicates; APPEND the surviving (novel) signatures to
   the index as a new snapshot version (time-travelable, vacuumable,
   atomically published like every other table here).

At 100 TB of corpus history the per-batch cost is O(batch) plus a
join against the index's band table — the history's TEXT is never
read again. The index is a snapshot table, so racing ingest workers
are serialized by the publish protocol and a crashed ingest leaves
only an unpublished data dir for vacuum.

No reference analogue (`cl-data-frame.lisp:1-583` has no text or I/O
surface); Tier X dedup extension (SURVEY.md §2.3), the incremental
sibling of the batch MinHash/SemDeDup family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cl_data_frame_spark.frame import SparkFrame, sql_ident


def _plain(frame) -> DataFrame:
    return frame.spark_df if isinstance(frame, SparkFrame) else frame


def _signatures(sdf: DataFrame, id_col: str, text_col: str,
                num_hashes: int, shingle_k: int) -> DataFrame:
    """(id, __m0__..__mN__) MinHash signatures — same family as
    ``dedup.minhash_near_duplicates`` (xxhash64 per shingle, seeded
    rehash per lane, grouped min; the shuffle carries signatures,
    never shingles)."""
    from cl_data_frame_spark.operators.dedup import (char_shingles,
                                                     ensure_min_partitions)
    base = ensure_min_partitions(sdf.select(id_col, text_col))
    exploded = base.select(
        id_col, F.explode(char_shingles(text_col, shingle_k))
        .alias("__s__")
    ).select(id_col, F.xxhash64("__s__").alias("__h__"))
    # one parsed expression per lane: a Column chain per lane costs a
    # py4j round trip per function, literal and alias
    return exploded.groupBy(id_col).agg(
        *[F.expr(f"min(xxhash64(__h__, {i})) AS __m{i}__")
          for i in range(num_hashes)])


def _banded(sigs: DataFrame, id_col: str, num_hashes: int,
            bands: int) -> DataFrame:
    rows_per_band = num_hashes // bands
    band_hashes = ", ".join(
        "xxhash64(" + ", ".join(f"__m{i}__" for i in range(
            b * rows_per_band, (b + 1) * rows_per_band)) + ")"
        for b in range(bands))
    return sigs.selectExpr(
        sql_ident(id_col),
        f"posexplode(array({band_hashes})) AS (band, band_hash)")


def minhash_index_update(spark: SparkSession, index_dir: str, batch,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         num_hashes: int = 128, bands: int = 32,
                         jaccard_threshold: float = 0.8,
                         txn: tuple[str, int] | None = None
                         ) -> SparkFrame:
    """Process one ingest batch against the persisted MinHash index:
    returns per batch document ``(id_col, is_duplicate, match_id,
    est_jaccard)`` and APPENDS the novel documents' signatures to the
    index (a snapshot table of ``(id, __m*__)`` rows).

    Duplicate matching covers BOTH the existing index and earlier
    documents of the same batch (smaller id wins, so re-ingesting the
    same batch twice flags the second copy). ``est_jaccard`` is the
    signature match fraction — unbiased, sd ``sqrt(j(1-j)/num_hashes)``.
    ``txn=(app_id, batch_id)`` passes through to the snapshot append
    for exactly-once streaming ingest (see
    ``sketch.sketch_state_stream_sink`` for the replay protocol).
    """
    from cl_data_frame_spark.sources.snapshots import (snapshot_read,
                                                       snapshot_write)
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    from cl_data_frame_spark.sources.snapshots import (
        _release_checkpoint, snapshot_txn_version)
    sdf = _plain(batch)
    sigs = _signatures(sdf, id_col, text_col, num_hashes,
                       shingle_k=5).localCheckpoint(eager=True)
    bands_new = _banded(sigs, id_col, num_hashes, bands)

    def read_index():
        try:
            index = snapshot_read(spark, index_dir).spark_df
        except FileNotFoundError:
            return None
        idx_lanes = sum(1 for c in index.columns
                        if c.startswith("__m"))
        if idx_lanes != num_hashes:
            raise ValueError(
                f"signature schema mismatch: the index at "
                f"{index_dir} holds {idx_lanes}-hash signatures but "
                f"num_hashes={num_hashes} was requested — signatures "
                "from different families are incomparable; rebuild "
                "the index or match its parameters")
        return index

    # the signature match fraction as one SQL expression, summed in the
    # order Python's sum() built the Column tree ((0 + a) folds to
    # (a + 0)); the divisor is a DOUBLE literal, as F.lit(float) was
    eqs = [f"CAST((a.__m{i}__ = b.__m{i}__) AS INT)"
           for i in range(num_hashes)]
    hits = f"({eqs[0]} + 0)"
    for eq in eqs[1:]:
        hits = f"({hits} + {eq})"
    est_jaccard = (f"round(({hits} / {float(num_hashes)!r}D), 6)"
                   " AS est_jaccard")

    def compute_flags(index):
        cands = []
        # intra-batch: candidate pairs with the SMALLER id as match
        self_pairs = (bands_new.alias("x")
                      .join(bands_new.alias("y"),
                            on=["band", "band_hash"])
                      .filter(F.col(f"x.{id_col}")
                              > F.col(f"y.{id_col}"))
                      .select(F.col(f"x.{id_col}").alias("__new__"),
                              F.col(f"y.{id_col}").alias("__old__"))
                      .distinct())
        cands.append(self_pairs)
        if index is not None:
            bands_idx = _banded(index, id_col, num_hashes, bands)
            # the self-id filter makes a REPLAY idempotent: a batch
            # whose ids already landed in the index must not flag
            # every doc as a duplicate of itself
            idx_pairs = (bands_new.alias("x")
                         .join(bands_idx.alias("y"),
                               on=["band", "band_hash"])
                         .filter(F.col(f"x.{id_col}")
                                 != F.col(f"y.{id_col}"))
                         .select(F.col(f"x.{id_col}")
                                 .alias("__new__"),
                                 F.col(f"y.{id_col}")
                                 .alias("__old__"))
                         .distinct())
            cands.append(idx_pairs)
        pairs = cands[0] if len(cands) == 1 else cands[0].unionByName(
            cands[1]).distinct()
        sig_old = (index.unionByName(sigs) if index is not None
                   else sigs)
        verified = (pairs
                    .join(sigs.alias("a"),
                          pairs["__new__"] == F.col(f"a.{id_col}"))
                    .join(sig_old.alias("b"),
                          pairs["__old__"] == F.col(f"b.{id_col}"))
                    .selectExpr("__new__", "__old__", est_jaccard)
                    .filter(F.col("est_jaccard")
                            >= jaccard_threshold))
        best = (verified.groupBy("__new__")
                .agg(F.max(F.struct(
                    F.col("est_jaccard").alias("j"),
                    (-F.col("__old__")).alias("nid")))
                    .alias("__best__"))
                .select(F.col("__new__").alias(id_col),
                        F.col("__best__.j").alias("est_jaccard"),
                        (-F.col("__best__.nid")).alias("match_id")))
        return (sdf.select(id_col)
                .join(best, on=id_col, how="left")
                .select(id_col,
                        F.col("match_id").isNotNull()
                        .alias("is_duplicate"),
                        "match_id", "est_jaccard"))

    # optimistic-concurrency loop: a racing ingest that wins the
    # publish re-enters with ITS signatures in the index, so the loser
    # RE-DEDUPS against the new state before retrying (a blind retry
    # would admit both batches' mutual near-dups as novel)
    last: FileExistsError | None = None
    try:
        for _ in range(6):
            index = read_index()
            # checkpointed once per attempt: the novel-signature append
            # and the caller's collect both read the flags, and each
            # would otherwise re-run the band joins
            flags = compute_flags(index).localCheckpoint(eager=True)
            if txn is not None:
                done = snapshot_txn_version(index_dir, txn[0])
                if done is not None and int(txn[1]) <= done:
                    return SparkFrame(flags)   # replay: already appended
            novel_ids = flags.filter(~F.col("is_duplicate")) \
                .select(id_col)
            novel_sigs = sigs.join(novel_ids, on=id_col)
            try:
                snapshot_write(novel_sigs, index_dir, mode="append",
                               txn=txn)
                return SparkFrame(flags)
            except FileExistsError as exc:
                last = exc
                _release_checkpoint(flags)
        raise FileExistsError(
            f"index update lost the publish race 6 times in "
            f"{index_dir}: {last}")
    finally:
        # the returned flags are their own checkpoint; nothing reads
        # the signatures once the append has published or given up
        _release_checkpoint(sigs)


def minhash_index_stream_sink(index_dir: str, flags_dir: str,
                              app_id: str = "dedup_ingest",
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              num_hashes: int = 128, bands: int = 32,
                              jaccard_threshold: float = 0.8):
    """foreachBatch callable for STREAMING ingest dedup: every
    micro-batch dedups against the index (and itself), lands its
    duplicate flags in a *flags_dir* snapshot table, and appends novel
    signatures to the index — both commits stamped with the
    ``(app_id, batch_id)`` watermark so a crash-replayed batch is
    swallowed whole (neither table double-commits). The streaming twin
    of ``minhash_index_update``, same protocol as
    ``snapshot_stream_sink``."""
    def _sink(batch_df, batch_id: int) -> None:
        from cl_data_frame_spark.sources.snapshots import (
            snapshot_txn_version, snapshot_write)
        # replay guard on the LAST-committed table: flags land after
        # the index append, so "flags done" implies both landed. A
        # crash BETWEEN the commits replays the batch; the index
        # update is itself replay-idempotent (its own txn watermark
        # skips the second append, and the self-id candidate filter
        # keeps already-indexed batch ids from matching themselves),
        # so the recomputed flags equal the lost ones and only
        # flags_dir commits anew.
        done = snapshot_txn_version(flags_dir, app_id)
        if done is not None and int(batch_id) <= done:
            return
        flags = minhash_index_update(
            batch_df.sparkSession, index_dir, batch_df,
            id_col=id_col, text_col=text_col, num_hashes=num_hashes,
            bands=bands, jaccard_threshold=jaccard_threshold,
            txn=(app_id, int(batch_id))).spark_df
        snapshot_write(flags, flags_dir, mode="append",
                       txn=(app_id, int(batch_id)))
    return _sink

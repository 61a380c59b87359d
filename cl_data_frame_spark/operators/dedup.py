"""Deduplication operators (Tier X, SURVEY.md §2.3) — exact dedup,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

None exist in the reference (a data-frame kernel with no dedup surface);
these are the training-data-pipeline extensions mandated by the north star.

Design: everything is pure DataFrame ops (higher-order array functions,
``xxhash64`` hash families, self-equi-joins on LSH buckets) so Catalyst
codegens the hot path; there is no Python in any per-row loop. The LSH
shapes are the standard shingle -> minhash -> band -> bucket-join pipeline:
candidate generation is an equi-join on (band_index, band_hash) — a plain
hash shuffle — so cost scales with #candidate pairs, never #rows².
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..frame import SparkFrame
from ..partitioning import default_parallelism, ensure_min_partitions


def _plain(frame) -> DataFrame:
    return frame.spark_df if isinstance(frame, SparkFrame) else frame


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def dedup_exact(frame, subset=None) -> SparkFrame:
    """Exact deduplication: hash-aggregate on the subset columns.

    Scale: partial aggregation map-side, shuffle carries one row per
    distinct key per mapper; AQE splits skewed buckets.
    """
    sdf = _plain(frame)
    out = sdf.dropDuplicates(list(subset)) if subset else sdf.distinct()
    return SparkFrame(out)


def normalized_fingerprint(col) -> Column:
    """md5 of the (trimmed, whitespace-collapsed, lowercased) text — the
    canonical exact-dedup key."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")))


def dedup_exact_normalized(frame, text_col: str = "text",
                           id_col: str = "doc_id",
                           skew_safe: bool = False) -> SparkFrame:
    """Exact dedup after text normalization (lowercase, collapse whitespace):
    keeps the smallest id per normalized fingerprint — deterministic winner,
    unlike dropDuplicates' arbitrary pick.

    Default path — one shuffle total: rank within fingerprint partitions
    and keep rank 1 (a groupBy-winners + join-back plan would shuffle the
    table twice more). Skew caveat: AQE's skew mitigation applies to
    shuffle JOINS, not window partitions — a mass-duplicated fingerprint
    lands on one task here.

    ``skew_safe=True`` — the mass-duplicate escape hatch: pre-aggregate
    ``groupBy fingerprint -> min(id)`` (the partial aggregate absorbs the
    skewed key map-side, every mapper emits ONE row per fingerprint) and
    left-semi join the winners back on (fingerprint, id). Costs two extra
    shuffles of the slim key table; output is identical (asserted by
    tests/test_dedup.py).
    """
    from pyspark.sql import Window
    sdf = _plain(frame)
    with_fp = sdf.withColumn("__fp__",
                             normalized_fingerprint(F.col(text_col)))
    if skew_safe:
        winners = (with_fp.groupBy("__fp__")
                   .agg(F.min(F.col(id_col)).alias(id_col)))
        out = (with_fp.join(winners, on=["__fp__", id_col],
                            how="left_semi")
               .select(*sdf.columns))
        return SparkFrame(out)
    w = Window.partitionBy("__fp__").orderBy(F.col(id_col).asc())
    out = (with_fp
           .withColumn("__rn__", F.row_number().over(w))
           .filter(F.col("__rn__") == 1)
           .drop("__fp__", "__rn__"))
    return SparkFrame(out)


# ---------------------------------------------------------------------------
# shingling + MinHash LSH
# ---------------------------------------------------------------------------

def char_shingles(col, k: int = 5) -> Column:
    """Distinct character k-shingles of a string column, as an array.

    Pure expression: ``transform(sequence(...), i -> substring(...))`` —
    JVM-side, codegen'd, no UDF.
    """
    col = F.col(col) if isinstance(col, str) else col
    n = F.greatest(F.length(col) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(col, i, k))
    )


def bind_once(col: Column, f) -> Column:
    """Evaluate *col* once and apply the expression function *f* to it,
    as a pure Column: ``element_at(transform(array(col), f), 1)``.

    Why: an outer expression referenced inside a higher-order-function
    lambda is re-evaluated per array element (codegen subexpression
    elimination does not reach into lambdas), so e.g. a ``split(...)``
    consulted at every n-gram position makes the row quadratic in text
    length. Binding it to a lambda VARIABLE first makes every inner
    reference a cheap variable read. Value-identical by construction
    (pure substitution)."""
    return F.element_at(F.transform(F.array(col), f), 1)


def word_ngrams(col, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined) of a string column.

    The tokenization is bound once via :func:`bind_once` — the n-gram
    lambda reads the token array as a variable instead of re-running
    ``split`` per position."""
    col = F.col(col) if isinstance(col, str) else col
    words = F.split(F.trim(col), r"\s+")

    def grams(ws):
        cnt = F.greatest(F.size(ws) - F.lit(n - 1), F.lit(1))
        return F.array_distinct(
            F.transform(F.sequence(F.lit(0), cnt - 1),
                        lambda i: F.array_join(F.slice(ws, i + 1, n),
                                               " ")))

    return bind_once(words, grams)


_MASK64 = (1 << 64) - 1


def _signed64(v: int) -> int:
    v &= _MASK64
    return v - (1 << 64) if v >= (1 << 63) else v


def shingle_hashes(shingle_col: Column) -> Column:
    """xxhash64 of every shingle, computed ONCE — the base for the whole
    minhash family."""
    return F.transform(shingle_col, lambda s: F.xxhash64(s))


def minhash_signature(shingle_col: Column, num_hashes: int = 64,
                      hashed: Column | None = None) -> list[Column]:
    """MinHash signature via seeded rehashing of the base shingle hashes:
    ``h_i(x) = xxhash64(xxhash64(x), i)`` — the string is hashed once and
    each family member rehashes only the resulting long with the function
    index (fixed-width 12-byte hashes, ANSI-safe).

    Family quality matters more than per-hash cost here: a measured
    affine ``(a_i*h + b_i) mod (2^31-1)`` variant with golden-ratio
    constants was ~2x cheaper per hash but its linearly-related members
    produced 4.3x more false band collisions at sf0.1 (616k vs 142k
    candidates), making the verify stage — the actual bottleneck — far
    more expensive. Seeded xxhash64 members are mutually independent.

    Each component is ``array_min(transform(...))`` — no UDF, no explode.
    Pass ``hashed`` (a materialized ``shingle_hashes`` column) to avoid
    duplicating the base hash expression num_hashes times.
    """
    base = hashed if hashed is not None else shingle_hashes(shingle_col)

    def _seeded(i):
        # NB: a plain unary lambda — PySpark counts extra default args as
        # higher-order-function parameters
        return lambda h: F.xxhash64(h, F.lit(i))

    return [F.array_min(F.transform(base, _seeded(i)))
            for i in range(num_hashes)]


def minhash_near_duplicates(frame, id_col: str = "doc_id", text_col: str = "text",
                            num_hashes: int = 64, bands: int = 16,
                            shingle_k: int = 5,
                            jaccard_threshold: float | None = 0.8) -> SparkFrame:
    """MinHash + banded LSH near-duplicate pairs.

    Pipeline (all DataFrame ops): shingle -> minhash signature -> ``bands``
    band hashes -> explode to (band, hash) -> self-equi-join on the bucket
    -> distinct candidate pairs -> signature-estimate pre-filter ->
    exact-Jaccard verify on the shingle sets.

    Returns pairs (id_a < id_b) with ``jaccard`` when verification is on.

    Scale design, stage by stage:
    - signature: explode + grouped min — each shingle string hashed ONCE,
      family members rehash the long with the seed; map-side partial agg
      emits one num_hashes-long row per doc per mapper, so the shuffle
      carries signatures, never shingles.
    - banding: the band table carries (id, band, hash) ONLY.
    - pre-filter: banding is intentionally permissive (b=16/r=4 puts the
      S-curve midpoint near j~0.5), so moderately-similar pairs flood the
      candidate set (measured: 142k candidates for 256 true pairs at
      sf0.1). Before touching shingle arrays, the signature match
      fraction — an unbiased Jaccard estimate with sd
      sqrt(j(1-j)/num_hashes) — is computed from a signature re-join
      (signature table is small; AQE broadcasts it) and pairs more than
      ~5 sd below the threshold are dropped: >97% of the false candidates
      never reach the array-intersect verify, and a true j>=threshold
      pair is lost with P < 1e-6.
    - verify: exact Jaccard on the few survivors.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    sdf = ensure_min_partitions(_plain(frame).select(id_col, text_col))
    shingled = sdf.select(
        id_col, char_shingles(text_col, shingle_k).alias("__sh__"))
    exploded = shingled.select(
        id_col, F.explode("__sh__").alias("__s__")
    ).select(id_col, F.xxhash64("__s__").alias("__h__"))
    sig_agg = [F.min(F.xxhash64("__h__", F.lit(i))).alias(f"__m{i}__")
               for i in range(num_hashes)]
    signatures = exploded.groupBy(id_col).agg(*sig_agg)
    if jaccard_threshold is not None:
        # the signature table feeds three plan branches (banding + both
        # sides of the estimate pre-filter) and Catalyst does not reuse
        # the exchange across them — without this persist the shingle
        # explode + 96-hash aggregation runs three times. The table is
        # slim (num_hashes longs per doc); MEMORY_AND_DISK spills rather
        # than OOMs at scale, where a corpus-sized signature store would
        # be written out explicitly anyway.
        from pyspark import StorageLevel
        signatures = signatures.persist(StorageLevel.MEMORY_AND_DISK)
    band_hashes = [
        F.xxhash64(*[F.col(f"__m{i}__")
                     for i in range(b * rows_per_band,
                                    (b + 1) * rows_per_band)])
        for b in range(bands)
    ]
    banded = signatures.select(
        id_col,
        F.posexplode(F.array(*band_hashes)).alias("__band__", "__bh__"))
    left = banded.select(F.col(id_col).alias("id_a"), "__band__", "__bh__")
    right = banded.select(F.col(id_col).alias("id_b"), "__band__", "__bh__")
    pairs = (left.join(right, on=["__band__", "__bh__"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b")
             .dropDuplicates(["id_a", "id_b"]))
    if jaccard_threshold is not None:
        # signature-estimate pre-filter (see docstring)
        sig_arr = signatures.select(
            id_col, F.array(*[F.col(f"__m{i}__")
                              for i in range(num_hashes)]).alias("__sig__"))
        pairs = (pairs
                 .join(sig_arr.select(F.col(id_col).alias("id_a"),
                                      F.col("__sig__").alias("sig_a")),
                       on="id_a")
                 .join(sig_arr.select(F.col(id_col).alias("id_b"),
                                      F.col("__sig__").alias("sig_b")),
                       on="id_b"))
        matches = F.size(F.filter(
            F.zip_with("sig_a", "sig_b", lambda a, b: a == b),
            lambda x: x))
        est = matches / F.lit(float(num_hashes))
        sd = (jaccard_threshold * (1.0 - jaccard_threshold)
              / num_hashes) ** 0.5
        cutoff = max(jaccard_threshold - 5.0 * sd, 0.0)
        pairs = (pairs.filter(est >= cutoff)
                 .select("id_a", "id_b"))
        # exact verify over HASHED shingles: one array_intersect on longs
        # per pair (|union| derived as |a|+|b|-|inter| — no array_union
        # allocation; long equality beats string equality in the set probe)
        hashed_sh = shingled.select(
            id_col, F.array_distinct(
                F.transform("__sh__", lambda s: F.xxhash64(s))).alias("__hs__"))
        sh_a = hashed_sh.select(F.col(id_col).alias("id_a"),
                                F.col("__hs__").alias("sh_a"))
        sh_b = hashed_sh.select(F.col(id_col).alias("id_b"),
                                F.col("__hs__").alias("sh_b"))
        pairs = pairs.join(sh_a, on="id_a").join(sh_b, on="id_b")
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        uni = F.size("sh_a") + F.size("sh_b") - inter
        pairs = (pairs.withColumn("jaccard", inter / uni)
                 .filter(F.col("jaccard") >= jaccard_threshold)
                 .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))
    else:
        pairs = pairs.select("id_a", "id_b")
    return SparkFrame(pairs)


def ngram_jaccard_pairs(frame, id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3, threshold: float = 0.5,
                        block_col: str | None = None,
                        candidates: str = "prefix") -> SparkFrame:
    """Exact word-n-gram Jaccard similarity pairs above *threshold*.

    ``block_col`` bounds the candidate set to same-block pairs (e.g. same
    source/lang) — the standard blocking trick. Candidate generation
    DELEGATES to ``ngram_jaccard_pairs_prefix`` (the AllPairs/PPJoin
    prefix filter, blocked or global): identical output — the prefix
    filter is recall-complete — with near-linear candidates instead of
    per-block quadratic. Measured at sf0.1 (5k docs, lang blocks): the
    all-pairs path builds a 2.5M-row pair table and shuffles ~2 GB of
    n-gram arrays through the verify joins; the prefix filter cuts
    candidates ~100x. ``candidates="allpairs"`` keeps the quadratic
    generator for testing/regression comparison.

    All-pairs plan shape (when selected): the quadratic join runs over
    SLIM (block, id) rows only, the pair table is round-robined across
    the cluster, and the n-gram arrays attach afterwards by two
    id-equi-joins.
    """
    if candidates == "prefix":
        return ngram_jaccard_pairs_prefix(frame, id_col, text_col, n,
                                          threshold, block_col=block_col)
    if block_col is None:
        return ngram_jaccard_pairs_prefix(frame, id_col, text_col, n,
                                          threshold)
    base = ensure_min_partitions(_plain(frame).select(
        id_col, *([block_col] if block_col else []), text_col))
    # n-grams are hashed to longs at build time: the per-pair set probe
    # compares longs, not strings, and Jaccard needs only sizes (64-bit
    # collisions shift a 50-element set's size with P ~ 1e-16)
    ng = base.select(id_col, *([block_col] if block_col else []),
                     F.array_distinct(F.transform(
                         word_ngrams(text_col, n),
                         lambda g: F.xxhash64(g))).alias("__ng__"))
    # ng feeds the pair-id join plus two verify joins; persist so the
    # tokenize+hash projection runs once, not three times
    ng = ng.persist(StorageLevel.MEMORY_AND_DISK)
    on = [block_col]
    ids = ng.select(*on, id_col)
    pairs = (ids.select(*on, F.col(id_col).alias("id_a"))
             .join(ids.select(*on, F.col(id_col).alias("id_b")), on=on))
    pairs = (pairs.filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b")
             .repartition(default_parallelism(base)))
    ng_slim = ng.select(id_col, "__ng__")
    joined = (pairs
              .join(ng_slim.select(F.col(id_col).alias("id_a"),
                                   F.col("__ng__").alias("ng_a")), on="id_a")
              .join(ng_slim.select(F.col(id_col).alias("id_b"),
                                   F.col("__ng__").alias("ng_b")), on="id_b"))
    inter = F.size(F.array_intersect("ng_a", "ng_b"))
    uni = F.size("ng_a") + F.size("ng_b") - inter
    out = (joined.withColumn("jaccard", inter / uni)
           .filter(F.col("jaccard") >= threshold)
           .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))
    return SparkFrame(out)


def ngram_order_profile(frame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        carry_cols: list[str] | None = None):
    """The shared SUBSTRATE of the prefix-filtered set-similarity
    family: per-document word-n-gram hashed-token arrays sorted by
    GLOBAL rarest-first (document-frequency, hash) order — stages 1-3
    of ``ngram_jaccard_pairs_prefix``. Build once, ``persist``, and
    feed every same-(n, corpus) similarity query through ``profile=``:
    the tokenize + hash + df-aggregate + sort-agg pipeline (the bulk
    of the wall) runs once instead of per query. *carry_cols* rides
    block/metadata columns along so blocked and global queries can
    share ONE profile. Returns a plain DataFrame
    (id_col, *carry_cols, __toks__).

    The tokenized intermediate is always ``localCheckpoint``-ed
    (lazily, on the first action), independent of any ``persist`` the
    caller adds. Two consequences:

    - its block-manager storage (executor memory, spilling to local
      disk) stays held until the returned DataFrame — and every plan
      built on it — is dropped and garbage-collected; ``unpersist``
      on the result does not release it;
    - the checkpoint truncates the lineage, so if an executor holding
      checkpointed blocks is lost the profile cannot be recomputed and
      later actions on it fail — rebuild it from *frame*."""
    ccols = list(carry_cols or [])
    base = ensure_min_partitions(_plain(frame).select(id_col, *ccols,
                                                      text_col))
    # Tokenize ONCE into a lazily-materialized intermediate: the df
    # aggregation and the df-attach join are separate plan branches, so
    # without the checkpoint each re-ran the scan+tokenize — and worse,
    # the explode's inferred non-empty filter was pushed below the
    # projection with the alias re-substituted, tokenizing every row a
    # second time inside the Filter node of EACH branch (4 tokenize
    # passes total). With the checkpoint the filter tests the
    # materialized array and both branches read block-manager-local
    # rows.
    ng = base.select(
        id_col, *ccols,
        F.array_distinct(F.transform(word_ngrams(text_col, n),
                                     lambda g: F.xxhash64(g)))
        .alias("__ng__")).localCheckpoint(eager=False)
    tok = ng.select(id_col, *ccols, F.explode("__ng__").alias("__t__"))
    dfreq = tok.groupBy("__t__").agg(F.count(F.lit(1)).alias("__df__"))
    # rarest-first order: sort per-doc tokens by (df, hash)
    return (tok.join(dfreq, on="__t__")
            .groupBy(id_col, *ccols)
            .agg(F.array_sort(F.collect_list(
                F.struct(F.col("__df__"), F.col("__t__"))))
                .alias("__o__"))
            .select(id_col, *ccols,
                    F.transform("__o__", lambda s: s["__t__"])
                    .alias("__toks__")))


def ngram_jaccard_pairs_prefix(frame, id_col: str = "doc_id",
                               text_col: str = "text", n: int = 3,
                               threshold: float = 0.5,
                               block_col: str | None = None,
                               profile=None) -> SparkFrame:
    """EXACT global set-similarity join (word n-gram Jaccard >= threshold)
    without blocking and without the O(n²) pair join — the AllPairs /
    PPJoin prefix-filtering scheme (Bayardo et al., WWW'07; public
    knowledge) expressed as DataFrame ops.

    Under any global total order of tokens, two sets with Jaccard >= t
    must share at least one token among their first ``|s| - ceil(t*|s|)
    + 1`` tokens (else the overlap bound ``|a ∩ b| >= t*|a|`` fails).
    Ordering tokens rarest-first makes those prefixes the least common
    tokens, so the candidate join on prefix tokens stays near-linear.

    Stages (shuffles: df-count, sorted re-agg, prefix self-join, verify
    joins — all hash partitions, no quadratic blowup):
    1. per-doc distinct hashed n-grams
    2. global document frequency per token (the ordering key)
    3. per-doc tokens sorted by (df, hash); prefix = first
       ``len - ceil(t*len) + 1``
    4. candidates = distinct (a, b) sharing a prefix token
    5. exact verify on the full hashed-token arrays.

    ``block_col`` composes blocking with the prefix filter: the
    candidate join key becomes (block, prefix-token), so only same-block
    pairs form — output identical to a blocked all-pairs verify, with
    the prefix filter's near-linear candidate count. The df ordering
    stays global (valid for any global order; one aggregate).

    ``profile``: a precomputed (persisted) ``ngram_order_profile`` of
    the same corpus and *n* — lets a query suite amortize the
    tokenize/hash/df-sort substrate across blocked, global, and
    containment queries instead of rebuilding it per call. Must carry
    *block_col* when one is used here.
    """
    bcols = [block_col] if block_col else []
    if profile is not None:
        ordered = _plain(profile).select(id_col, *bcols, "__toks__")
    else:
        ordered = ngram_order_profile(frame, id_col, text_col, n,
                                      carry_cols=bcols)
        # the ordered-token table feeds three plan branches (prefix
        # explode + two verify joins); persist so the shingle+df-sort
        # pipeline runs once
        ordered = ordered.persist(StorageLevel.MEMORY_AND_DISK)
    plen = (F.size("__toks__")
            - F.ceil(F.size("__toks__") * F.lit(threshold)).cast("int")
            + F.lit(1))
    prefix = ordered.select(
        id_col, *bcols,
        F.explode(F.slice("__toks__", 1, plen)).alias("__p__"))
    jk = ["__p__", *bcols]
    cand = (prefix.select(F.col(id_col).alias("id_a"), *jk)
            .join(prefix.select(F.col(id_col).alias("id_b"), *jk),
                  on=jk)
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"]))
    toks = ordered.select(id_col, "__toks__")
    joined = (cand
              .join(toks.select(F.col(id_col).alias("id_a"),
                                F.col("__toks__").alias("tk_a")), on="id_a")
              .join(toks.select(F.col(id_col).alias("id_b"),
                                F.col("__toks__").alias("tk_b")), on="id_b"))
    inter = F.size(F.array_intersect("tk_a", "tk_b"))
    uni = F.size("tk_a") + F.size("tk_b") - inter
    out = (joined.withColumn("jaccard", inter / uni)
           .filter(F.col("jaccard") >= threshold)
           .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))
    return SparkFrame(out)


def _char_qgrams(col: Column, q: int) -> Column:
    """Character q-gram MULTISET of a string as xxhash64 longs (empty
    for strings shorter than q). Duplicates are kept — the Ed-Join
    count bound is a multiset bound."""
    n = F.length(col) - F.lit(q - 1)
    return F.when(n >= 1, F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.xxhash64(col.substr(i, F.lit(q))))
    ).otherwise(F.array().cast("array<bigint>"))


def _deletion_variants(col: Column, max_dist: int) -> Column:
    """All variants of a string reachable by deleting up to *max_dist*
    characters (the string itself included), distinct, as an array —
    the FastSS / SymSpell deletion neighbourhood (public knowledge)."""
    def delete_each(v):
        # every single-char deletion of v (empty array when v is "")
        return F.transform(
            F.sequence(F.lit(1), F.length(v)),
            lambda i: F.concat(v.substr(F.lit(1), i - F.lit(1)),
                               v.substr(i + F.lit(1), F.length(v))))
    level = F.array(col)
    out = level
    for _ in range(max_dist):
        level = F.array_distinct(F.flatten(
            F.transform(level, delete_each)))
        out = F.array_union(out, level)
    return out


def edit_distance_join(frame, id_col: str, str_col: str,
                       max_dist: int = 1, q: int = 3,
                       method: str = "auto") -> SparkFrame:
    """Fuzzy string self-join (entity resolution): id pairs whose
    strings are within Levenshtein distance *max_dist*, with the exact
    distance. Output: (id_a, id_b, dist) with ``id_a < id_b``.

    ``method`` picks the candidate-generation scheme (all are EXACT —
    candidates are a superset, the JVM-side ``levenshtein`` verifies):

    **"deletion"** — the FastSS / SymSpell deletion neighbourhood:
    two strings within edit distance d share a variant reachable by
    ≤ d deletions from each (align the edit script; every sub/ins/del
    is covered by deleting the touched position from one or both
    sides). Each string emits its ~C(len, ≤d) variant hashes; the
    inverted-index equi-join on variant keys is near-unique even on
    corpora where EVERY gram/segment signature goes quadratic —
    uniform-length, 94%-constant-prefix supplier names share whole
    deleted variants only when actually close. Measured at sf0.1:
    candidates ≈ true pairs (vs ALL-pairs for both the length-band
    and q-gram prefix schemes on that corpus). The cost is variant
    count: O(len^d) keys per string — the short-string (entity)
    regime this operator targets.

    **"qgram"** — the Ed-Join prefix filter (Xiao et al., VLDB'08):
    one edit destroys ≤ q character q-grams, so under a rarest-first
    global gram order two strings within distance d share a gram in
    their first ``d·q + 1`` entries (PPJoin prefix lemma, overlap
    ``max(|G|) − d·q``); strings with ≤ d·q grams also share a
    sentinel bucket (the bound is vacuous between two such strings).
    Near-linear keys per string at ANY length — the long-string path —
    but on dense constant-content corpora the (d·q+1)-th prefix slot
    falls into the shared-constant gram pool and candidates degrade
    toward quadratic (spread across buckets, unlike the band path's
    single hot task).

    **"lengthband"** — the length-band bucket grid (lengths bucket at
    width ``max_dist + 1``, probe explodes to ±1 buckets): sound and
    exactly-once but ALL-pairs within a hot band ON ONE TASK for
    uniform-length corpora (measured 20× wall on 10× data) — retained
    as the equivalence twin for tests.

    **"auto"** (default) — "deletion" when the corpus's max string
    length keeps the variant count bounded (~1k keys/string: any
    length at d=1 ≤ 1000, len ≤ 46 at d=2, ≤ 20 at d=3; one cheap
    max(length) pre-scan), else "qgram".
    """
    if method == "auto":
        mx = _plain(frame).agg(
            F.max(F.length(F.col(str_col))).alias("m")).first()["m"] or 0
        bounds = {1: 1000, 2: 46, 3: 20}
        method = ("deletion"
                  if max_dist in bounds and mx <= bounds[max_dist]
                  else "qgram")
    if method == "lengthband":
        w = max_dist + 1
        sdf = _plain(frame).select(F.col(id_col).alias("__id__"),
                                   F.col(str_col).alias("__s__"))
        lens = sdf.withColumn("__bk0__",
                              F.floor(F.length("__s__") / F.lit(w)))
        probe = lens.select(
            F.col("__id__").alias("id_a"), F.col("__s__").alias("s_a"),
            F.explode(F.array(F.col("__bk0__") - 1, F.col("__bk0__"),
                              F.col("__bk0__") + 1)).alias("__bk__"))
        build = lens.select(
            F.col("__id__").alias("id_b"), F.col("__s__").alias("s_b"),
            F.col("__bk0__").alias("__bk__"))
        cand = (probe.join(build, on="__bk__")
                .filter((F.col("id_a") < F.col("id_b"))
                        & (F.abs(F.length("s_a") - F.length("s_b"))
                           <= max_dist)))
        out = (cand
               .withColumn("dist", F.levenshtein("s_a", "s_b"))
               .filter(F.col("dist") <= max_dist)
               .select("id_a", "id_b", "dist"))
        return SparkFrame(out)

    if method == "deletion":
        base = ensure_min_partitions(_plain(frame).select(
            F.col(id_col).alias("__id__"), F.col(str_col).alias("__s__")))
        ng = base.select(
            "__id__", "__s__",
            F.transform(_deletion_variants(F.col("__s__"), max_dist),
                        lambda v: F.xxhash64(v)).alias("__vs__"))
        # strings feed variant generation + two verify joins
        ng = ng.persist(StorageLevel.MEMORY_AND_DISK)
        keys = ng.select("__id__", F.explode("__vs__").alias("__k__"))
        cand = (keys.select(F.col("__id__").alias("id_a"), "__k__")
                .join(keys.select(F.col("__id__").alias("id_b"), "__k__"),
                      on="__k__")
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
                .dropDuplicates(["id_a", "id_b"]))
        strs = ng.select("__id__", "__s__")
        joined = (cand
                  .join(strs.select(F.col("__id__").alias("id_a"),
                                    F.col("__s__").alias("s_a")), on="id_a")
                  .join(strs.select(F.col("__id__").alias("id_b"),
                                    F.col("__s__").alias("s_b")), on="id_b")
                  .filter(F.abs(F.length("s_a") - F.length("s_b"))
                          <= max_dist))
        out = (joined
               .withColumn("dist", F.levenshtein("s_a", "s_b"))
               .filter(F.col("dist") <= max_dist)
               .select("id_a", "id_b", "dist"))
        return SparkFrame(out)

    if method != "qgram":
        raise ValueError(f"unknown edit_distance_join method {method!r}")
    plen = max_dist * q + 1
    base = ensure_min_partitions(_plain(frame).select(
        F.col(id_col).alias("__id__"), F.col(str_col).alias("__s__")))
    ng = base.select("__id__", "__s__",
                     _char_qgrams(F.col("__s__"), q).alias("__ng__"))
    # strings feed the gram pipeline and the verify joins; persist so
    # the scan + gram projection runs once
    ng = ng.persist(StorageLevel.MEMORY_AND_DISK)
    tok = ng.select("__id__", F.explode("__ng__").alias("__t__"))
    gfreq = tok.groupBy("__t__").agg(F.count(F.lit(1)).alias("__gf__"))
    ordered = (tok.join(gfreq, on="__t__")
               .groupBy("__id__")
               .agg(F.array_sort(F.collect_list(
                   F.struct(F.col("__gf__"), F.col("__t__"))))
                   .alias("__o__"))
               .select("__id__",
                       F.transform(
                           F.slice("__o__", 1, plen),
                           lambda s: s["__t__"]).alias("__pref__")))
    pref = ordered.select("__id__", F.explode("__pref__").alias("__k__"))
    # sentinel bucket: the prefix lemma is vacuous when BOTH strings
    # carry ≤ d·q grams (their multiset-difference bound no longer
    # forces a shared gram — "beta"/"delta" share none at distance 2),
    # so every string with ≤ d·q grams (len ≤ q·(d+1) − 1) also meets
    # its peers in one shared bucket; long×short pairs are already
    # complete (≤ d·q of the long side's grams can be missing from the
    # short side, so its d·q+1 prefix hits the short side's full set)
    sent = (ng.filter(F.length("__s__") <= q * (max_dist + 1) - 1)
            .select("__id__", F.lit(-1).cast("bigint").alias("__k__")))
    keys = pref.unionByName(sent)
    cand = (keys.select(F.col("__id__").alias("id_a"), "__k__")
            .join(keys.select(F.col("__id__").alias("id_b"), "__k__"),
                  on="__k__")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"]))
    strs = ng.select("__id__", "__s__")
    joined = (cand
              .join(strs.select(F.col("__id__").alias("id_a"),
                                F.col("__s__").alias("s_a")), on="id_a")
              .join(strs.select(F.col("__id__").alias("id_b"),
                                F.col("__s__").alias("s_b")), on="id_b")
              .filter(F.abs(F.length("s_a") - F.length("s_b"))
                      <= max_dist))
    out = (joined
           .withColumn("dist", F.levenshtein("s_a", "s_b"))
           .filter(F.col("dist") <= max_dist)
           .select("id_a", "id_b", "dist"))
    return SparkFrame(out)


def phonetic_join(frame, id_col: str, str_col: str,
                  max_dist: int = 2) -> SparkFrame:
    """Phonetic entity-resolution join: candidate pairs share a
    SOUNDEX code (Spark's built-in — "Smith"/"Smyth" block together
    even at edit distance 2+ where deletion neighbourhoods get
    expensive), verified with the exact JVM ``levenshtein``.

    The classic complement to ``edit_distance_join``: phonetic
    blocking catches sound-alike spelling variants at ANY edit
    distance within a block, while staying sublinear — candidates are
    an equi-join on the 4-char code (hash shuffle; one task per code
    bucket, so corpora dominated by one surname distribution should
    pre-salt or compose with a length filter). Not DuckDB-oracled
    (soundex is not portable SQL) — pytest-verified.

    Output: (id_a, id_b, dist) with id_a < id_b, dist ≤ *max_dist*.
    """
    sdf = _plain(frame).select(F.col(id_col).alias("__id__"),
                               F.col(str_col).alias("__s__"),
                               F.soundex(F.col(str_col)).alias("__k__"))
    a = sdf.select(F.col("__id__").alias("id_a"),
                   F.col("__s__").alias("s_a"), "__k__")
    b = sdf.select(F.col("__id__").alias("id_b"),
                   F.col("__s__").alias("s_b"), "__k__")
    out = (a.join(b, on="__k__")
           .filter(F.col("id_a") < F.col("id_b"))
           .withColumn("dist", F.levenshtein("s_a", "s_b"))
           .filter(F.col("dist") <= max_dist)
           .select("id_a", "id_b", "dist"))
    return SparkFrame(out)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash_counts(text_col, bits: int = 64) -> Column:
    """Accumulate the 64 per-bit counters with a Python-unrolled bit index
    (Spark's shift functions take a literal int shift, not a Column)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    tokens = F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != "")
    zeros = F.array(*[F.lit(0) for _ in range(bits)])
    return F.aggregate(
        tokens,
        zeros,
        lambda acc, t: F.array(*[
            F.element_at(acc, i + 1) + F.when(
                F.shiftright(F.xxhash64(t), i).bitwiseAND(F.lit(1)) == 1,
                F.lit(1)).otherwise(F.lit(-1))
            for i in range(bits)]),
    )


def simhash_fold(counts_col: Column, bits: int = 64) -> Column:
    """Fold the per-bit counters into the signed-64 fingerprint: bit i set
    iff counter i > 0. Python-unrolled OR chain (shift amounts must be
    Python ints); pass a *materialized* counts column, not the aggregate
    expression, so the aggregate isn't duplicated ``bits`` times."""
    fp = F.lit(0).cast("long")
    for i in range(bits):
        v = _signed64(1 << i)
        fp = fp.bitwiseOR(
            F.when(F.element_at(counts_col, i + 1) > 0,
                   F.lit(v).cast("long")).otherwise(F.lit(0).cast("long")))
    return fp


def simhash_column(text_col, bits: int = 64) -> Column:
    """SimHash fingerprint of whitespace tokens, as a signed 64-bit long.

    Convenience single-expression form; pipelines should materialize
    ``_simhash_counts`` in a column first and apply ``simhash_fold`` to it
    (as ``simhash_near_duplicates`` does) to keep the plan small.
    """
    return simhash_fold(_simhash_counts(text_col, bits), bits)


def _token_hash64(col, hash_fn: str = "xxhash64") -> Column:
    """64-bit-ish token hash. ``xxhash64`` (default) is the fast JVM
    path; ``md5`` derives a 60-bit value from the md5 hex (15 nibbles —
    the largest slice that cannot overflow a signed cast) and is
    bit-reproducible on any engine with md5, which makes the WHOLE
    SimHash pipeline SQL-oracle-checkable. The 4 permanently-zero top
    bits under md5 only shrink the fingerprint space 64→60; the banding
    pigeonhole and hamming verify are unchanged."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    if hash_fn == "md5":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10) \
            .cast("long")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def simhash_near_duplicates(frame, id_col: str = "doc_id", text_col: str = "text",
                            max_hamming: int = 3, band_bits: int = 16,
                            hash_fn: str = "xxhash64") -> SparkFrame:
    """SimHash near-dup pairs: fingerprint, block on 16-bit bands (a pair
    within hamming distance 3 of a 64-bit hash shares at least one of 4
    bands by pigeonhole), then verify with ``bit_count(a XOR b)``.

    Scale: candidate generation is an equi-join on (band_index, band_value);
    verification is a single bit_count expression. *hash_fn*: see
    ``_token_hash64`` — 'md5' trades some hash speed for cross-engine
    reproducibility (the driver's oracle checks that variant).
    """
    # Fingerprint via explode + 64 sum aggregates: higher-order array
    # folds never enter whole-stage codegen (per-element interpreted
    # eval), but an explode + flat aggregate does — same trick as the
    # minhash signature. Map-side partial agg keeps the shuffle at one
    # 64-counter row per doc per mapper.
    base = ensure_min_partitions(_plain(frame).select(id_col, text_col))
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                    lambda t: t != "")
    exploded = (base.select(id_col, F.explode(toks).alias("__t__"))
                .select(id_col, _token_hash64(F.col("__t__"), hash_fn)
                        .alias("__th__")))
    # the 64 counter aggregates and the 64-way fingerprint fold are
    # built as TWO sql-expression strings rather than ~1500 chained
    # Column calls: one py4j round-trip each instead of one per
    # operator — identical expression trees, an order of magnitude
    # less driver-side plan-construction latency
    bit_sums = [
        F.expr(f"sum(CASE WHEN (shiftright(__th__, {i}) & 1) = 1 "
               f"THEN 1 ELSE -1 END)").alias(f"__c{i}__")
        for i in range(64)]
    counts = exploded.groupBy(id_col).agg(*bit_sums)
    fp_terms = " | ".join(
        f"(CASE WHEN __c{i}__ > 0 THEN CAST({_signed64(1 << i)} AS "
        f"BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(64))
    fps = counts.select(id_col, F.expr(fp_terms).alias("__sim__"))
    # token-less docs drop out of the explode; re-attach them with the
    # all-zero fingerprint the fold would have produced
    sdf = (base.select(id_col).join(fps, on=id_col, how="left")
           .select(id_col, F.coalesce("__sim__", F.lit(0).cast("long"))
                   .alias("__sim__")))
    # the fingerprint table feeds both sides of the band self-join;
    # persist so the explode + 64-counter aggregate runs once, not twice
    sdf = sdf.persist(StorageLevel.MEMORY_AND_DISK)
    nbands = 64 // band_bits
    mask = (1 << band_bits) - 1
    bands = F.array(*[
        F.shiftrightunsigned(F.col("__sim__"), b * band_bits)
        .bitwiseAND(F.lit(mask)) for b in range(nbands)])
    banded = sdf.select(id_col, "__sim__",
                        F.posexplode(bands).alias("__band__", "__bv__"))
    left = banded.select(F.col(id_col).alias("id_a"),
                         F.col("__sim__").alias("sim_a"), "__band__", "__bv__")
    right = banded.select(F.col(id_col).alias("id_b"),
                          F.col("__sim__").alias("sim_b"), "__band__", "__bv__")
    pairs = (left.join(right, on=["__band__", "__bv__"])
             .filter(F.col("id_a") < F.col("id_b"))
             .dropDuplicates(["id_a", "id_b"]))
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    out = (pairs.withColumn("hamming", hamming)
           .filter(F.col("hamming") <= max_hamming)
           .select("id_a", "id_b", "hamming"))
    return SparkFrame(out)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def dot_product(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns — ``zip_with`` multiply +
    in-order ``aggregate`` fold (deterministic, oracle-reproducible)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def vector_norm(v: Column) -> Column:
    """L2 norm of an array<double> column, same in-order fold as
    ``dot_product`` so the value is bit-identical wherever it is computed
    (per-vector projection or inline per pair)."""
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns, computed in double.

    ``zip_with`` dot product + ``aggregate`` norms — sequential fold in
    declared array order, so results are deterministic (and reproducible
    against an external oracle).

    NOTE for pair tables: the two norm folds here are per-VECTOR
    invariants; calling this per pair runs them 2P times instead of N.
    The pair operators below attach a precomputed norm column in their
    vector projections (``vector_norm``) and compute
    ``dot / (norm_a * norm_b)`` — identical doubles (same fold, same
    arithmetic), one third the interpreted-HOF work."""
    a = a.cast("array<double>")
    b = b.cast("array<double>")
    return dot_product(a, b) / (vector_norm(a) * vector_norm(b))


def embedding_near_duplicates(frame, id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              threshold: float = 0.95,
                              block_col: str | None = None) -> SparkFrame:
    """Embedding near-dup pairs: cosine >= threshold.

    Exact within-block pairing (cross join when unblocked — the correctness
    baseline). At scale, block with ``similarity.hyperplane_bucket`` (random
    hyperplane LSH) so candidates share a bucket, or pre-cluster with IVF.

    Same slim-pair plan as ``ngram_jaccard_pairs``: the quadratic join
    moves ids only, pairs are spread cluster-wide, vectors attach via
    id-equi-joins (AQE broadcasts the vector table when small).
    """
    base = ensure_min_partitions(_plain(frame).select(
        id_col, *([block_col] if block_col else []), vec_col))
    on = [block_col] if block_col else []
    ids = base.select(*on, id_col)
    pairs = (ids.select(F.col(id_col).alias("id_a"))
             .crossJoin(ids.select(F.col(id_col).alias("id_b")))
             if not on else
             ids.select(*on, F.col(id_col).alias("id_a"))
             .join(ids.select(*on, F.col(id_col).alias("id_b")), on=on))
    pairs = (pairs.filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b")
             .repartition(default_parallelism(base)))
    # norms attach per VECTOR in this projection (computed N times, not
    # once per pair) — the join output carries the scalar, so per-pair
    # work is a single zip_with dot
    vecs = base.select(id_col,
                       F.col(vec_col).cast("array<double>").alias("__v__"))
    vecs = vecs.select(id_col, "__v__", vector_norm(F.col("__v__"))
                       .alias("__n__"))
    joined = (pairs
              .join(vecs.select(F.col(id_col).alias("id_a"),
                                F.col("__v__").alias("v_a"),
                                F.col("__n__").alias("n_a")), on="id_a")
              .join(vecs.select(F.col(id_col).alias("id_b"),
                                F.col("__v__").alias("v_b"),
                                F.col("__n__").alias("n_b")), on="id_b"))
    cos = dot_product(F.col("v_a"), F.col("v_b")) \
        / (F.col("n_a") * F.col("n_b"))
    out = (joined.withColumn("cosine", F.round(cos, 6))
           .filter(F.col("cosine") >= threshold)
           .select("id_a", "id_b", "cosine"))
    return SparkFrame(out)


# ---------------------------------------------------------------------------
# duplicate clusters (connected components over near-dup pairs)
# ---------------------------------------------------------------------------

def duplicate_clusters(pairs, id_a: str = "id_a", id_b: str = "id_b",
                       max_iter: int = 50) -> SparkFrame:
    """Group near-duplicate PAIRS into duplicate CLUSTERS: connected
    components of the pair graph, each labeled by its minimum member id.

    Any pair generator above (`minhash_near_duplicates`,
    `ngram_jaccard_pairs*`, `simhash_near_duplicates`,
    `embedding_near_duplicates`) emits edges; a dedup policy needs the
    transitive closure — if A~B and B~C, keep exactly one of {A,B,C}.
    Output: one row per node appearing in any pair, with its component
    label (= min id reachable from it) and ``is_canonical`` marking the
    single keeper per cluster.

    Algorithm: iterative min-label propagation to a fixpoint —
    ``label[v] <- min(label[v], min over neighbors u of label[u])`` —
    which converges in O(component diameter) rounds; near-dup clusters
    are almost always tiny-diameter, so 3-5 rounds in practice. Each
    round is one hash-shuffle join + partial-aggregating groupBy (both
    AQE-planned); ``localCheckpoint`` truncates the lineage each round so
    the plan does not grow exponentially across iterations. This is the
    standard scalable CC recipe (cf. Kiveris et al., "Connected
    Components in MapReduce and Beyond", SOCC'14 — the large-star /
    small-star refinement halves rounds for pathological diameters and
    can be swapped in without changing the contract).

    No reference analogue (cl-data-frame.lisp has no graph surface);
    Tier X scope per SURVEY §2.3.
    """
    p = _plain(pairs).select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    # undirected edge list, deduped; symmetric so one join per round
    # propagates labels both ways
    edges = (p.union(p.select(F.col("b").alias("a"), F.col("a").alias("b")))
             .distinct().localCheckpoint(eager=False))
    labels = (edges.groupBy("a").agg(F.least(F.col("a"), F.min("b"))
                                     .alias("label"))
              .withColumnRenamed("a", "node"))
    for _ in range(max_iter):
        labels = labels.localCheckpoint(eager=False)
        # neighbor minimum: min label over all neighbors of each node
        nbr = (edges.join(labels.withColumnRenamed("node", "b"), on="b")
               .groupBy("a").agg(F.min("label").alias("nbr_label"))
               .withColumnRenamed("a", "node"))
        # the round's OLD label rides along as __old__ so convergence is
        # read off the round's own output with a column compare instead
        # of a whole extra join back against the previous labels
        merged = (labels.join(nbr, on="node", how="left")
                  .select("node", F.col("label").alias("__old__"),
                          F.least("label", F.coalesce("nbr_label", "label"))
                          .alias("label"))
                  .localCheckpoint(eager=False))
        # pointer jumping (path compression): label <- label[label].
        # label[x] <= x and is monotone under min, so following the
        # pointer one hop is always valid and doubles convergence speed
        # on long chains (O(log diameter) rounds instead of O(diameter)).
        # merged is checkpointed first: the self-join reads the SAME
        # materialization on both sides rather than computing the
        # neighbor-min join twice per round.
        jumped = (merged.join(merged.select(F.col("node").alias("label"),
                                            F.col("label").alias("jump")),
                              on="label", how="left")
                  .select("node", "__old__",
                          F.coalesce("jump", "label").alias("label"))
                  .localCheckpoint(eager=False))
        changed = (jumped.filter(F.col("label") != F.col("__old__"))
                   .limit(1).count())
        labels = jumped.select("node", "label")
        if changed == 0:
            break
    out = labels.select(F.col("node"), F.col("label").alias("component"),
                        (F.col("node") == F.col("label"))
                        .alias("is_canonical"))
    return SparkFrame(out)


# ---------------------------------------------------------------------------
# sub-document span dedup (duplicated n-gram removal)
# ---------------------------------------------------------------------------

def duplicated_span_removal(frame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 8,
                            max_doc_freq: int = 1,
                            hash_grams: bool = False) -> SparkFrame:
    """Remove corpus-duplicated token spans from inside documents.

    Exact sub-document dedup in the RefinedWeb / C4 family: any token
    n-gram appearing in more than ``max_doc_freq`` distinct documents is a
    duplicated span; every token covered by at least one duplicated span
    is dropped, and the document reassembled from the survivors. Returns
    one row per document: ``n_tokens``, ``dup_spans`` (flagged start
    positions), ``dup_tokens`` (tokens removed), ``dup_frac``, and
    ``clean_text``.

    Absent in the reference (a data-frame kernel, no dedup surface) —
    Tier X per SURVEY.md §2.3.

    Scale shape: the shuffles carry only slim ``(doc_id, pos, gram)`` /
    ``(gram, df)`` tuples, never document bodies; the doc-frequency
    aggregation is a partial-agg groupBy; the flagged-position join is an
    equi-join on the gram key (broadcast-able when few grams are
    duplicated); coverage + reassembly are per-row array expressions with
    no further shuffle. With ``hash_grams=True`` the join/agg key is
    ``xxhash64(gram)`` (8 bytes instead of the gram text) — the 100 TB
    setting; the default keeps the literal gram so the DuckDB oracle can
    reproduce the pipeline exactly.
    """
    sdf = _plain(frame)
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                    lambda t: t != F.lit(""))
    base = sdf.select(F.col(id_col), toks.alias("__toks__"))

    # (doc, pos, gram) — empty when the doc is shorter than n tokens
    # (guard: sequence() with start > stop counts DOWN, so never build it)
    starts = F.when(
        F.size("__toks__") >= n,
        F.sequence(F.lit(0), F.size("__toks__") - n)
    ).otherwise(F.array().cast("array<int>"))
    gram = F.array_join(F.slice("__toks__", F.col("__pos__") + 1, n), " ")
    key = F.xxhash64(gram) if hash_grams else gram
    pos_tab = (base.select(id_col, F.explode(starts).alias("__pos__"),
                           "__toks__")
               .select(id_col, "__pos__", key.alias("__gram__")))

    dup_grams = (pos_tab.groupBy("__gram__")
                 .agg(F.count_distinct(F.col(id_col)).alias("__df__"))
                 .filter(F.col("__df__") > max_doc_freq)
                 .select("__gram__"))

    flags = (pos_tab.join(dup_grams, "__gram__")
             .groupBy(id_col)
             .agg(F.sort_array(F.collect_list("__pos__")).alias("__flags__")))

    joined = (base.join(flags, id_col, "left")
              .withColumn("__flags__",
                          F.coalesce("__flags__",
                                     F.array().cast("array<int>"))))

    # token j survives iff no flagged span start p covers it (p <= j < p+n)
    kept = F.when(
        F.size("__toks__") > 0,
        F.filter(
            F.sequence(F.lit(0), F.size("__toks__") - 1),
            lambda j: ~F.exists(
                F.col("__flags__"),
                lambda p: (j >= p) & (j <= p + F.lit(n - 1)))),
    ).otherwise(F.array().cast("array<int>"))

    out = (joined
           .withColumn("__kept__", kept)
           .select(
               F.col(id_col),
               F.size("__toks__").alias("n_tokens"),
               F.size("__flags__").alias("dup_spans"),
               (F.size("__toks__") - F.size("__kept__")).alias("dup_tokens"),
               F.round(F.try_divide(
                   F.size("__toks__") - F.size("__kept__"),
                   F.size("__toks__")), 6).alias("dup_frac"),
               F.array_join(
                   F.transform(F.col("__kept__"),
                               lambda j: F.element_at("__toks__", j + 1)),
                   " ").alias("clean_text")))
    return SparkFrame(out)


def semantic_dedup(frame, centroids, threshold: float = 0.7,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> SparkFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023, arXiv:2303.09540 — public method).

    Route every vector to its nearest centroid (``similarity.ivf_assign``),
    compare vectors pairwise *within* their cluster, and mark a vector
    redundant when a lower-id cluster-mate has cosine >= *threshold* with
    it (the deterministic min-id representative rule). Returns one row per
    vector: ``centroid_id``, ``dup_of`` (the smallest such neighbour id,
    NULL for keepers), ``max_sim``, and ``keep``.

    Scale shape: the quadratic compare never crosses clusters — the pair
    generator is an equi-join on ``centroid_id`` moving (cluster, id)
    pairs only, and vectors attach by id-equi-join afterwards (AQE
    broadcasts small vector tables). Cost is sum(cluster_size²); pick
    #centroids ~ sqrt(n) (the paper's regime) so clusters stay bounded as
    the corpus grows, and feed the routing step pre-trained centroids
    from ``similarity.kmeans_fit`` run on a sample.
    """
    from .similarity import ivf_assign, ivf_assign_join

    sdf = _plain(frame).select(id_col, vec_col)
    # the literal-expression argmax is fastest for a handful of
    # centroids but costs O(k) codegen nodes; the paper's k ~ sqrt(n)
    # regime routes through the broadcast-join assignment instead
    # (identical output, measured crossover around a few dozen cells)
    router = ivf_assign if len(centroids) <= 32 else ivf_assign_join
    assign = (router(sdf, centroids, id_col, vec_col)
              .spark_df.select(id_col, "centroid_id"))
    withc = sdf.join(assign, on=id_col)

    ids = withc.select("centroid_id", F.col(id_col).alias("id_a"))
    pairs = (ids
             .join(withc.select("centroid_id",
                                F.col(id_col).alias("id_b")),
                   on="centroid_id")
             .filter(F.col("id_a") < F.col("id_b"))
             .select("centroid_id", "id_a", "id_b")
             .repartition(default_parallelism(withc)))
    # per-vector norms attach here (N folds) instead of per pair (2P)
    vecs = withc.select(id_col,
                        F.col(vec_col).cast("array<double>").alias("__v__"))
    vecs = vecs.select(id_col, "__v__", vector_norm(F.col("__v__"))
                       .alias("__n__"))
    joined = (pairs
              .join(vecs.select(F.col(id_col).alias("id_a"),
                                F.col("__v__").alias("v_a"),
                                F.col("__n__").alias("n_a")), on="id_a")
              .join(vecs.select(F.col(id_col).alias("id_b"),
                                F.col("__v__").alias("v_b"),
                                F.col("__n__").alias("n_b")), on="id_b"))
    cos = F.round(dot_product(F.col("v_a"), F.col("v_b"))
                  / (F.col("n_a") * F.col("n_b")), 6)
    dup_pairs = (joined.withColumn("cosine", cos)
                 .filter(F.col("cosine") >= threshold)
                 .select("id_b", "id_a", "cosine"))
    dup_info = (dup_pairs.groupBy("id_b")
                .agg(F.min("id_a").alias("dup_of"),
                     F.max("cosine").alias("max_sim")))
    out = (withc.select(id_col, "centroid_id")
           .join(dup_info.withColumnRenamed("id_b", id_col),
                 on=id_col, how="left")
           .select(id_col, "centroid_id", "dup_of", "max_sim",
                   F.col("dup_of").isNull().alias("keep")))
    return SparkFrame(out)


def self_repetition_removal(frame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 4) -> SparkFrame:
    """Remove WITHIN-document repeated token spans: any re-occurrence of
    a token n-gram already seen earlier in the same document flags its
    positions; covered tokens are dropped, first occurrence kept. The
    within-doc complement of ``duplicated_span_removal`` (which is
    cross-corpus) — together they implement the Gopher/RefinedWeb
    repetition-scrub pair.

    Plan: same slim ``(doc, pos, gram)`` explode; the keep-first rule is
    ``pos > min(pos) over (doc, gram)`` — a window over the position
    table partitioned by doc (hash-parallel across docs), then the same
    array-expression coverage/reassembly, no further shuffle of text.
    """
    from pyspark.sql import Window

    sdf = _plain(frame)
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                    lambda t: t != F.lit(""))
    base = sdf.select(F.col(id_col), toks.alias("__toks__"))
    starts = F.when(
        F.size("__toks__") >= n,
        F.sequence(F.lit(0), F.size("__toks__") - n)
    ).otherwise(F.array().cast("array<int>"))
    gram = F.array_join(F.slice("__toks__", F.col("__pos__") + 1, n), " ")
    pos_tab = (base.select(id_col, F.posexplode(starts).alias("__i__",
                                                             "__pos__"),
                           "__toks__")
               .select(id_col, "__pos__", gram.alias("__gram__")))
    w = Window.partitionBy(id_col, "__gram__")
    flagged = (pos_tab
               .withColumn("__first__", F.min("__pos__").over(w))
               .filter(F.col("__pos__") > F.col("__first__"))
               .groupBy(id_col)
               .agg(F.sort_array(F.collect_list("__pos__"))
                    .alias("__flags__")))
    joined = (base.join(flagged, id_col, "left")
              .withColumn("__flags__",
                          F.coalesce("__flags__",
                                     F.array().cast("array<int>"))))
    kept = F.when(
        F.size("__toks__") > 0,
        F.filter(
            F.sequence(F.lit(0), F.size("__toks__") - 1),
            lambda j: ~F.exists(
                F.col("__flags__"),
                lambda p: (j >= p) & (j <= p + F.lit(n - 1)))),
    ).otherwise(F.array().cast("array<int>"))
    out = (joined
           .withColumn("__kept__", kept)
           .select(
               F.col(id_col),
               F.size("__toks__").alias("n_tokens"),
               F.size("__flags__").alias("rep_spans"),
               (F.size("__toks__") - F.size("__kept__")).alias("rep_tokens"),
               F.round(F.try_divide(
                   F.size("__toks__") - F.size("__kept__"),
                   F.size("__toks__")), 6).alias("rep_frac"),
               F.array_join(
                   F.transform(F.col("__kept__"),
                               lambda j: F.element_at("__toks__", j + 1)),
                   " ").alias("clean_text")))
    return SparkFrame(out)


def containment_pairs(frame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      threshold: float = 0.8,
                      block_col: str | None = None,
                      profile=None) -> SparkFrame:
    """Asymmetric near-SUBSET detection: directed pairs where document
    ``a``'s n-gram set is mostly contained in ``b``'s,

        containment(a → b) = |G(a) ∩ G(b)| / |G(a)| ≥ threshold.

    Jaccard misses the quote-inside-a-longer-article case (the union
    in its denominator is dominated by the longer doc); containment is
    the standard asymmetric complement (Broder's resemblance vs
    containment distinction) — pipeline use: drop ``a``, keep the
    superset document.

    Plan: inverted-index join, never pairwise array ops — explode each
    doc's DISTINCT hashed grams to slim (gram, id) rows, self-join on
    the gram (optionally block-scoped), hash-count shared grams per
    directed pair, then one broadcast-size join against the per-doc
    set sizes. Shuffles carry (gram, id) longs and (id_a, id_b, count)
    partials only. Skew hazard: a corpus-ubiquitous gram fans out the
    gram join quadratically — at scale drop grams with document
    frequency above a cap first (they cannot discriminate containment
    anyway); the cap is a recall-neutral optimization for
    threshold-high queries only when |G(a)| ≫ capped-out grams,
    documented rather than defaulted here.

    ``profile``: a precomputed (persisted) ``ngram_order_profile`` of
    the same corpus/*n*/*block_col* — its ``__toks__`` arrays hold the
    SAME distinct hashed n-grams (order is irrelevant to the inverted-
    index join), so a query suite sharing one profile skips this
    operator's tokenize scans entirely.
    """
    bcols = [block_col] if block_col else []
    if profile is not None:
        grams = _plain(profile).select(
            id_col, *bcols, F.explode("__toks__").alias("__g__"))
    else:
        base = ensure_min_partitions(_plain(frame).select(
            id_col, *bcols, text_col))
        grams = base.select(
            id_col, *bcols,
            F.explode(F.transform(word_ngrams(text_col, n),
                                  lambda g: F.xxhash64(g))).alias("__g__"))
    sizes = grams.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__sz__"))
    on = ["__g__"] + ([block_col] if block_col else [])
    ga = grams.select(*on, F.col(id_col).alias("id_a"))
    gb = grams.select(*on, F.col(id_col).alias("id_b"))
    shared = (ga.join(gb, on=on)
              .filter(F.col("id_a") != F.col("id_b"))
              .groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).alias("__inter__")))
    out = (shared
           .join(sizes.select(F.col(id_col).alias("id_a"),
                              F.col("__sz__").alias("__sa__")),
                 on="id_a")
           .withColumn("containment",
                       F.col("__inter__").cast("double")
                       / F.col("__sa__").cast("double"))
           .filter(F.col("containment") >= threshold)
           .select("id_a", "id_b",
                   F.round("containment", 6).alias("containment")))
    return SparkFrame(out)


def dedup_keep_best(frame, score_col: str, text_col: str = "text",
                    id_col: str = "doc_id") -> SparkFrame:
    """Normalized-text dedup keeping the BEST-scoring duplicate (ties
    break on the smallest id) instead of ``dedup_exact_normalized``'s
    min-id winner — the production pattern when a quality score exists:
    among byte-identical-after-normalization copies, keep the one with
    the best metadata (longest original, highest LM score, …).

    Same single-shuffle window-rank plan and the same mass-duplicate
    skew caveat as ``dedup_exact_normalized`` (see its ``skew_safe``
    recipe — the pre-aggregate shape works here with
    ``max_by(id, (score, -id))`` as the combiner).
    """
    from pyspark.sql import Window
    sdf = _plain(frame)
    with_fp = sdf.withColumn("__fp__",
                             normalized_fingerprint(F.col(text_col)))
    w = Window.partitionBy("__fp__").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc())
    out = (with_fp.withColumn("__rk__", F.row_number().over(w))
           .filter(F.col("__rk__") == 1)
           .drop("__fp__", "__rk__"))
    return SparkFrame(out)


def _min_agree_subsets(wa: dict[str, float],
                       threshold: float) -> list[tuple[str, ...]] | None:
    """Minimal field subsets whose agreement weights alone reach
    *threshold* — the Fellegi-Sunter candidate-generation keys.

    Returns None when the enumeration is not worth it (too many
    fields) or vacuous (the empty subset reaches the threshold, i.e.
    every pair is a candidate)."""
    from itertools import combinations
    names = sorted(wa)
    if len(names) > 12:
        return None
    if threshold <= 0:
        return None  # empty subset qualifies: no pruning possible
    out: list[tuple[str, ...]] = []
    for r in range(1, len(names) + 1):
        for sub in combinations(names, r):
            if any(set(m) <= set(sub) for m in out):
                continue  # superset of an already-minimal subset
            if sum(wa[f] for f in sub) >= threshold:
                out.append(sub)
    return out or None


def fellegi_sunter_pairs(frame, id_col: str, block_col: str,
                         fields: dict[str, tuple[float, float]],
                         threshold: float | None = None) -> SparkFrame:
    """Probabilistic record linkage (Fellegi & Sunter 1969, JASA —
    public methodology): score candidate record pairs by summed field
    agreement log-weights

        agree(f):    log2(m_f / u_f)
        disagree(f): log2((1 − m_f) / (1 − u_f))

    where m_f = P(fields agree | same entity), u_f = P(agree |
    different entities) — supplied per field (estimated upstream or
    set from domain knowledge, as in every production linkage deck).
    A NULL on either side contributes 0 (missing ≠ evidence). Pairs
    at or above *threshold* (when given) are the link candidates.

    Self-linkage form: candidate pairs come from a *block_col*
    equi-join of the table with itself (id_a < id_b, each unordered
    pair once) — the standard blocking step, so the join is hash
    shuffle on the block key, never all-pairs. The weight sum is a
    fixed-order expression over the field list — deterministic and
    cross-engine exact (the log weights are Python-computed literals).

    Output: (id_a, id_b, weight rounded 6, n_agree).

    Precondition: *id_col* must be unique within the table. The
    thresholded path de-duplicates candidate pairs on (id_a, id_b)
    after the union of subset equi-joins, so duplicated ids would
    collapse to one row where the unthresholded path emits one row per
    physical pair — output multiplicity would silently depend on
    whether a threshold was passed. (With unique ids, both paths are
    provably identical.)
    """
    import math
    for f, (m, u) in fields.items():
        if not (0.0 < u < m < 1.0):
            raise ValueError(
                f"field {f!r}: need 0 < u < m < 1, got m={m}, u={u}")
    sdf = _plain(frame)
    cols = [id_col, block_col, *fields.keys()]
    a = sdf.select(*[F.col(c).alias(f"a_{c}") for c in cols])
    b = sdf.select(*[F.col(c).alias(f"b_{c}") for c in cols])
    base_on = ((F.col(f"a_{block_col}") == F.col(f"b_{block_col}"))
               & (F.col(f"a_{id_col}") < F.col(f"b_{id_col}")))
    # Candidate pruning when a threshold is given: agreement weights
    # are positive, disagreement weights negative, NULLs contribute 0,
    # so any pair at weight >= t must FULLY AGREE on some field subset
    # whose agree-weights alone sum to >= t. Enumerate the minimal such
    # subsets and generate candidates as a union of equi-joins on
    # (block + subset) — near-linear instead of block-quadratic; the
    # final exact threshold filter unchanged, so the output is
    # identical (candidates are a provable superset).
    minimal = (_min_agree_subsets(
        {f: math.log2(m / u) for f, (m, u) in fields.items()},
        threshold - 1e-6) if threshold is not None else None)
    if minimal and all(minimal) and len(minimal) <= 8:
        cand = None
        for sub in minimal:
            on = base_on
            for f in sub:
                on = on & (F.col(f"a_{f}") == F.col(f"b_{f}"))
            br = a.join(b, on=on)
            cand = br if cand is None else cand.unionByName(br)
        pairs = (cand.dropDuplicates([f"a_{id_col}", f"b_{id_col}"])
                 if len(minimal) > 1 else cand)
    else:
        pairs = a.join(b, on=base_on)
    weight = F.lit(0.0)
    n_agree = F.lit(0)
    for f, (m, u) in fields.items():
        wa = F.lit(math.log2(m / u))
        wd = F.lit(math.log2((1 - m) / (1 - u)))
        la, rb = F.col(f"a_{f}"), F.col(f"b_{f}")
        both = la.isNotNull() & rb.isNotNull()
        weight = weight + (F.when(both & (la == rb), wa)
                           .when(both, wd)
                           .otherwise(F.lit(0.0)))
        n_agree = n_agree + F.when(both & (la == rb), 1).otherwise(0)
    out = pairs.select(
        F.col(f"a_{id_col}").alias("id_a"),
        F.col(f"b_{id_col}").alias("id_b"),
        F.round(weight, 6).alias("weight"),
        n_agree.cast("int").alias("n_agree"))
    if threshold is not None:
        out = out.filter(F.col("weight") >= threshold)
    return SparkFrame(out)

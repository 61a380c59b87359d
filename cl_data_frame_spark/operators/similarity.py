"""Similarity search over embedding columns (Tier X, SURVEY.md §2.3).

Brute-force cosine top-k as the exact baseline; random-hyperplane LSH
bucketing and an IVF (inverted-file, centroid-routed) variant as the scale
paths. All similarity math is ``zip_with``/``aggregate`` higher-order
expressions over ``array<double>`` — JVM-side, no Python per row.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..frame import SparkFrame
from ..session import local_frame
from .dedup import bind_once, cosine_similarity, dot_product, vector_norm


def _plain(frame) -> DataFrame:
    return frame.spark_df if isinstance(frame, SparkFrame) else frame


def _lit_vec(vec) -> Column:
    """Literal array<double> in ONE sql-expression round trip.

    ``F.array(*[F.lit(x) ...])`` costs 2+ py4j calls per element — for
    a 64-dim centroid list that is hundreds of driver round trips per
    routing expression. The string form parses to the identical
    Literal array; CAST('<repr>' AS DOUBLE) is correctly rounded, so
    the values are bit-identical to F.lit(float(x))."""
    if not vec:
        return F.array().cast("array<double>")
    return F.expr(_lit_vec_sql(vec))


def _lit_vec_sql(vec) -> str:
    """The ``_lit_vec`` literal as a SQL fragment, for callers that
    assemble whole formulas as expression strings."""
    def _d(x) -> str:
        x = float(x)
        if x != x:
            return "CAST('NaN' AS DOUBLE)"
        if x in (float("inf"), float("-inf")):
            return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
        return f"CAST('{x!r}' AS DOUBLE)"
    return "array(" + ",".join(_d(x) for x in vec) + ")"


def cosine_topk(frame, query_vec, k: int = 10, id_col: str = "vec_id",
                vec_col: str = "embedding") -> SparkFrame:
    """Exact brute-force cosine top-k against a literal query vector.

    Scale: one scan, cosine computed per row JVM-side, then
    ``orderBy().limit(k)`` which Spark plans as TakeOrderedAndProject —
    per-partition top-k heaps merged on the driver; no shuffle of the scan.
    The query norm is a driver-side constant (Python's left-to-right sum
    is bit-identical to the SQL fold), so the per-row work is one dot +
    one row-norm fold, never a fold over the literal query array.
    """
    sdf = _plain(frame)
    q = [float(x) for x in query_vec]
    nq = math.sqrt(sum(x * x for x in q))
    v = F.col(vec_col).cast("array<double>")
    cos = dot_product(v, _lit_vec(q)) / (vector_norm(v) * F.lit(nq))
    out = (sdf.select(id_col, F.round(cos, 6).alias("cosine"))
           .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
           .limit(k))
    return SparkFrame(out)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (LCG-based — avoids any
    runtime RNG so plans and oracles are reproducible)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        vec = []
        for _ in range(dim):
            state = (6364136223846793005 * state + 1442695040888963407) % (1 << 64)
            # map to (-1, 1)
            vec.append((state >> 11) / float(1 << 53) * 2.0 - 1.0)
        norm = math.sqrt(sum(x * x for x in vec)) or 1.0
        planes.append([x / norm for x in vec])
    return planes


def random_projection(frame, dim: int, out_dim: int,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      seed: int = 42, renorm: bool = True) -> SparkFrame:
    """Johnson–Lindenstrauss random projection: reduce *dim*-d
    embeddings to *out_dim* dimensions with pairwise distances
    preserved to within ~O(sqrt(log n / out_dim)) distortion — the
    standard cheapening pass before clustering / IVF / near-dup over
    100 TB embedding tables (a 768→64 projection cuts every downstream
    shuffle and distance computation 12×).

    The projection matrix is the same deterministic LCG unit-plane
    family as ``hyperplane_bucket`` (seed-reproducible, literal
    expressions — no runtime RNG, no broadcast join, oracle-friendly);
    each output coordinate is one fold dot product, scaled by
    ``sqrt(dim / out_dim)`` (the JL variance correction), and
    ``renorm=True`` re-normalizes outputs to unit length so downstream
    cosine math is unchanged. Zero shuffle: a pure projection.

    Output: (id_col, ``proj`` array<double>).
    """
    sdf = _plain(frame)
    vsql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    planes = _hyperplanes(dim, out_dim, seed)
    scale = math.sqrt(dim / float(out_dim))
    scale_s = f"CAST('{scale!r}' AS DOUBLE)"
    # all out_dim fold dot products in ONE expression round trip
    coords = ", ".join(
        f"ROUND((aggregate(zip_with({vsql}, {_lit_vec_sql(p)}, "
        f"(x, y) -> (x * y)), 0.0D, (acc, x) -> (acc + x)) "
        f"* {scale_s}), 9)"
        for p in planes)
    proj = F.expr(f"array({coords})")
    if renorm:
        # bind the projection (and the norm) ONCE: referencing the
        # raw array expression inside the per-element lambda would
        # re-run all out_dim folds per coordinate (quadratic)
        proj = bind_once(proj, lambda pr: bind_once(
            F.sqrt(F.aggregate(pr, F.lit(0.0),
                               lambda acc, x: acc + x * x)),
            lambda nrm: F.when(nrm > 0, F.transform(
                pr, lambda x: F.round(x / nrm, 9))).otherwise(pr)))
    out = sdf.select(id_col, proj.alias("proj"))
    return SparkFrame(out)


def hyperplane_bucket(vec_col, dim: int, n_planes: int = 16,
                      seed: int = 42) -> Column:
    """Random-hyperplane LSH bucket id (SimHash over the embedding space):
    bit i = sign(v . h_i). Vectors within a small angle share buckets with
    high probability. Pure expressions: n_planes dot products per row."""
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    col = col.cast("array<double>")
    planes = _hyperplanes(dim, n_planes, seed)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        dot = F.aggregate(F.zip_with(col, _lit_vec(plane), lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        bucket = bucket.bitwiseOR(
            F.when(dot >= 0, F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long")))
    return bucket


def ann_topk_lsh(frame, query_vec, k: int = 10, id_col: str = "vec_id",
                 vec_col: str = "embedding", n_planes: int = 8,
                 max_hamming: int = 2, seed: int = 42) -> SparkFrame:
    """Approximate top-k: probe only vectors whose hyperplane bucket is
    within *max_hamming* bits of the query's bucket (multi-probe LSH),
    then exact cosine + TakeOrderedAndProject on the survivors.

    Scale: the bucket predicate prunes the scan to ~C(n_planes, max_hamming)
    / 2^n_planes of the data; bucket can be precomputed and used as a
    partition column so probing is partition pruning, not a scan.
    """
    sdf = _plain(frame)
    dim = len(query_vec)
    bucket = hyperplane_bucket(vec_col, dim, n_planes, seed)
    qvals = list(query_vec)
    planes = _hyperplanes(dim, n_planes, seed)
    qbucket = 0
    for i, plane in enumerate(planes):
        if sum(x * y for x, y in zip(qvals, plane)) >= 0:
            qbucket |= 1 << i
    cand = sdf.withColumn("__bucket__", bucket).filter(
        F.bit_count(F.col("__bucket__").bitwiseXOR(F.lit(qbucket))) <= max_hamming)
    nq = math.sqrt(sum(float(x) * float(x) for x in qvals))
    v = F.col(vec_col).cast("array<double>")
    cos = dot_product(v, _lit_vec(qvals)) / (vector_norm(v) * F.lit(nq))
    out = (cand.select(id_col, F.round(cos, 6).alias("cosine"))
           .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
           .limit(k))
    return SparkFrame(out)


def ivf_assign(frame, centroids, id_col: str = "vec_id",
               vec_col: str = "embedding") -> SparkFrame:
    """IVF routing: assign each vector to its nearest centroid (by cosine).

    *centroids*: list of (centroid_id, vector). Broadcast-joined as
    literals; assignment = argmax over a small array of similarities.
    At scale the assignment becomes a partition column: queries probe only
    the nprobe nearest centroid partitions (partition pruning).
    """
    sdf = _plain(frame)
    v = F.col(vec_col).cast("array<double>")
    # row norm computed ONCE per row (not once per centroid), centroid
    # norms precomputed driver-side — Python's left-to-right sum over the
    # same doubles is bit-identical to the fold the SQL oracle runs, so
    # determinism is preserved while the per-row expression shrinks ~3x
    na = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    def _sim(vec):
        nb = math.sqrt(sum(float(x) * float(x) for x in vec))
        dot = F.aggregate(F.zip_with(v, _lit_vec(vec), lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        return F.round(dot / (na * F.lit(nb)), 6)
    sims = F.array(*[
        F.struct(_sim(vec).alias("sim"), F.lit(int(cid)).alias("cid"))
        for cid, vec in centroids])
    best = F.array_max(sims)
    out = sdf.select(id_col,
                     best["cid"].alias("centroid_id"),
                     best["sim"].alias("centroid_sim"))
    return SparkFrame(out)


def similarity_join_topk(left_frame, right_frame, k: int = 5,
                         left_id: str = "vec_id", right_id: str = "vec_id",
                         vec_col: str = "embedding",
                         block_col: str | None = None) -> SparkFrame:
    """For every left vector, its top-k most-cosine-similar right vectors.

    Blocked (or full, for the exact baseline) join + window rank. Scale:
    always block (LSH bucket or IVF centroid) so the join is an equi-join;
    the rank is a per-left-key window, no global sort.

    Plan shape: the quadratic join moves (block, id) rows only, the pair
    table is round-robined cluster-wide, and vectors attach via two
    id-equi-joins (AQE broadcasts small vector tables) — so the cosine
    compute parallelizes by pair, not by #distinct-blocks.
    """
    from ..partitioning import default_parallelism, ensure_min_partitions

    ldf = ensure_min_partitions(_plain(left_frame))
    rdf = _plain(right_frame)
    on = [block_col] if block_col else []
    lids = ldf.select(*on, F.col(left_id).alias("id_l"))
    rids = rdf.select(*on, F.col(right_id).alias("id_r"))
    pairs = (lids.crossJoin(rids.select("id_r")) if not on
             else lids.join(rids, on=on))
    pairs = (pairs.filter(F.col("id_l") != F.col("id_r"))
             .select("id_l", "id_r")
             .repartition(default_parallelism(ldf)))
    # norms computed once per vector in these projections (not per pair)
    lv = F.col(vec_col).cast("array<double>")
    joined = (pairs
              .join(ldf.select(F.col(left_id).alias("id_l"),
                               lv.alias("v_l"),
                               vector_norm(lv).alias("n_l")), on="id_l")
              .join(rdf.select(F.col(right_id).alias("id_r"),
                               lv.alias("v_r"),
                               vector_norm(lv).alias("n_r")), on="id_r"))
    cos = dot_product(F.col("v_l"), F.col("v_r")) \
        / (F.col("n_l") * F.col("n_r"))
    w = Window.partitionBy("id_l").orderBy(F.col("cosine").desc(),
                                           F.col("id_r").asc())
    out = (joined.withColumn("cosine", F.round(cos, 6))
           .withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= k)
           .select("id_l", "id_r", "cosine", "rank"))
    return SparkFrame(out)


def group_centroids(frame, group_col: str = "label",
                    vec_col: str = "embedding") -> SparkFrame:
    """Per-group embedding centroid in long form: one row per
    (group, dim) with the exact decimal component sum, member count, and
    the mean rounded to 6 places.

    Plan: ``posexplode`` widens each row to ``dim`` rows, but the
    following hash aggregate partial-combines per task — the shuffle
    carries only (#groups x dim) partial sums per task, not the exploded
    data, so at 100 TB the network cost is O(groups x dim x tasks).
    Component sums use fixed-point arithmetic: ``floor(x * 1e10)`` as a
    64-bit integer (the float->double widening, the IEEE multiply, and
    floor are all bit-identical across engines — unlike decimal CASTS,
    whose rounding mode differs), so the integer sum is exact and
    order-independent, and every derived value (sum, mean) is
    reproducible across partitionings and engines. Headroom: |x| <= 1
    embeddings give |sum| <= 1e10 x rows; overflow needs ~9e8 rows per
    (group, dim), far past any real corpus's group size.

    Useful as the aggregation step of k-means/IVF training (see
    ``ivf_assign``) and for per-source/per-language embedding drift
    monitoring. No reference analogue; Tier X scope per SURVEY §2.3.
    """
    sdf = _plain(frame)
    exploded = sdf.select(
        F.col(group_col),
        F.posexplode(vec_col).alias("pos", "val"))
    fixed = F.floor(F.col("val").cast("double") * F.lit(1e10))
    agg = (exploded.groupBy(group_col, "pos")
           .agg(F.sum(fixed).alias("comp_fixed"),
                F.count(F.lit(1)).alias("n")))
    comp_sum = F.col("comp_fixed").cast("double") / F.lit(1e10)
    out = agg.select(
        F.col(group_col),
        (F.col("pos") + 1).alias("dim"),
        comp_sum.alias("comp_sum"),
        "n",
        F.round(comp_sum / F.col("n"), 6).alias("mean_val"))
    return SparkFrame(out)


def kmeans_fit(frame, k: int = 8, max_iter: int = 3,
               id_col: str = "vec_id", vec_col: str = "embedding"):
    """Lloyd's k-means (cosine metric) as a driver-coordinated DataFrame
    loop; returns ``(centroids, assignments_frame)``.

    Fully deterministic, to the point of being reproducible in an
    external SQL engine (the ``x_kmeans_assign`` oracle unrolls the same
    iterations in DuckDB):

    * init: the vectors with ``id < k`` (cluster id = vector id),
    * assignment: argmax of round(cosine, 6), ties to the larger cluster
      id — identical to ``ivf_assign``,
    * update: per-dimension fixed-point means via ``group_centroids``
      (order-independent integer sums), rounded to 6 places,
    * empty clusters keep their previous centroid.

    Scale shape: the only driver-side state is the model itself
    (k x dim doubles, collected once per iteration — the irreducible
    synchronization point of Lloyd's algorithm); assignment is a
    broadcast-literal narrow map over the corpus and the update is the
    map-side-combining centroid aggregate, so each iteration is one scan
    + one (groups x dim)-sized shuffle regardless of corpus size.
    """
    from pyspark import StorageLevel

    sdf = _plain(frame)
    # every Lloyd round scans the input twice (assignment join + centroid
    # aggregate); persist once so the iterations read cached blocks
    # instead of re-scanning the source max_iter*2 times
    sdf = sdf.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        init = (sdf.filter(F.col(id_col) < k)
                .select(id_col, vec_col).collect())
        cents = sorted((int(r[0]), [float(x) for x in r[1]]) for r in init)
        dim = len(cents[0][1])
        for _ in range(max_iter):
            assign = _route(sdf, cents, id_col, vec_col).spark_df
            joined = assign.join(sdf.select(id_col, vec_col), on=id_col)
            cent_long = group_centroids(joined, "centroid_id",
                                        vec_col).spark_df
            by_c: dict[int, dict[int, float]] = {}
            for r in (cent_long.select("centroid_id", "dim", "mean_val")
                      .collect()):
                by_c.setdefault(int(r[0]), {})[int(r[1])] = float(r[2])
            cents = [(cid, [by_c[cid][d + 1] for d in range(dim)])
                     if cid in by_c else (cid, vec)
                     for cid, vec in cents]
        return cents, _route(sdf, cents, id_col, vec_col)
    finally:
        # non-blocking: the returned assignment plan re-reads the source
        # if executed after eviction — correctness is unaffected
        sdf.unpersist(blocking=False)


# ---------------------------------------------------------------------------
# embedding quantization (int8 scalar quantization — the standard storage/
# bandwidth reduction for 100 TB-scale vector corpora; public technique,
# no reference analogue, Tier X scope per SURVEY §2.3)
# ---------------------------------------------------------------------------

def quantize_embeddings(frame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> SparkFrame:
    """Symmetric per-vector int8 quantization:
    ``scale = max|x| / 127``, ``q_i = round(x_i / scale)`` (so every
    ``q_i`` fits int8), plus the L2 reconstruction error — the quality
    signal that decides whether int8 is acceptable for a given corpus.

    Output: (id_col, scale, q_sum, q_absmax, l2_err) — ``q_sum`` /
    ``q_absmax`` are exact integer checksums of the quantized vector,
    ``scale`` and ``l2_err`` rounded to 6 places.

    Pure array-expression math over the embedding column (transform /
    aggregate HOFs): narrow, shuffle-free, no UDF; float components widen
    to double before any arithmetic so results are bit-identical across
    engines (in-order IEEE reduction, same as ``cosine_similarity``).
    """
    sdf = _plain(frame)
    # staged projections: each intermediate (widened vector, scale,
    # quantized vector) is materialized as a column used several times
    # downstream, so CollapseProject keeps the stages separate and each
    # array scan runs ONCE per row — inlining `scale` into the per-element
    # lambdas would re-run the array_max scan for every element (O(dim^2)
    # interpreted-HOF work; measured 6x slower at sf0.1)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    widened = sdf.select(F.col(id_col), v.alias("__v__"))
    maxabs = F.array_max(F.transform(F.col("__v__"), F.abs))
    scaled = widened.select(
        id_col, "__v__",
        F.when(maxabs > 0, maxabs / F.lit(127.0)).otherwise(F.lit(1.0))
        .alias("__scale__"))
    s = F.col("__scale__")
    quantized = scaled.select(
        id_col, "__v__", "__scale__",
        F.transform(F.col("__v__"),
                    lambda x: F.round(x / s).cast("long")).alias("__q__"))
    recon_sq = F.zip_with(
        F.col("__v__"), F.col("__q__"),
        lambda x, qi: (x - qi * s) * (x - qi * s))
    l2 = F.sqrt(F.aggregate(recon_sq, F.lit(0.0), lambda a, x: a + x))
    out = quantized.select(
        F.col(id_col),
        F.round(s, 6).alias("scale"),
        F.aggregate(F.col("__q__"), F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("q_sum"),
        F.array_max(F.transform(F.col("__q__"), F.abs)).alias("q_absmax"),
        F.round(l2, 6).alias("l2_err"))
    return SparkFrame(out)


def pq_codebooks(dim: int, m: int, k: int,
                 seed: int = 7) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: *m* subspaces of
    ``dim/m`` dims, *k* codewords each, components in (-1, 1) from the
    same LCG as ``_hyperplanes`` — no runtime RNG, so the encoding and
    its SQL oracle are reproducible everywhere. (Real deployments train
    codebooks per-subspace with k-means — ``kmeans_fit`` composes — but
    the encoding path is identical either way.)"""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_sub = dim // m
    state = seed
    books = []
    for _ in range(m):
        cws = []
        for _ in range(k):
            vec = []
            for _ in range(d_sub):
                state = (6364136223846793005 * state
                         + 1442695040888963407) % (1 << 64)
                vec.append((state >> 11) / float(1 << 53) * 2.0 - 1.0)
            cws.append(vec)
        books.append(cws)
    return books


def pq_encode(frame, dim: int, m: int = 4, k: int = 4,
              id_col: str = "vec_id", vec_col: str = "embedding",
              seed: int = 7) -> SparkFrame:
    """Product-quantization encoding (Jégou/Douze/Schmid, "Product
    Quantization for Nearest Neighbor Search", IEEE TPAMI 2011): split
    each vector into *m* subvectors, assign each to its nearest codeword
    by squared L2, and report the code plus the total reconstruction
    error ``sqrt(Σ_j min_c ||sub_j − cw_jc||²)``.

    Output: (id_col, codes array<int> of length m, recon_err rounded 6).
    Ties break to the lowest codeword id (first position of the min).

    Plan: pure array expressions — m·k in-order zip_with/aggregate folds
    per row, staged so each distance array is computed ONCE (the
    multi-use columns block CollapseProject from inlining them, same
    trick as ``quantize_embeddings``). Narrow, shuffle-free, scan-speed
    at any scale; compression is m·log2(k) bits per vector.
    """
    books = pq_codebooks(dim, m, k, seed)
    d_sub = dim // m
    sdf = _plain(frame)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cur = sdf.select(F.col(id_col), v.alias("__v__"))
    for j in range(m):
        # one expression string per subspace: k zip_with/aggregate
        # folds assembled in a single py4j round trip (identical tree
        # to the F.aggregate/F.zip_with form)
        sub = f"slice(__v__, {j * d_sub + 1}, {d_sub})"
        folds = ", ".join(
            f"aggregate(zip_with({sub}, {_lit_vec_sql(books[j][c])}, "
            f"(x, y) -> ((x - y) * (x - y))), 0.0D, "
            f"(a, x) -> (a + x))"
            for c in range(k))
        cur = cur.withColumn(f"__d{j}__", F.expr(f"array({folds})"))
    codes = F.array(*[
        (F.array_position(F.col(f"__d{j}__"),
                          F.array_min(F.col(f"__d{j}__"))) - 1).cast("int")
        for j in range(m)])
    err = None
    for j in range(m):
        mn = F.array_min(F.col(f"__d{j}__"))
        err = mn if err is None else err + mn
    out = cur.select(F.col(id_col), codes.alias("codes"),
                     F.round(F.sqrt(err), 6).alias("recon_err"))
    return SparkFrame(out)


def ivf_search_topk(frame, query_vec, centroids, k: int = 10,
                    nprobe: int = 2, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> SparkFrame:
    """IVF-probed approximate nearest neighbours: score the query against
    the centroid table driver-side (it is k_centroids x dim — tiny),
    keep the *nprobe* nearest cells, and brute-force ONLY vectors routed
    to those cells.

    This is the classic IVF trade: recall bounded by how often the true
    neighbour's cell is probed, cost cut to ~nprobe/k_centroids of the
    corpus. At scale the assignment is a partition column, so the cell
    filter becomes partition pruning and the scan never touches the
    other cells' files. The probed scan ends in the same zero-shuffle
    TakeOrdered top-k as the exact baseline.
    """
    sdf = _plain(frame)
    q = [float(x) for x in query_vec]
    nq = math.sqrt(sum(x * x for x in q))

    def _cos_to_q(vec):
        nb = math.sqrt(sum(float(x) * float(x) for x in vec))
        return sum(a * float(b) for a, b in zip(q, vec)) / (nq * nb)

    probed = [cid for cid, _ in sorted(
        centroids, key=lambda cv: (-_cos_to_q(cv[1]), cv[0]))[:nprobe]]
    assign = _route(sdf, centroids, id_col, vec_col).spark_df
    routed = (sdf.join(assign.select(id_col, "centroid_id"), on=id_col)
              .filter(F.col("centroid_id").isin(probed)))
    v = F.col(vec_col).cast("array<double>")
    dot = F.aggregate(F.zip_with(v, _lit_vec(q), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    cos = F.round(dot / (na * F.lit(nq)), 6)
    out = (routed.select(id_col, "centroid_id", cos.alias("cosine"))
           .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
           .limit(k))
    return SparkFrame(out)


def ivf_assign_join(frame, centroids, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> SparkFrame:
    """Centroid routing via a broadcast JOIN against a centroid table —
    the large-k path. ``ivf_assign``'s literal-expression argmax builds
    O(k) expression nodes per row; measured at k=101 the codegen cost
    exceeds the arithmetic (40s vs 7s on a 20k x 128-dim corpus), so
    past a few dozen centroids route through data, not code: broadcast
    the k x dim table, compute one vectorized cosine per (row, centroid)
    pair, and take the per-row argmax with ``max(struct(sim, cid))``
    (ties to the larger cid — identical to ``ivf_assign``).
    """
    sdf = _plain(frame)
    spark = sdf.sparkSession
    # centroid norms precomputed driver-side (Python's left-to-right sum
    # is bit-identical to the SQL fold, as in ivf_assign)
    cdf = local_frame(
        spark,
        [(int(cid), [float(x) for x in vec],
          math.sqrt(sum(float(x) * float(x) for x in vec)))
         for cid, vec in centroids],
        "__cid__ bigint, __cvec__ array<double>, __nb__ double")
    v = F.col(vec_col).cast("array<double>")
    na = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    base = sdf.select(id_col, v.alias("__v__"), na.alias("__na__"))
    dot = F.aggregate(F.zip_with(F.col("__v__"), F.col("__cvec__"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    sim = F.round(dot / (F.col("__na__") * F.col("__nb__")), 6)
    scored = base.crossJoin(F.broadcast(cdf)).select(
        id_col, F.struct(sim.alias("sim"),
                         F.col("__cid__").alias("cid")).alias("__s__"))
    out = (scored.groupBy(id_col)
           .agg(F.max("__s__").alias("__m__"))
           .select(id_col, F.col("__m__.cid").alias("centroid_id"),
                   F.col("__m__.sim").alias("centroid_sim")))
    return SparkFrame(out)


def _route(frame, centroids, id_col, vec_col):
    """Pick the assignment implementation by centroid count: literal
    expression below ~32 cells, broadcast join above (see
    ``ivf_assign_join``)."""
    impl = ivf_assign if len(centroids) <= 32 else ivf_assign_join
    return impl(frame, centroids, id_col, vec_col)


def _hamming_probes(bucket: int, n_planes: int,
                    max_hamming: int) -> list[int]:
    """All bucket ids within *max_hamming* bit flips of *bucket*
    (multi-probe set; C(n_planes, <=h) ids)."""
    from itertools import combinations
    out = [bucket]
    for h in range(1, max_hamming + 1):
        for bits in combinations(range(n_planes), h):
            b = bucket
            for i in bits:
                b ^= 1 << i
            out.append(b)
    return out


def ann_join_topk_lsh(left_frame, right_frame, k: int = 5,
                      left_id: str = "vec_id", right_id: str = "vec_id",
                      vec_col: str = "embedding", n_planes: int = 8,
                      max_hamming: int = 1, seed: int = 42) -> SparkFrame:
    """Approximate top-k similarity JOIN via multi-probe hyperplane
    LSH — the scale path ``similarity_join_topk`` documents: instead of
    the quadratic (or hand-blocked) pair join, each LEFT vector probes
    every bucket within *max_hamming* bit flips of its own (a
    C(n_planes, ≤h)-way explode of (id, bucket) rows only), buckets
    hash-EQUI-join, and exact cosine + per-left rank run on the
    candidates. Shuffle volume is candidate pairs, sublinear in n² for
    any non-degenerate bucket distribution; recall is tunable by
    (n_planes, max_hamming) and measured by ``ann_recall_at_k``.
    """
    ldf = _plain(left_frame)
    rdf = _plain(right_frame)
    dim = len(ldf.select(vec_col).first()[0])
    bkt = hyperplane_bucket(vec_col, dim, n_planes, seed)
    # left probes: explode the multi-probe neighbourhood of the left
    # bucket — pure expressions (flip each subset of <= max_hamming bits)
    from itertools import combinations
    masks = [0]
    for h in range(1, max_hamming + 1):
        for bits in combinations(range(n_planes), h):
            m = 0
            for i in bits:
                m |= 1 << i
            masks.append(m)
    probe_arr = F.array(*[F.col("__bkt__").bitwiseXOR(F.lit(m))
                          for m in masks])
    lids = (ldf.select(F.col(left_id).alias("id_l"),
                       bkt.alias("__bkt__"))
            .select("id_l", F.explode(probe_arr).alias("__bucket__")))
    rids = rdf.select(F.col(right_id).alias("id_r"),
                      bkt.alias("__bucket__"))
    pairs = (lids.join(rids, on="__bucket__")
             .filter(F.col("id_l") != F.col("id_r"))
             .select("id_l", "id_r").distinct())
    lv = F.col(vec_col).cast("array<double>")
    joined = (pairs
              .join(ldf.select(F.col(left_id).alias("id_l"),
                               lv.alias("v_l"),
                               vector_norm(lv).alias("n_l")), on="id_l")
              .join(rdf.select(F.col(right_id).alias("id_r"),
                               lv.alias("v_r"),
                               vector_norm(lv).alias("n_r")), on="id_r"))
    cos = dot_product(F.col("v_l"), F.col("v_r")) \
        / (F.col("n_l") * F.col("n_r"))
    w = Window.partitionBy("id_l").orderBy(F.col("cosine").desc(),
                                           F.col("id_r").asc())
    out = (joined.withColumn("cosine", F.round(cos, 6))
           .withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= k)
           .select("id_l", "id_r", "cosine", "rank"))
    return SparkFrame(out)


def ann_recall_at_k(truth_frame, approx_frame, k: int,
                    query_col: str = "id_l",
                    id_col: str = "id_r") -> SparkFrame:
    """Recall@k of an ANN result against exact ground truth — the
    evaluation every approximate index needs before it replaces the
    brute-force path: per query, |approx ∩ truth| / |truth| over each
    side's top-k rows (both frames shaped (query, id, rank); rows with
    rank > k are ignored, and the denominator is the query's actual
    truth count so k > corpus stays well-defined).

    Plan: two slim (query, id) projections, one equi-join on the pair,
    one hash agg per query — nothing data-sized beyond the result
    lists themselves.

    Output: (query_col, n_truth, n_hit, recall rounded 6).
    """
    t = (_plain(truth_frame).filter(F.col("rank") <= k)
         .select(F.col(query_col), F.col(id_col)))
    a = (_plain(approx_frame).filter(F.col("rank") <= k)
         .select(F.col(query_col), F.col(id_col)))
    truth_n = t.groupBy(query_col).agg(
        F.count(F.lit(1)).alias("n_truth"))
    hits = (t.join(a, on=[query_col, id_col])
            .groupBy(query_col).agg(F.count(F.lit(1)).alias("n_hit")))
    out = (truth_n.join(hits, on=query_col, how="left")
           .na.fill(0, ["n_hit"])
           .select(F.col(query_col),
                   F.col("n_truth").cast("bigint").alias("n_truth"),
                   F.col("n_hit").cast("bigint").alias("n_hit"),
                   F.round(F.col("n_hit") / F.col("n_truth"), 6)
                   .alias("recall")))
    return SparkFrame(out)

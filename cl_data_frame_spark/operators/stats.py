"""Statistical column functions — DataFrameStatFunctions parity
(`df.stat.corr/cov/crosstab/freqItems`) re-expressed as deterministic
aggregations.

The reference's statistics surface is its column summaries
(cl-data-frame.lisp:23-52,60-124); these extend it with the standard
two-column statistics a Spark user expects, Tier S scope per SURVEY §2.2.

Cross-engine determinism: every moment (sum x, sum x², sum xy, …)
accumulates as DECIMAL, so the aggregation is exact and
order-independent; correlation/covariance derive from those exact sums
in a fixed double-arithmetic expression. Plain ``corr()``/``covar()``
over doubles would be partition-order-dependent and could never
hash-match an external oracle.

Scale: each statistic is one partial+final hash aggregation (map-side
combine, one shuffle on the group key); the crosstab pivot carries one
row per (group, pivot-value) pair through the shuffle, not raw rows.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cl_data_frame_spark.frame import SparkFrame, sql_ident


def _plain(frame) -> DataFrame:
    return frame.spark_df if isinstance(frame, SparkFrame) else frame


def _dec(col, scale: int = 4, precision: int = 38) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def _cardinality_guard(sdf, cols: list[str], exact: bool,
                       max_distinct: int, buckets: int,
                       accuracy: int = 10_000,
                       as_values: bool = False):
    """Auto-guard for the contingency-quadratic stats family
    (``kendall_tau_b`` / ``mann_whitney_u`` / ``auc_score`` /
    ``cramers_v``): those statistics are computed over the DISTINCT-
    VALUE contingency cells, so a continuous high-cardinality column
    silently turns the cell join row-quadratic. Same posture as
    ``edit_distance_join``'s "auto" pre-scan (dedup.py): ONE cheap
    ``approx_count_distinct`` aggregation over *cols*; any NUMERIC
    column whose estimate exceeds *max_distinct* is replaced in place
    by its equi-depth bucket index (the ``spearman_corr_approx``
    boundary recipe — order-preserving, so rank statistics stay
    O(1/buckets)-accurate and the cell count is bounded by *buckets*).
    A non-numeric column above the bound raises instead (hash-
    bucketing a categorical would silently change the statistic's
    meaning — pre-bucket deliberately or pass ``exact=True``).

    ``exact=True`` skips the scan entirely: the zero-surprise oracle
    path, identical plan to the unguarded original.

    ``as_values=True`` replaces a hot column with its equi-depth bucket
    MIDPOINT (in the column's own units) instead of the bucket index —
    required when the statistic's output lives in value space
    (``theil_sen`` slopes); rank statistics use the default index form.
    """
    if exact:
        return sdf
    from pyspark.sql.types import NumericType
    est = sdf.agg(*[F.approx_count_distinct(F.col(c)).alias(f"c{i}")
                    for i, c in enumerate(cols)]).first()
    hot = [c for i, c in enumerate(cols)
           if (est[f"c{i}"] or 0) > max_distinct]
    if not hot:
        return sdf
    bad = [c for c in hot
           if not isinstance(sdf.schema[c].dataType, NumericType)]
    if bad:
        raise ValueError(
            f"column(s) {bad} have > {max_distinct} distinct values; "
            "this statistic is quadratic in distinct-value cells. "
            "Bucket/group the column first, or pass exact=True to "
            "accept the cells-squared cost deliberately.")
    probs = [i / buckets for i in range(buckets + 1)] if as_values \
        else [i / buckets for i in range(1, buckets)]
    parr = F.array(*[F.lit(p) for p in probs])
    brow = sdf.agg(*[
        F.approx_percentile(F.col(c).cast("double"), parr,
                            F.lit(accuracy)).alias(f"b{i}")
        for i, c in enumerate(hot)]).first()
    for i, c in enumerate(hot):
        edges = [float(b) for b in brow[f"b{i}"]]
        if as_values:
            inner = F.array(*[F.lit(b) for b in edges[1:-1]])
            earr = F.array(*[F.lit(b) for b in edges])
            idx = F.size(F.filter(
                inner, lambda b: b <= F.col(c).cast("double")))
            mid = (F.element_at(earr, idx + 1)
                   + F.element_at(earr, idx + 2)) / F.lit(2.0)
            sdf = sdf.withColumn(c, mid)
        else:
            arr = F.array(*[F.lit(b) for b in edges])
            sdf = sdf.withColumn(
                c, F.size(F.filter(
                    arr, lambda b: b <= F.col(c).cast("double"))))
    return sdf


def moment_stats(frame, x_col: str, y_col: str,
                 by: list[str] | None = None) -> SparkFrame:
    """Pearson correlation, sample covariance, and sample stddevs of two
    numeric columns, optionally per group — from exact decimal moment
    sums (n, Σx, Σy, Σx², Σy², Σxy), so the result is identical under
    any row order or partitioning:

        corr = (nΣxy − ΣxΣy) / sqrt((nΣx² − (Σx)²) (nΣy² − (Σy)²))
        cov  = (Σxy − ΣxΣy/n) / (n − 1)

    Output: by-cols + (n, corr, cov_samp, std_x, std_y), rounded to 6.
    """
    sdf = _plain(frame)
    x, y = _dec(x_col, 2), _dec(y_col, 2)
    aggs = [F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"), F.sum(y).alias("sy"),
            F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
            F.sum(x * y).alias("sxy")]
    grouped = sdf.groupBy(*(by or [])).agg(*aggs)
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    corr = (n * sxy - sx * sy) / F.sqrt(var_x * var_y)
    cov = (sxy - sx * sy / n) / (n - F.lit(1.0))
    std_x = F.sqrt(var_x / (n * (n - F.lit(1.0))))
    std_y = F.sqrt(var_y / (n * (n - F.lit(1.0))))
    out = grouped.select(
        *(by or []),
        F.col("n"),
        F.round(corr, 6).alias("corr"),
        F.round(cov, 6).alias("cov_samp"),
        F.round(std_x, 6).alias("std_x"),
        F.round(std_y, 6).alias("std_y"))
    return SparkFrame(out)


def moment_sums(frame, cols: list[str], by: list[str] | None = None) -> SparkFrame:
    """ONE-pass exact decimal moment sums for *k* columns, optionally per
    group: ``n``, first moments ``s_<i>``, and all cross moments
    ``s_<i>_<j>`` for ``i <= j`` (k + k(k+1)/2 sums total).

    This is the shared substrate for ``moment_stats`` (any single pair),
    ``corr_matrix`` (all pairs), and ``grouped_regression`` — a caller
    that needs several of those scans the table ONCE and derives each
    statistic from the tiny (#groups-row) sums table.

    Scale: one partial+final hash aggregation; the shuffle carries one
    row of k(k+3)/2 decimals per group, never raw rows. Decimal sums are
    exact and associative, so re-aggregating these sums (e.g. rolling
    groups up to a global row with ``F.sum``) is also exact — global
    statistics can be derived from per-group sums without rescanning.
    """
    sdf = _plain(frame)
    grouped = sdf.groupBy(*(by or [])).agg(*moment_agg_exprs(cols))
    return SparkFrame(grouped)


def moment_agg_exprs(cols: list[str]) -> list[Column]:
    """The aggregate expressions behind ``moment_sums`` — exposed so a
    caller can FUSE the moment pass into a wider single aggregation
    (e.g. one groupBy computing percentiles + moments + crosstab counts
    in one scan) and still feed every ``*_from_sums`` derivation.

    Built as expression strings (one py4j round trip per aggregate
    instead of ~6 — k=8 columns means 45 aggregates on the composite
    builders' critical path); the parsed trees equal the Column trees
    (same casts, same written order), so results are bit-identical."""
    dec = {c: f"CAST({sql_ident(c)} AS DECIMAL(38,2))" for c in cols}
    aggs = [F.expr("COUNT(1) AS n")]
    for i, ci in enumerate(cols):
        aggs.append(F.expr(f"SUM({dec[ci]}) AS s_{i}"))
        for j in range(i, len(cols)):
            aggs.append(F.expr(
                f"SUM(({dec[ci]} * {dec[cols[j]]})) AS s_{i}_{j}"))
    return aggs


def _pair_exprs(i: int, j: int):
    """corr / sample-cov / sample-std expressions for the (i, j) column
    pair of a ``moment_sums`` table — the same fixed double-arithmetic
    order as ``moment_stats`` so derived results are bit-identical."""
    corr, cov, std_x, std_y = _pair_sql(i, j)
    return F.expr(corr), F.expr(cov), F.expr(std_x), F.expr(std_y)


# SQL-string expression builders: every binary operation is explicitly
# parenthesized, so the parsed tree is the Column tree the formulas
# were originally written as — identical double-arithmetic order,
# bit-identical results — while the whole formula costs ONE py4j round
# trip instead of one per operator (the statistical branch builders
# run on a thread pool and were saturating the gateway).
def _dbl(c: str) -> str:
    return f"CAST({c} AS DOUBLE)"


def _num(v) -> str:
    """The SQL literal ``F.lit(v)`` builds for a Python number: a
    float is a DOUBLE (a bare ``0.5`` would parse as DECIMAL), an int
    stays integral."""
    if isinstance(v, float):
        return f"{v!r}D" if math.isfinite(v) else f"CAST('{v}' AS DOUBLE)"
    return str(int(v))


def _mul(a: str, b: str) -> str:
    return f"({a} * {b})"


def _sub(a: str, b: str) -> str:
    return f"({a} - {b})"


def _add(a: str, b: str) -> str:
    return f"({a} + {b})"


def _divs(a: str, b: str) -> str:
    return f"({a} / {b})"


def _sqrt(a: str) -> str:
    return f"SQRT({a})"


def _pair_sql(i: int, j: int) -> tuple[str, str, str, str]:
    """String twins of ``_pair_exprs`` — same written operation
    order."""
    n = _dbl("n")
    sx, sy = _dbl(f"s_{i}"), _dbl(f"s_{j}")
    sxx, syy = _dbl(f"s_{i}_{i}"), _dbl(f"s_{j}_{j}")
    sxy = _dbl(f"s_{min(i, j)}_{max(i, j)}")
    var_x = _sub(_mul(n, sxx), _mul(sx, sx))
    var_y = _sub(_mul(n, syy), _mul(sy, sy))
    corr = _divs(_sub(_mul(n, sxy), _mul(sx, sy)),
                 _sqrt(_mul(var_x, var_y)))
    cov = _divs(_sub(sxy, _divs(_mul(sx, sy), n)), _sub(n, "1.0D"))
    std_x = _sqrt(_divs(var_x, _mul(n, _sub(n, "1.0D"))))
    std_y = _sqrt(_divs(var_y, _mul(n, _sub(n, "1.0D"))))
    return corr, cov, std_x, std_y


def moment_stats_from_sums(sums, cols: list[str], x_col: str, y_col: str,
                           by: list[str] | None = None) -> SparkFrame:
    """Derive ``moment_stats``'s exact output (by + n, corr, cov_samp,
    std_x, std_y; rounded 6) from a precomputed ``moment_sums`` table —
    zero additional scans of the base data."""
    s = _plain(sums)
    ix, iy = cols.index(x_col), cols.index(y_col)
    corr, cov, std_x, std_y = _pair_exprs(ix, iy)
    out = s.select(
        *(by or []), F.col("n"),
        F.round(corr, 6).alias("corr"),
        F.round(cov, 6).alias("cov_samp"),
        F.round(std_x, 6).alias("std_x"),
        F.round(std_y, 6).alias("std_y"))
    return SparkFrame(out)


def corr_matrix(frame, cols: list[str], by: list[str] | None = None,
                sums=None) -> SparkFrame:
    """Long-format Pearson correlation matrix: one row per unordered
    column pair (upper triangle, ``col_x < col_y`` in *cols* order) with
    (by-cols, col_x, col_y, n, corr, cov_samp), all from ONE moment
    aggregation pass.

    Plan: the k(k-1)/2 pair rows are produced by exploding an inline
    array of structs over the (#groups-row) sums table — a pure
    projection, not a per-pair union, so the aggregation is planned (and
    run) exactly once even without caching. Pass *sums* (a
    ``moment_sums(cols, by)`` table) to share the pass with other
    derived statistics.
    """
    if sums is None:
        sums = moment_sums(frame, cols, by)
    s = _plain(sums)
    pairs = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            corr, cov, _, _ = _pair_sql(i, j)
            # column names land in SQL string literals: escape embedded
            # quotes so exotic names can't misparse (ADVICE r14)
            cx = cols[i].replace("\\", "\\\\").replace("'", "\\'")
            cy = cols[j].replace("\\", "\\\\").replace("'", "\\'")
            pairs.append(
                f"struct('{cx}' AS col_x, '{cy}' AS col_y, "
                f"ROUND({corr}, 6) AS corr, "
                f"ROUND({cov}, 6) AS cov_samp)")
    out = (s.select(*(by or []), F.col("n"),
                    F.explode(F.expr(f"array({', '.join(pairs)})"))
                    .alias("__p__"))
           .select(*(by or []),
                   F.col("__p__.col_x").alias("col_x"),
                   F.col("__p__.col_y").alias("col_y"),
                   F.col("n"),
                   F.col("__p__.corr").alias("corr"),
                   F.col("__p__.cov_samp").alias("cov_samp")))
    return SparkFrame(out)


def grouped_regression(frame, x_col: str, y_col: str,
                       by: list[str] | None = None,
                       sums=None, cols: list[str] | None = None) -> SparkFrame:
    """Per-group simple OLS fit ``y = intercept + slope * x`` from exact
    decimal moments (``regr_slope``/``regr_intercept``/``regr_r2``
    parity, but order-independent and cross-engine exact):

        slope     = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
        intercept = (Σy − slope·Σx) / n
        r2        = corr²

    Output: by-cols + (n, slope, intercept, r2), rounded to 6. Pass
    *sums* + *cols* (a ``moment_sums`` table and its column layout) to
    derive from a shared single pass; otherwise one aggregation scan.
    """
    if sums is None:
        cols = [x_col, y_col]
        sums = moment_sums(frame, cols, by)
    s = _plain(sums)
    ix, iy = cols.index(x_col), cols.index(y_col)
    # expr-string twins (same written operation order — see _pair_sql)
    n = _dbl("n")
    sx, sy = _dbl(f"s_{ix}"), _dbl(f"s_{iy}")
    sxx = _dbl(f"s_{ix}_{ix}")
    syy = _dbl(f"s_{iy}_{iy}")
    sxy = _dbl(f"s_{min(ix, iy)}_{max(ix, iy)}")
    var_x = _sub(_mul(n, sxx), _mul(sx, sx))
    var_y = _sub(_mul(n, syy), _mul(sy, sy))
    cov_n = _sub(_mul(n, sxy), _mul(sx, sy))
    slope = _divs(cov_n, var_x)
    intercept = _divs(_sub(sy, _mul(_divs(cov_n, var_x), sx)), n)
    r2 = _divs(_mul(cov_n, cov_n), _mul(var_x, var_y))
    out = s.select(
        *(by or []), F.col("n"),
        F.expr(f"ROUND({slope}, 6) AS slope"),
        F.expr(f"ROUND({intercept}, 6) AS intercept"),
        F.expr(f"ROUND({r2}, 6) AS r2"))
    return SparkFrame(out)


def chisq_cells(frame=None, row_col: str = None, col_col: str = None,
                cells=None) -> SparkFrame:
    """Per-cell chi-square-of-independence contributions for the
    (*row_col* × *col_col*) contingency table: observed count, expected
    count ``row_total · col_total / n``, and the cell term
    ``(observed − expected)² / expected``.

    The output is per-cell (not the summed statistic) deliberately:
    every value is a short fixed chain of double ops over exact integer
    counts, so it is deterministic on any engine; the scalar chi² is
    ``sum(chi2_term)`` over the handful of cells, summed client-side or
    in decimal if an exact total is needed.

    Plan: raw rows shuffle once into the cell-count hash aggregation
    (#cells rows); the row/column/grand totals are window sums over that
    tiny table — no second pass over the data. *cells*: optional
    precomputed (row_col, col_col, ``n_obs``) table (e.g. an unpivoted
    ``crosstab``) so a caller already counting cells adds zero scans.
    """
    from pyspark.sql import Window
    if cells is None:
        sdf = _plain(frame)
        cells = sdf.groupBy(row_col, col_col).agg(
            F.count(F.lit(1)).alias("n_obs"))
    else:
        cells = _plain(cells)
    # expr-string twins (same written operation order — see _pair_sql);
    # row/col names are user-supplied, so quote them as identifiers
    qr = sql_ident(row_col)
    qc = sql_ident(col_col)
    rt = f"CAST(SUM(n_obs) OVER (PARTITION BY {qr}) AS DOUBLE)"
    ct = f"CAST(SUM(n_obs) OVER (PARTITION BY {qc}) AS DOUBLE)"
    tot = "CAST(SUM(n_obs) OVER () AS DOUBLE)"
    e = _divs(_mul(rt, ct), tot)
    o = _dbl("n_obs")
    out = (cells
           .withColumn("expected", F.expr(e))
           .withColumn("chi2_term", F.expr(_divs(
               _mul(_sub(o, "expected"), _sub(o, "expected")),
               "expected")))
           .select(row_col, col_col, "n_obs",
                   F.expr("ROUND(expected, 6) AS expected"),
                   F.expr("ROUND(chi2_term, 6) AS chi2_term")))
    return SparkFrame(out)


def cramers_v(frame=None, row_col: str = None, col_col: str = None,
              cells=None, exact: bool = False,
              max_distinct: int = 10_000, buckets: int = 64) -> SparkFrame:
    """Cramér's V association strength for a (*row_col* × *col_col*)
    contingency table — the normalized effect size the raw chi-square
    lacks (0 = independent, 1 = perfectly associated; comparable
    across table shapes):

        V = sqrt( χ² / (n · (min(r, c) − 1)) )

    χ² comes from the observed-cells-only identity
    ``χ² = n · (Σ_cells o²/(row_tot·col_tot) − 1)`` — ``chisq_cells``'s
    per-cell terms omit EMPTY cells (which still contribute their
    expectation), so summing them under-counts sparse tables; the
    identity needs only occurring cells. Per-cell ratios quantize to
    12 decimals and sum as exact decimals (order-independent); totals
    are window sums over the tiny cell table — one hash aggregation of
    the base data total (zero when *cells* is precomputed).

    Output: one row (n, r, c, chi2, cramers_v), rounded 6.

    Continuous inputs: each axis above *max_distinct* distinct values
    auto-buckets to *buckets* equi-depth bins (``_cardinality_guard``)
    — a χ² over one-row-per-cell continuous data is meaningless AND
    cell-explosive; ``exact=True`` restores the unguarded plan.
    """
    from pyspark.sql import Window
    if cells is None:
        sdf = _cardinality_guard(_plain(frame), [row_col, col_col],
                                 exact, max_distinct, buckets)
        cells = sdf.groupBy(row_col, col_col).agg(
            F.count(F.lit(1)).alias("n_obs"))
    else:
        cells = _plain(cells)
    # expr-string twins (same written operation order — see _pair_sql);
    # row/col names are user-supplied, so quote them as identifiers
    qr = sql_ident(row_col)
    qc = sql_ident(col_col)
    rt = f"CAST(SUM(n_obs) OVER (PARTITION BY {qr}) AS DOUBLE)"
    ct = f"CAST(SUM(n_obs) OVER (PARTITION BY {qc}) AS DOUBLE)"
    o = _dbl("n_obs")
    ratio = _divs(_mul(o, o), _mul(rt, ct))
    terms = cells.select(
        row_col, col_col, "n_obs",
        F.expr(f"CAST(ROUND({ratio}, 12) AS DECIMAL(38,12)) AS __q__"))
    agg = terms.agg(
        F.expr("SUM(n_obs) AS n"),
        F.expr(f"COUNT(DISTINCT {qr}) AS r"),
        F.expr(f"COUNT(DISTINCT {qc}) AS c"),
        F.expr("SUM(__q__) AS Q"))
    n_d = _dbl("n")
    chi2 = _mul(n_d, _sub(_dbl("Q"), "1.0D"))
    denom = _mul(n_d, _sub("CAST(LEAST(r, c) AS DOUBLE)", "1.0D"))
    out = agg.select(
        F.expr("CAST(n AS BIGINT) AS n"),
        F.expr("CAST(r AS BIGINT) AS r"),
        F.expr("CAST(c AS BIGINT) AS c"),
        F.expr(f"ROUND({chi2}, 6) AS chi2"),
        # guard tiny negatives from the 12-decimal quantization when
        # the table is exactly independent (chi2 == 0)
        F.expr(f"ROUND(SQRT({_divs(f'GREATEST({chi2}, 0.0D)', denom)})"
               ", 6) AS cramers_v"))
    return SparkFrame(out)


def cohens_kappa(frame=None, rater_a: str = None, rater_b: str = None,
                 cells=None) -> SparkFrame:
    """Cohen's κ inter-rater agreement between two categorical label
    columns — the label-quality screen for any human- or model-labeled
    training set (raw percent agreement rewards majority-class spam;
    κ subtracts chance):

        κ = (p_o − p_e) / (1 − p_e),
        p_o = Σ_k n_kk / n,   p_e = Σ_k (row_k · col_k) / n²

    One hash aggregation to the contingency cells; the chance term
    Σ_k row_k·col_k comes from an inner join of the two marginal
    tables on the label (labels on only one side contribute 0), all
    sums exact integers in decimal — zero extra scans of the base
    data, the ``cramers_v`` plan shape.

    Output: one row (n, p_obs, p_exp, kappa), rounded 6. Perfect
    agreement → 1; chance-level → 0; systematic disagreement < 0;
    degenerate p_e = 1 (both raters constant and equal) → NULL.

    ``cells``: precomputed contingency cells (*rater_a*, *rater_b*,
    ``n_obs``) — the ``cramers_v``/``chisq_cells`` sharing hook, for
    when the cells fall out of an aggregation the caller already runs
    (zero scans of the base data here). The tiny cell table feeds
    three plan branches (marginals × 2 + diagonal); callers passing
    ``cells`` should hand in a persisted/checkpointed frame.
    """
    if cells is not None:
        cells = _plain(cells).select(
            F.col(rater_a).alias("__a__"),
            F.col(rater_b).alias("__b__"),
            F.col("n_obs").alias("__c__"))
    else:
        sdf = _plain(frame)
        cells = (sdf.groupBy(F.col(rater_a).alias("__a__"),
                             F.col(rater_b).alias("__b__"))
                 .agg(F.count(F.lit(1)).alias("__c__")))
    # expr-string twins (same written operation order — see _pair_sql)
    ra = (cells.groupBy("__a__").agg(F.expr("SUM(__c__) AS __ra__"))
          .select(F.col("__a__").alias("__k__"), "__ra__"))
    rb = (cells.groupBy("__b__").agg(F.expr("SUM(__c__) AS __rb__"))
          .select(F.col("__b__").alias("__k__"), "__rb__"))
    pe = (ra.join(rb, on="__k__")
          .agg(F.expr(
              "SUM(CAST((CAST(__ra__ AS DECIMAL(19,0)) * "
              "CAST(__rb__ AS DECIMAL(19,0))) AS DECIMAL(38,0))) "
              "AS __rc__")))
    agg = cells.agg(
        F.expr("SUM(__c__) AS n"),
        F.expr("SUM(CASE WHEN (__a__ = __b__) THEN __c__ ELSE 0 END) "
               "AS diag"))
    j = agg.crossJoin(F.broadcast(pe))
    n = _dbl("n")
    po = _divs(_dbl("diag"), n)
    pexp = _divs(_dbl("__rc__"), _mul(n, n))
    kappa = _divs(_sub(po, pexp), _sub("1.0D", pexp))
    out = j.select(
        F.expr("CAST(n AS BIGINT) AS n"),
        F.expr(f"ROUND({po}, 6) AS p_obs"),
        F.expr(f"ROUND({pexp}, 6) AS p_exp"),
        F.expr(f"ROUND(CASE WHEN ({pexp} < 1.0D) THEN {kappa} END, 6) "
               "AS kappa"))
    return SparkFrame(out)


def crosstab(frame, row_col: str, col_col: str,
             col_values: list[str]) -> SparkFrame:
    """Contingency table (``df.stat.crosstab`` equivalent) with an
    explicit pivot-value list: one row per ``row_col`` value, one count
    column per entry of ``col_values`` (named ``n_<value>``).

    The explicit value list keeps the plan single-pass (Spark's own
    crosstab first runs a distinct job to discover columns) and the
    output schema stable for oracles. One partial+final aggregation; the
    shuffle carries (row-value, counts-vector) rows only.
    """
    sdf = _plain(frame)
    aggs = [F.sum(F.when(F.col(col_col) == v, 1).otherwise(0))
            .cast("long").alias(f"n_{v}") for v in col_values]
    out = sdf.groupBy(row_col).agg(*aggs)
    return SparkFrame(out)


def top_frequent(frame, col: str, k: int = 5) -> SparkFrame:
    """Exact top-k most frequent values of a column (the deterministic
    replacement for ``df.stat.freqItems``'s sketch): count per value,
    rank by (count desc, value asc) — total order, reproducible anywhere.

    Plan: hash aggregate (partial+final) then a k-row TakeOrdered-style
    window over the aggregated (distinct-value-sized) table — the window
    input is #distinct values, never raw rows.
    """
    sdf = _plain(frame)
    counts = sdf.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window
    w = Window.orderBy(F.col("n").desc(), F.col(col).asc())
    out = (counts.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= k)
           .select(col, "n", "rank"))
    return SparkFrame(out)


def quantile_bins(frame, col: str, n_bins: int = 4,
                  by: list[str] | None = None,
                  output_col: str = "bin",
                  cuts=None) -> SparkFrame:
    """Equal-frequency discretization (QuantileDiscretizer analog): cut
    *col* at its exact ``i/n_bins`` percentiles (optionally per group)
    and label each row with its 1-based bin.

    Plan: one partial+final percentile aggregation produces a cutpoint
    array per group (#groups rows), broadcast back onto the input, and
    the bin label is ``1 + #cutpoints < value`` — a pure array
    expression, no second shuffle of the data. At 100 TB swap the exact
    percentile for ``sketch.kll_quantiles`` cutpoints; the assignment
    expression is unchanged.

    *cuts*: optional precomputed cutpoint table (by-cols + a ``__cuts__``
    sorted array<double> column) — lets a caller that also needs
    ``iqr_outliers`` fences derive BOTH from one shared percentile
    aggregation instead of two full passes.
    """
    sdf = _plain(frame)
    if cuts is None:
        probs = [i / n_bins for i in range(1, n_bins)]
        agg = F.percentile(
            F.col(col),
            F.array(*[F.lit(p) for p in probs])).alias("__cuts__")
        cuts = sdf.groupBy(*by).agg(agg) if by else sdf.agg(agg)
    else:
        cuts = _plain(cuts)
    joined = (sdf.join(F.broadcast(cuts), on=by) if by
              else sdf.crossJoin(F.broadcast(cuts)))
    label = F.lit(1) + F.size(F.filter(
        "__cuts__", lambda c: F.col(col) > c))
    return SparkFrame(joined.withColumn(output_col, label)
                      .drop("__cuts__"))


def iqr_outliers(frame, col: str, by: list[str] | None = None,
                 k: float = 1.5, quartiles=None) -> SparkFrame:
    """Tukey-fence outlier flagging: rows outside
    ``[q1 - k*IQR, q3 + k*IQR]`` (optionally per group).

    Same plan as ``quantile_bins``: one exact-percentile aggregation for
    the fences (swap in ``sketch.kll_quantiles`` at scale), broadcast
    back, and a pure comparison expression — adds an ``is_outlier``
    boolean plus the fences to every row, no second shuffle.

    *quartiles*: optional precomputed table (by-cols + ``__q__`` =
    array<double>[q1, q3]) — share one percentile aggregation with
    ``quantile_bins`` instead of scanning twice.
    """
    sdf = _plain(frame)
    if quartiles is None:
        agg = F.percentile(F.col(col),
                           F.array(F.lit(0.25), F.lit(0.75))).alias("__q__")
        fences = sdf.groupBy(*by).agg(agg) if by else sdf.agg(agg)
    else:
        fences = _plain(quartiles)
    joined = (sdf.join(F.broadcast(fences), on=by) if by
              else sdf.crossJoin(F.broadcast(fences)))
    q1, q3 = F.col("__q__")[0], F.col("__q__")[1]
    lo = q1 - F.lit(k) * (q3 - q1)
    hi = q3 + F.lit(k) * (q3 - q1)
    out = (joined
           .withColumn("fence_lo", F.round(lo, 6))
           .withColumn("fence_hi", F.round(hi, 6))
           .withColumn("is_outlier",
                       (F.col(col) < lo) | (F.col(col) > hi))
           .drop("__q__"))
    return SparkFrame(out)


def quantile_bins_percentile_probs(n_bins: int = 4) -> list[float]:
    """The probability layout ``quantile_bins_outliers`` aggregates:
    bin cutpoints ``i/n_bins`` followed by the Tukey quartiles
    (0.25, 0.75) — for callers precomputing the ``__p__`` array inside
    a wider fused aggregation."""
    return [i / n_bins for i in range(1, n_bins)] + [0.25, 0.75]


def quantile_bins_outliers(frame, col: str, n_bins: int = 4,
                           by: list[str] | None = None, k: float = 1.5,
                           output_col: str = "bin",
                           stats=None) -> SparkFrame:
    """Fused ``quantile_bins`` + ``iqr_outliers``: ONE exact-percentile
    aggregation computes both the bin cutpoints (``i/n_bins``) and the
    Tukey quartiles (0.25/0.75) per group, broadcast back once — so a
    caller needing both labels and outlier flags scans the table twice
    total (stats pass + labeling pass) instead of four times.

    Per-row output matches the composition exactly: *output_col* (1-based
    bin), ``fence_lo``/``fence_hi`` (rounded 6), ``is_outlier`` —
    ``percentile(col, array(...))`` interpolates each probability
    independently, so the shared array yields the identical cutpoint and
    quartile doubles the separate operators produce.

    *stats*: optional precomputed table (by-cols + ``__p__`` laid out
    per ``quantile_bins_percentile_probs(n_bins)``) — lets a caller
    fuse this operator's percentile aggregation into a wider one-scan
    aggregate (moments, crosstab counts, …) and skip the scan here.
    """
    sdf = _plain(frame)
    qcol = sql_ident(col)
    bin_probs = [i / n_bins for i in range(1, n_bins)]
    probs = bin_probs + [0.25, 0.75]
    if stats is None:
        agg = F.expr(f"percentile({qcol}, array("
                     f"{', '.join(map(_num, probs))}), 1) AS __p__")
        stats = sdf.groupBy(*by).agg(agg) if by else sdf.agg(agg)
    else:
        stats = _plain(stats)
    joined = (sdf.join(F.broadcast(stats), on=by) if by
              else sdf.crossJoin(F.broadcast(stats)))
    nb = len(bin_probs)
    label = (f"(1 + size(filter(slice(__p__, 1, {nb}), "
             f"__cut__ -> ({qcol} > __cut__))))")
    q1, q3 = f"__p__[{nb}]", f"__p__[{nb + 1}]"
    lo = _sub(q1, _mul(_num(k), _sub(q3, q1)))
    hi = _add(q3, _mul(_num(k), _sub(q3, q1)))
    out = (joined
           .withColumn(output_col, F.expr(label))
           .withColumn("fence_lo", F.expr(f"round({lo}, 6)"))
           .withColumn("fence_hi", F.expr(f"round({hi}, 6)"))
           .withColumn("is_outlier", F.expr(
               f"(({qcol} < {lo}) OR ({qcol} > {hi}))"))
           .drop("__p__"))
    return SparkFrame(out)


def mad_outliers(frame, col: str, by: list[str] | None = None,
                 k: float = 3.0, consistency: float = 1.4826,
                 medians=None) -> SparkFrame:
    """Robust outlier flagging via the Median Absolute Deviation: rows
    with ``|x - median| > k * consistency * MAD`` (optionally per
    group). MAD = median(|x - median|); the 1.4826 factor makes it a
    consistent σ estimator under normality, so the default k=3 mirrors
    a 3-sigma rule that — unlike Tukey fences on the IQR — stays
    stable with up to 50% contamination.

    Two exact-percentile aggregations are INHERENT (the deviation
    median depends on the data median), each a partial+final hash agg
    to #groups rows broadcast back onto the input — the input shuffles
    zero times; only the two tiny stat tables move. At 100 TB swap
    each exact ``percentile`` for ``sketch.kll_quantiles`` (same
    broadcast-back shape), at the documented <1% rank-error cost.

    Per-row output: col, the group median, ``mad`` (both rounded 6)
    and ``is_mad_outlier``. A constant group (MAD = 0) flags any
    deviation from the median, matching the estimator's definition.

    *medians*: optional precomputed table (by-cols + ``__med__``) —
    callers that already ran a percentile aggregation (e.g. the fused
    ``quantile_bins_outliers`` stats pass, whose prob layout carries
    0.5) skip the first scan entirely.
    """
    sdf = _plain(frame)
    qcol = sql_ident(col)
    if medians is None:
        med_agg = F.expr(f"percentile({qcol}, 0.5D, 1) AS __med__")
        meds = sdf.groupBy(*by).agg(med_agg) if by else sdf.agg(med_agg)
    else:
        meds = _plain(medians)
    with_med = (sdf.join(F.broadcast(meds), on=by) if by
                else sdf.crossJoin(F.broadcast(meds)))
    dev = f"abs({_sub(qcol, '__med__')})"
    mad_agg = F.expr(f"percentile({dev}, 0.5D, 1) AS __mad__")
    mads = (with_med.groupBy(*by).agg(mad_agg) if by
            else with_med.agg(mad_agg))
    joined = (with_med.join(F.broadcast(mads), on=by) if by
              else with_med.crossJoin(F.broadcast(mads)))
    thresh = _mul(_mul(_num(k), _num(consistency)), "__mad__")
    out = (joined
           .withColumn("median", F.expr("round(__med__, 6)"))
           .withColumn("mad", F.expr("round(__mad__, 6)"))
           .withColumn("is_mad_outlier", F.expr(f"({dev} > {thresh})"))
           .drop("__med__", "__mad__"))
    return SparkFrame(out)


def global_avg_ranks(frame, col: str, npart: int | None = None) -> SparkFrame:
    """PER-VALUE global average ranks (fractional / tie-averaged, the
    Spearman convention): for each distinct value ``v``,

        avg_rank(v) = #{x < v} + (count(v) + 1) / 2.

    NO single-partition global window: the distinct-value table is
    range-partitioned, the strictly-less cumulative count runs inside
    each partition, and cross-partition offsets come from a
    #partitions-row carry table built with one tiny global window and
    broadcast back (the ``asof_join`` unkeyed-fill recipe). Equal
    values co-locate under range partitioning, so tie groups never
    straddle the offset boundary. Shuffle ledger: one value-count
    aggregation + one range repartition of the value table.

    Output: (col, ``cnt``, ``avg_rank`` as double — ranks are exact
    k/2 halves, so downstream decimal aggregation stays exact).
    """
    sdf = _plain(frame)
    spark = sdf.sparkSession
    npart = npart or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # expr-string twins (same written operation order — see _pair_sql);
    # *col* is user-supplied, so quote it as an identifier
    qcol = sql_ident(col)
    vals = sdf.groupBy(col).agg(F.expr("COUNT(1) AS cnt"))
    parted = (vals.repartitionByRange(npart, F.col(col))
              .sortWithinPartitions(F.col(col).asc())
              .withColumn("__pid__", F.expr("spark_partition_id()")))
    less_in = (f"COALESCE(SUM(cnt) OVER (PARTITION BY __pid__ ORDER BY "
               f"{qcol} ASC ROWS BETWEEN UNBOUNDED PRECEDING AND "
               f"1 PRECEDING), 0)")
    pid_tot = parted.groupBy("__pid__").agg(F.expr("SUM(cnt) AS __n__"))
    carry = pid_tot.select(
        "__pid__",
        F.expr("COALESCE(SUM(__n__) OVER (ORDER BY __pid__ ASC ROWS "
               "BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
               "AS __off__"))
    out = (parted.withColumn("__less__", F.expr(less_in))
           .join(F.broadcast(carry), on="__pid__")
           .select(col, "cnt",
                   F.expr("(CAST((__less__ + __off__) AS DOUBLE) + "
                          "((CAST(cnt AS DOUBLE) + 1.0D) / 2.0D)) "
                          "AS avg_rank")))
    return SparkFrame(out)


def spearman_corr(frame, x_col: str, y_col: str) -> SparkFrame:
    """Spearman rank correlation: Pearson over tie-averaged global
    ranks — the standard robust alternative when the relationship is
    monotone but not linear, or outliers poison Pearson.

    Ranks come from ``global_avg_ranks`` (range-partitioned, no global
    window) and attach back to rows by value equi-joins (broadcast
    when the distinct-value table is small — Catalyst/AQE decides);
    the Pearson step aggregates DECIMAL moment sums of the rank pairs
    (ranks are exact halves, so sums are exact and order-independent,
    matching the engine's moment_stats determinism contract).

    Output: one row (n, rho rounded 6).
    """
    sdf = _plain(frame).select(x_col, y_col)
    rx = _plain(global_avg_ranks(sdf, x_col)).select(
        x_col, F.col("avg_rank").alias("__rx__"))
    ry = _plain(global_avg_ranks(sdf, y_col)).select(
        y_col, F.col("avg_rank").alias("__ry__"))
    ranked = sdf.join(rx, on=x_col).join(ry, on=y_col)
    # expr-string twins (same written operation order — see _pair_sql)
    dx = "CAST(__rx__ AS DECIMAL(38,1))"
    dy = "CAST(__ry__ AS DECIMAL(38,1))"
    agg = ranked.agg(
        F.expr("COUNT(1) AS n"),
        F.expr(f"SUM({dx}) AS sx"), F.expr(f"SUM({dy}) AS sy"),
        F.expr(f"SUM(({dx} * {dx})) AS sxx"),
        F.expr(f"SUM(({dy} * {dy})) AS syy"),
        F.expr(f"SUM(({dx} * {dy})) AS sxy"))
    n = _dbl("n")
    sx, sy, sxy = _dbl("sx"), _dbl("sy"), _dbl("sxy")
    sxx, syy = _dbl("sxx"), _dbl("syy")
    rho = _divs(_sub(_mul(n, sxy), _mul(sx, sy)),
                _sqrt(_mul(_sub(_mul(n, sxx), _mul(sx, sx)),
                           _sub(_mul(n, syy), _mul(sy, sy)))))
    return SparkFrame(agg.select(F.expr("CAST(n AS BIGINT) AS n"),
                                 F.expr(f"ROUND({rho}, 6) AS rho")))


def anova_oneway(frame, val_col: str, group_col: str,
                 sums=None, cols: list[str] | None = None) -> SparkFrame:
    """One-way ANOVA F-test across ALL groups at once — the k-group
    companion to ``welch_t_test``'s pairwise screen ("does the group
    factor explain any variance at all?"):

        SSB = Σ_g (Σx_g)²/n_g − S²/N      (between groups)
        SSW = Q − Σ_g (Σx_g)²/n_g          (within groups)
        F   = (SSB/(k−1)) / (SSW/(N−k))
        η²  = SSB / (SSB + SSW)            (effect size)

    Everything derives from per-group (n, Σx, Σx²): pass a
    ``moment_sums(cols, by=[group_col])`` table (+ its *cols* layout)
    and this is ONE aggregation of the #groups-row table with zero
    scans of the base data (the s_stats shared-pass pattern); without
    *sums* it costs one aggregation. Per-group ratio terms quantize to
    12 decimals before the cross-group sum (order-independent exact
    aggregation — group sum order is engine-dependent otherwise), the
    repo's standard determinism recipe.

    Output: one row (k, n, f_stat, eta_sq), rounded 6.
    """
    if sums is None:
        cols = [val_col]
        sums = moment_sums(frame, cols, by=[group_col])
    elif cols is None:
        raise ValueError("cols is required when sums is provided")
    s = _plain(sums)
    i = cols.index(val_col)
    # expr-string twins (same written operation order — see _pair_sql)
    n_g, sx = _dbl("n"), _dbl(f"s_{i}")
    term = (f"CAST(ROUND({_divs(_mul(sx, sx), n_g)}, 12) "
            f"AS DECIMAL(38,12))")
    agg = s.agg(
        F.expr("COUNT(1) AS k"),
        F.expr("SUM(n) AS N"),
        F.expr(f"SUM(s_{i}) AS S"),
        F.expr(f"SUM(s_{i}_{i}) AS Q"),
        F.expr(f"SUM({term}) AS T"))
    k, N = _dbl("k"), _dbl("N")
    S, Q, T = _dbl("S"), _dbl("Q"), _dbl("T")
    ssb = _sub(T, _divs(_mul(S, S), N))
    ssw = _sub(Q, T)
    f_stat = _divs(_divs(ssb, _sub(k, "1.0D")),
                   _divs(ssw, _sub(N, k)))
    eta = _divs(ssb, _add(ssb, ssw))
    out = agg.select(
        F.expr("CAST(k AS BIGINT) AS k"),
        F.expr("CAST(N AS BIGINT) AS n"),
        F.expr(f"ROUND({f_stat}, 6) AS f_stat"),
        F.expr(f"ROUND({eta}, 6) AS eta_sq"))
    return SparkFrame(out)


def mann_whitney_u(frame, val_col: str, group_col: str,
                   exact: bool = False, max_distinct: int = 10_000,
                   buckets: int = 1024) -> SparkFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) between every PAIR of groups
    — the non-parametric sibling of ``welch_t_test`` for skewed /
    ordinal metrics where mean comparisons mislead.

    Computed from per-(group, value) counts, not per-row ranks:

        U₁ = Σ_{v₁∈g1, v₂∈g2} c₁c₂·([v₂ < v₁] + ½[v₂ = v₁])

    with the tie-corrected normal approximation

        z = (U₁ − n₁n₂/2) / sqrt(n₁n₂/12 · ((n+1) − Σ(t³−t)/(n(n−1))))

    (t = tie-group sizes in the pooled pair sample). The value-count
    table has (#groups × #distinct values) rows — ONE hash aggregation
    of the base data; the pairwise inequality self-join and the tie
    sum run over that tiny table only. The right shape for discrete /
    low-cardinality metrics (scores, counts, quantities); a continuous
    *val_col* above *max_distinct* distinct values AUTO-BUCKETS to
    *buckets* equi-depth bins (``_cardinality_guard`` — order-
    preserving midrank approximation, so U/z stay O(1/buckets)-
    accurate); ``exact=True`` restores the unguarded plan. The join
    is quadratic in DISTINCT VALUES, never in rows.

    Pairs are emitted once (g1 < g2); fixed double-arithmetic order
    and 12-decimal quantization of cross-value partial sums keep both
    engines bit-identical.

    Output: (g1, g2, n1, n2, u1, z), rounded 6.
    """
    sdf = _cardinality_guard(_plain(frame), [val_col],
                             exact, max_distinct, buckets)
    vc = (sdf.groupBy(group_col, F.col(val_col).alias("__v__"))
          .agg(F.count(F.lit(1)).alias("__c__")))
    a = vc.select(F.col(group_col).alias("g1"),
                  F.col("__v__").alias("v1"), F.col("__c__").alias("c1"))
    b = vc.select(F.col(group_col).alias("g2"),
                  F.col("__v__").alias("v2"), F.col("__c__").alias("c2"))
    pairs = a.join(b, on=F.col("g1") < F.col("g2"))
    # expr-string twins (same written operation order — see _pair_sql)
    c1, c2 = _dbl("c1"), _dbl("c2")
    u_term = (f"CASE WHEN (v2 < v1) THEN {_mul(c1, c2)} ELSE "
              f"CASE WHEN (v2 = v1) THEN {_divs(_mul(c1, c2), '2.0D')} "
              f"ELSE 0.0D END END")
    per_pair = (pairs.groupBy("g1", "g2")
                .agg(F.expr(f"SUM(CAST(ROUND({u_term}, 12) AS "
                            "DECIMAL(38,12))) AS __u__")))
    ns = vc.groupBy(group_col).agg(F.sum("__c__").alias("__n__"))
    both_g = (ns.select(F.col(group_col).alias("g1"),
                        F.col("__n__").alias("n1"))
              .join(ns.select(F.col(group_col).alias("g2"),
                              F.col("__n__").alias("n2")),
                    on=F.col("g1") < F.col("g2")))
    # pooled per-(pair, value) counts: replicate each group's value
    # counts to every pair containing it, sum within the pair
    gv = vc.select(F.col(group_col).alias("__g__"), "__v__", "__c__")
    pv = (both_g.select("g1", "g2")
          .join(gv, on=F.col("g1") == F.col("__g__"))
          .unionByName(both_g.select("g1", "g2")
                       .join(gv, on=F.col("g2") == F.col("__g__")))
          .groupBy("g1", "g2", "__v__")
          .agg(F.expr("CAST(SUM(__c__) AS DOUBLE) AS __t__")))
    # per-value t³−t is deterministic double arithmetic; quantize to
    # decimal before the cross-value sum (order-independent, the repo's
    # determinism recipe)
    ties = (pv.groupBy("g1", "g2")
            .agg(F.expr("SUM(CAST(ROUND((((__t__ * __t__) * __t__) - "
                        "__t__), 6) AS DECIMAL(38,6))) AS __ts__")))
    out = (per_pair.join(ties, on=["g1", "g2"])
           .join(both_g, on=["g1", "g2"])
           .select("g1", "g2", "n1", "n2",
                   F.expr("CAST(__u__ AS DOUBLE) AS u1"),
                   F.expr("CAST(__ts__ AS DOUBLE) AS __ts__")))
    n1, n2 = _dbl("n1"), _dbl("n2")
    nn = _add(n1, n2)
    mu = _divs(_mul(n1, n2), "2.0D")
    var = _mul(_divs(_mul(n1, n2), "12.0D"),
               _sub(_add(nn, "1.0D"),
                    _divs("__ts__", _mul(nn, _sub(nn, "1.0D")))))
    z = _divs(_sub("u1", mu), _sqrt(var))
    out = out.select(
        "g1", "g2",
        F.expr("CAST(n1 AS BIGINT) AS n1"),
        F.expr("CAST(n2 AS BIGINT) AS n2"),
        F.expr("ROUND(u1, 6) AS u1"),
        F.expr(f"ROUND({z}, 6) AS z"))
    return SparkFrame(out)


def poisson_bootstrap_ci(frame, col: str, id_col: str,
                         n_replicates: int = 100,
                         alpha: float = 0.05,
                         by: list[str] | None = None,
                         salt: str = "boot") -> SparkFrame:
    """Bootstrap confidence interval for the MEAN of a column via the
    Poisson bootstrap — the one bootstrap that works at 100 TB
    (Chamandy et al., Google; public technique): classical resampling
    needs n draws WITH replacement per replicate (a shuffle per
    replicate), while Poisson(1) per-row weights approximate the
    multinomial resample exactly as n → ∞ and need only ONE pass.

    Each row contributes weight ``w_r ~ Poisson(1)`` to replicate r,
    derived deterministically from ``md5(id‖r‖salt)`` by inverse-CDF
    thresholding (weights 0..7 cover 1−4e−6 of the mass) — no RNG, so
    retries/engines agree. All R weights are ONE array expression per
    row (a ``transform`` over ``sequence(0, R−1)``), exploded to
    (group, r, w·x, w) and hash-aggregated: map-side partial combine
    collapses each partition to #groups × R rows before the shuffle,
    so shuffle volume is partitions × groups × R tiny rows — never
    R × data. (The 2R-separate-aggregate formulation has the same
    volume but compiles a ~2R-expression tree; measured 5.3s of
    driver codegen at R = 40 — the array form compiles once.)

    ``by`` computes an independent interval per group (one row per
    group). The replicate fold is a SECOND Spark aggregation over the
    #groups × R partial rows (sorted collect_list of R replicate
    means per group — R-sized state per group, never collected to the
    driver), so a high-cardinality ``by`` (per-domain CIs over a
    100 TB corpus: 10M groups × 100 replicates) streams through the
    shuffle instead of OOMing the driver. Nothing here calls
    ``collect``; the result is a lazy frame.

    Output: (by cols +) (n, mean, lo, hi, n_replicates) —
    ``lo``/``hi`` the (α/2, 1−α/2) percentile bounds, rounded 6.
    """
    sdf = _plain(frame)
    # Poisson(1) CDF thresholds for k = 0..7
    cum, acc = [], 0.0
    for k in range(8):
        acc += math.exp(-1.0) / math.factorial(k)
        cum.append(acc)
    thresholds = f"array({', '.join(map(_num, cum))})"
    salt_lit = "'|" + salt.replace("\\", "\\\\").replace("'", "\\'") + "'"

    def weight(r: str) -> str:
        """Poisson(1) weight for replicate *r* (an expression). ONE md5
        digest serves FOUR replicates (32-bit lanes of the 128-bit
        digest — md5 bits are independent, so the replicate weights
        are too): 4x fewer hash evaluations per row than the
        digest-per-replicate form (round 8, measured — the md5+conv
        chain was the bootstrap's per-row cost)."""
        digest = (f"md5(concat(CAST({sql_ident(id_col)} AS STRING), "
                  f"'|', CAST(CAST(FLOOR(({r} / 4)) AS INT) AS STRING), "
                  f"{salt_lit}))")
        lane = f"CAST(({r} % 4) AS INT)"
        h = f"conv(substring({digest}, (({lane} * 8) + 1), 8), 16, 10)"
        u = _divs(_dbl(h), _num(float(1 << 32)))
        return (f"CAST(size(filter({thresholds}, "
                f"__thr__ -> (__thr__ < {u}))) AS DECIMAL(19,0))")

    x = f"CAST({sql_ident(col)} AS DECIMAL(28,6))"
    # count/weight only non-null values: a NULL x contributes neither to
    # the point mean nor to any replicate (sum(w*x) already drops it; the
    # weight sum must agree or replicate means are deflated)
    rw = (f"explode(transform(sequence(0, {n_replicates - 1}), "
          f"__rep__ -> struct(__rep__ AS r, CASE WHEN ({x} IS NOT NULL) "
          f"THEN {weight('__rep__')} END AS w))) AS rw")
    # the R-way explode multiplies per-partition CPU work R-fold; a
    # small-file input (1-2 partitions) would serialize it on one core,
    # so spread the slim projection first (a shuffle of (by, x, id)
    # only — at real scale inputs already have many partitions and
    # this is a no-op)
    para = sdf.sparkSession.sparkContext.defaultParallelism
    if sdf.rdd.getNumPartitions() < min(8, para):
        sdf = sdf.repartition(min(8, para))
    by_q = [sql_ident(c) for c in by or []]
    per_rep = (sdf.selectExpr(*by_q, f"{x} AS __x__", rw)
               .groupBy(*(by or []), F.expr("rw.r AS __r__"))
               .agg(F.expr("count(__x__) AS n"),
                    F.expr("sum(__x__) AS s"),
                    F.expr("sum((rw.w * __x__)) AS sw"),
                    F.expr("sum(rw.w) AS w")))
    # fold the R rows per group back into one record each — a SECOND
    # hash aggregation, still in Spark (base n/s are identical across
    # a group's replicates: max() reads them off any row). Replicates
    # with zero/NULL total weight (tiny group) contribute a NULL
    # rep_mean, which collect_list drops — mirroring the classical
    # "skip degenerate replicate" rule.
    rep_mean = (f"CASE WHEN (w > 0) THEN "
                f"{_divs(_dbl('sw'), _dbl('w'))} END")
    agg = (per_rep.withColumn("__rm__", F.expr(rep_mean))
           .groupBy(*(by or []))
           .agg(F.expr("max(n) AS n"), F.expr("max(s) AS s"),
                F.expr("sort_array(collect_list(__rm__)) AS __ms__")))
    # an empty ungrouped input produces zero aggregate rows — LEFT-join
    # from a one-row frame to synthesize the single empty record
    # relationally (the grouped path correctly yields zero rows)
    if not by:
        agg = (sdf.sparkSession.range(1).selectExpr("1 AS __k__")
               .join(agg.withColumn("__k__", F.lit(1)), "__k__", "left")
               .drop("__k__"))
    cnt = "size(__ms__)"
    # index-percentile bounds — the exact floor/ceil/clamp arithmetic
    # the oracle SQL mirrors (see __spark_entry__'s bootstrap oracle)
    lo_i = (f"greatest(CAST(0 AS BIGINT), "
            f"FLOOR({_mul(_num(alpha / 2), cnt)}))")
    hi_i = (f"least(CAST({_sub(cnt, '1')} AS BIGINT), "
            f"{_sub(f'CEIL({_mul(_num(1 - alpha / 2), cnt)})', '1')})")
    ok = f"((coalesce(n, 0) > 0) AND ({cnt} > 0))"

    def bound(i: str) -> str:
        return (f"CASE WHEN {ok} THEN round(element_at(__ms__, "
                f"CAST({_add(i, '1')} AS INT)), 6) END")
    out = agg.selectExpr(
        *by_q,
        "CAST(coalesce(n, 0) AS BIGINT) AS n",
        f"CASE WHEN {ok} THEN round({_divs(_dbl('s'), 'n')}, 6) END "
        "AS mean",
        f"{bound(lo_i)} AS lo", f"{bound(hi_i)} AS hi",
        f"CAST({n_replicates} AS INT) AS n_replicates")
    return SparkFrame(out)


def population_stability_index(frame_ref, frame_cur, col: str,
                               n_bins: int = 10,
                               min_frac: float = 1e-4) -> SparkFrame:
    """PSI drift report between a reference snapshot and the current
    one — the standard data-drift alarm for features and model scores
    (PSI < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 investigate):

        PSI = Σ_bins (p_cur − p_ref) · ln(p_cur / p_ref)

    Bins are the REFERENCE's exact equi-frequency quantile cuts
    (drift is measured against where the reference mass sat), with
    ±∞ edge bins so current values outside the reference range are
    counted, and both fractions floored at *min_frac* (the standard
    guard — an empty bin would send the log term to ±∞).

    Plan: one percentile aggregation on the reference (tiny,
    broadcast as literals), one O(bins) boundary-count projection +
    hash aggregation per side, and a #bins-row join — three scans
    total, nothing data-sized moves.

    Output: per-bin rows (bin, lo, n_ref, n_cur, p_ref, p_cur,
    psi_term) + the roll-up is ``sum(psi_term)`` — left to the caller
    so the per-bin attribution (WHICH bins drifted) stays visible.
    """
    ref = _plain(frame_ref)
    cur = _plain(frame_cur)
    probs = [i / n_bins for i in range(1, n_bins)]
    # the cut array stays a LAZY one-row relation broadcast into both
    # binning passes — no driver round-trip (at a 1000-executor scale
    # an eager .first() here both serializes the pipeline on the
    # driver and re-runs the percentile when the plan is retried)
    # expr-string twins (same written operation order — see _pair_sql);
    # *col* is user-supplied, so quote it as an identifier
    qcol = sql_ident(col)
    parr = "array(" + ",".join(f"CAST('{p!r}' AS DOUBLE)"
                               for p in probs) + ")"
    cuts = ref.agg(F.expr(
        f"percentile(CAST({qcol} AS DOUBLE), {parr}) AS __cuts__"))

    def binned(sdf):
        idx = (f"size(filter(__cuts__, "
               f"b -> (b <= CAST({qcol} AS DOUBLE))))")
        return (sdf.crossJoin(F.broadcast(cuts))
                .select(F.expr(f"{idx} AS bin"))
                .groupBy("bin").agg(F.expr("COUNT(1) AS n")))

    a = binned(ref).select("bin", F.col("n").alias("n_ref"))
    b = binned(cur).select("bin", F.col("n").alias("n_cur"))
    j = (a.join(b, on="bin", how="full").na.fill(0, ["n_ref", "n_cur"])
         .crossJoin(F.broadcast(cuts)))
    mf = f"CAST('{min_frac!r}' AS DOUBLE)"
    p_r = f"GREATEST((n_ref / SUM(n_ref) OVER ()), {mf})"
    p_c = f"GREATEST((n_cur / SUM(n_cur) OVER ()), {mf})"
    # bin 0's lower edge is -inf; bin i>0 starts at cut i
    lo = ("CASE WHEN (bin = 0) THEN CAST('-Infinity' AS DOUBLE) "
          "ELSE element_at(__cuts__, CAST(bin AS INT)) END")
    out = (j.select(
        F.expr("CAST(bin AS INT) AS bin"),
        F.expr(f"ROUND({lo}, 6) AS lo"),
        F.expr("CAST(n_ref AS BIGINT) AS n_ref"),
        F.expr("CAST(n_cur AS BIGINT) AS n_cur"),
        F.expr(f"ROUND({p_r}, 6) AS p_ref"),
        F.expr(f"ROUND({p_c}, 6) AS p_cur"),
        F.expr(f"ROUND((({p_c} - {p_r}) * LN(({p_c} / {p_r}))), 6) "
               "AS psi_term")))
    return SparkFrame(out)


def target_encode(frame, cat_col: str, target_col: str,
                  smoothing: float = 20.0,
                  out_col: str | None = None) -> SparkFrame:
    """Smoothed target (mean) encoding of a categorical column — the
    tabular-ML feature that replaces a high-cardinality category with
    its target mean, shrunk toward the global mean so rare categories
    don't memorize noise:

        enc(c) = (Σ_c y + m · ȳ) / (n_c + m)        (m = *smoothing*)

    Scale: one hash aggregation to the #categories table + one global
    mean (decimal-exact sums, order-independent), then a broadcast-or-
    AQE join back — the per-category table is tiny next to the data.
    Leakage note: this is the FIT-ON-TRAIN artifact; compute it on the
    training split (``kfold_split``/``hash_split``) and join onto
    validation — never fit on the full set.

    Output: all input columns + ``<cat>_enc`` (rounded 6).
    """
    out_col = out_col or f"{cat_col}_enc"
    sdf = _plain(frame)
    y = f"CAST({sql_ident(target_col)} AS DECIMAL(28,6))"
    per = (sdf.groupBy(cat_col)
           .agg(F.expr("COUNT(1) AS __n__"),
                F.expr(f"SUM({y}) AS __s__")))
    g = sdf.agg(F.expr("COUNT(1) AS __gn__"),
                F.expr(f"SUM({y}) AS __gs__"))
    gmean = _divs(_dbl("__gs__"), _dbl("__gn__"))
    sm = _num(smoothing)
    enc = _divs(_add(_dbl("__s__"), _mul(sm, gmean)),
                _add(_dbl("__n__"), sm))
    table = (per.crossJoin(F.broadcast(g))
             .selectExpr(sql_ident(cat_col),
                         f"round({enc}, 6) AS {sql_ident(out_col)}"))
    out = sdf.join(F.broadcast(table), on=cat_col, how="left")
    return SparkFrame(out)


def winsorize(frame, col: str, lower: float = 0.05, upper: float = 0.95,
              by: list[str] | None = None, bounds=None) -> SparkFrame:
    """Winsorization: clip *col* at its [*lower*, *upper*] exact
    percentiles (per group when *by* is given) — the standard outlier
    taming before means/regressions that must not be poisoned by tails
    (the keep-the-row alternative to ``iqr_outliers`` filtering).

    Adds ``<col>_wins`` next to the original column. Plan: ONE exact
    percentile aggregation (tiny, broadcast back) + a narrow clip
    projection — two scans, no data shuffle; pass a precomputed
    *bounds* table ((by cols +) ``__lo__``, ``__hi__``) to reuse a
    shared percentile pass and make it one scan (the s_stats
    shared-pass convention).
    """
    sdf = _plain(frame)
    x = _dbl(sql_ident(col))
    if bounds is None:
        pct = F.expr(f"percentile({sql_ident(col)}, array({_num(lower)}, "
                     f"{_num(upper)}), 1) AS __p__")
        b = sdf.groupBy(*by).agg(pct) if by else sdf.agg(pct)
        bounds = b.selectExpr(*map(sql_ident, by or []),
                              "__p__[0] AS __lo__", "__p__[1] AS __hi__")
    else:
        bounds = _plain(bounds)
    # left join: keep-the-row contract holds for NULL-keyed rows too —
    # they get no bounds row, so __lo__/__hi__ are NULL and the clip
    # below passes the value through unchanged
    joined = (sdf.join(F.broadcast(bounds), on=by, how="left") if by
              else sdf.crossJoin(F.broadcast(bounds)))
    clipped = (f"CASE WHEN (__lo__ IS NULL) THEN {x} "
               f"ELSE least(greatest({x}, __lo__), __hi__) END")
    out = (joined.withColumn(f"{col}_wins", F.expr(clipped))
           .drop("__lo__", "__hi__"))
    return SparkFrame(out)


def kendall_tau_b(frame, x_col: str, y_col: str,
                  exact: bool = False, max_distinct: int = 10_000,
                  buckets: int = 64) -> SparkFrame:
    """Kendall's τ-b rank correlation (tie-adjusted) — the third
    member of the correlation family (Pearson: ``moment_stats``,
    Spearman: ``spearman_corr``), preferred for heavily tied ordinal
    data and small-sample robustness:

        τ_b = (C − D) / sqrt((n₀ − n₁)(n₀ − n₂))

    with C/D the concordant/discordant pair counts, n₀ = n(n−1)/2,
    n₁/n₂ the x-/y-marginal tie pair counts.

    Naive C/D is O(n²) in ROWS; this computes them from the
    (x, y) CONTINGENCY table instead — one hash aggregation to
    #distinct-pair cells, then a cell×cell inequality self-join where
    each unordered pair of cells meets once (x_j > x_i):
    C += n_i·n_j when the y's agree in direction, D += when they
    invert. Quadratic in DISTINCT VALUE PAIRS, never rows — the same
    regime statement as ``mann_whitney_u``. A continuous axis above
    *max_distinct* distinct values AUTO-BUCKETS to *buckets*
    equi-depth bins per axis (``_cardinality_guard``; 64² = 4096
    cells worst case keeps the cell self-join ~8M comparisons, and
    bucket-midrank τ tracks exact τ within O(1/buckets)); pass
    ``exact=True`` to restore the unguarded plan. All pair products
    and tie counts aggregate as exact decimals (integer arithmetic —
    order-independent, overflow-safe to 38 digits).

    Output: one row (n, concordant, discordant, tau_b rounded 6).
    """
    sdf = _cardinality_guard(_plain(frame), [x_col, y_col],
                             exact, max_distinct, buckets)
    cells = (sdf.groupBy(F.col(x_col).alias("__x__"),
                         F.col(y_col).alias("__y__"))
             .agg(F.count(F.lit(1)).alias("__c__")))
    # expr-string twins (same written operation order — see _pair_sql)
    a = cells.select(F.col("__x__").alias("xi"),
                     F.col("__y__").alias("yi"),
                     F.expr("CAST(__c__ AS DECIMAL(19,0)) AS ni"))
    b = cells.select(F.col("__x__").alias("xj"),
                     F.col("__y__").alias("yj"),
                     F.expr("CAST(__c__ AS DECIMAL(19,0)) AS nj"))
    prod = "CAST((ni * nj) AS DECIMAL(38,0))"
    zero = "CAST(0 AS DECIMAL(38,0))"
    pairs = a.join(b, on=F.col("xj") > F.col("xi"))
    cd = pairs.agg(
        F.expr(f"SUM(CASE WHEN (yj > yi) THEN {prod} ELSE {zero} END) "
               "AS C"),
        F.expr(f"SUM(CASE WHEN (yj < yi) THEN {prod} ELSE {zero} END) "
               "AS D"))

    def tie_pairs(col, name):
        m = (cells.groupBy(col)
             .agg(F.expr("CAST(SUM(__c__) AS DECIMAL(19,0)) AS t")))
        return m.agg(F.expr(
            f"SUM(CAST(((t * (t - 1)) / 2) AS DECIMAL(38,0))) "
            f"AS {name}"))

    tot = cells.agg(F.expr("CAST(SUM(__c__) AS DECIMAL(19,0)) AS n"))
    n0 = "CAST(((n * (n - 1)) / 2) AS DECIMAL(38,0))"
    joined = (cd.crossJoin(F.broadcast(tot))
              .crossJoin(F.broadcast(tie_pairs("__x__", "n1")))
              .crossJoin(F.broadcast(tie_pairs("__y__", "n2"))))
    tau = _divs(_sub(_dbl("C"), _dbl("D")),
                _sqrt(_mul(f"CAST(({n0} - n1) AS DOUBLE)",
                           f"CAST(({n0} - n2) AS DOUBLE)")))
    out = joined.select(
        F.expr("CAST(n AS BIGINT) AS n"),
        F.expr("CAST(C AS DOUBLE) AS concordant"),
        F.expr("CAST(D AS DOUBLE) AS discordant"),
        F.expr(f"ROUND({tau}, 6) AS tau_b"))
    return SparkFrame(out)


def auc_score(frame, score_col: str, label_col: str,
              exact: bool = False, max_distinct: int = 10_000,
              buckets: int = 1024) -> SparkFrame:
    """ROC AUC of a score against a binary label — the ranking-quality
    number every classifier/quality-filter evaluation reports, computed
    exactly via the Mann–Whitney identity

        AUC = U_pos / (n_pos · n_neg),
        U_pos = Σ_{p∈pos, n∈neg} [s_n < s_p] + ½[s_n = s_p]

    (tie-aware, equivalent to the trapezoidal ROC integral). Reuses
    the per-(label, value) count formulation of ``mann_whitney_u``:
    one hash aggregation of the base data, pairwise work quadratic in
    DISTINCT SCORE VALUES only — a continuous score above
    *max_distinct* distinct values auto-buckets to *buckets*
    equi-depth bins (via ``mann_whitney_u``'s ``_cardinality_guard``;
    AUC over bucket indices is the grouped-ROC trapezoid, error
    O(1/buckets)); ``exact=True`` restores the unguarded plan.

    *label_col* must be 0/1-valued (cast from boolean upstream).
    Output: one row (n_pos, n_neg, auc rounded 6).
    """
    sdf = _plain(frame).select(
        F.col(score_col).alias("__s__"),
        F.col(label_col).cast("int").alias("__y__"))
    mw = _plain(mann_whitney_u(sdf, "__s__", "__y__", exact=exact,
                               max_distinct=max_distinct,
                               buckets=buckets))
    # groups sort as g1=0 (neg), g2=1 (pos): U reported is U_neg;
    # AUC_pos = 1 − U_neg/(n_pos·n_neg)
    n1 = F.col("n1").cast("double")   # label 0 count
    n2 = F.col("n2").cast("double")   # label 1 count
    auc = F.lit(1.0) - F.col("u1") / (n1 * n2)
    out = mw.select(
        F.col("n2").cast("bigint").alias("n_pos"),
        F.col("n1").cast("bigint").alias("n_neg"),
        F.round(auc, 6).alias("auc"))
    return SparkFrame(out)


def spearman_corr_approx(frame, x_col: str, y_col: str,
                         buckets: int = 128,
                         accuracy: int = 10000) -> SparkFrame:
    """Approximate Spearman for the 100 TB path — the sketch sibling of
    ``spearman_corr`` (same exact/approx split as quantile_bins vs the
    KLL sketch surface).

    Ranks are replaced by equi-depth BUCKET MIDRANKS: *buckets*−1
    boundary values per column come from one ``approx_percentile``
    pass (Greenwald–Khanna sketch, mergeable, driver state = 2·B
    doubles — the k-sized-model-state pattern, like k-means
    centroids); each row maps to its bucket by an O(B) boundary-count
    expression; one exact hash aggregation per column yields bucket
    counts, whose cumulative midranks (a B-row carry table, broadcast
    back) stand in for per-value average ranks. Pearson then runs over
    the midranks with the same decimal-exact moment sums as the exact
    path.

    Plan: 4 narrow scans (boundaries, 2 bucket counts, final moments),
    zero data-sized joins — vs the exact path's two distinct-value
    range repartitions and two rank-attach shuffles. Error: within-
    bucket rank displacement is ≤ half the bucket population, so
    |rho_approx − rho| = O(1/buckets) for continuous data; heavy ties
    collapse into shared buckets and keep the monotone structure.
    Not DuckDB-oracled (approx_percentile sketches are engine-
    specific); pytest bounds it against the exact rho at sf0.01.

    Output: one row (n, rho rounded 6).
    """
    sdf = _plain(frame).select(x_col, y_col)
    probs = [i / buckets for i in range(1, buckets)]
    parr = F.array(*[F.lit(p) for p in probs])
    row = sdf.agg(
        F.approx_percentile(F.col(x_col).cast("double"), parr,
                            F.lit(accuracy)).alias("bx"),
        F.approx_percentile(F.col(y_col).cast("double"), parr,
                            F.lit(accuracy)).alias("by")).first()

    def idx(col, bounds):
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        return F.size(F.filter(
            arr, lambda b: b <= F.col(col).cast("double")))

    from pyspark import StorageLevel
    binned = sdf.select(idx(x_col, row["bx"]).alias("__bx__"),
                        idx(y_col, row["by"]).alias("__by__"))
    # feeds two bucket-count aggs + the final moment agg
    binned = binned.persist(StorageLevel.MEMORY_AND_DISK)

    def midranks(col, out_name):
        counts = binned.groupBy(col).agg(
            F.count(F.lit(1)).alias("__c__"))
        # B-row table: the tiny-carry-table global window (allowed on
        # broadcast-sized relations only, like the as-of carry table)
        w = (Window.orderBy(F.col(col).asc())
             .rowsBetween(Window.unboundedPreceding, -1))
        return counts.select(
            col,
            (F.coalesce(F.sum("__c__").over(w), F.lit(0)).cast("double")
             + (F.col("__c__").cast("double") + 1.0) / 2.0)
            .alias(out_name))

    ranked = (binned
              .join(F.broadcast(midranks("__bx__", "__rx__")),
                    on="__bx__")
              .join(F.broadcast(midranks("__by__", "__ry__")),
                    on="__by__"))
    dx = F.col("__rx__").cast("decimal(38,1)")
    dy = F.col("__ry__").cast("decimal(38,1)")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dx).alias("sx"), F.sum(dy).alias("sy"),
        F.sum(dx * dx).alias("sxx"), F.sum(dy * dy).alias("syy"),
        F.sum(dx * dy).alias("sxy"))
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    rho = ((n * sxy - sx * sy)
           / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
    out = agg.select(F.col("n").cast("bigint").alias("n"),
                     F.round(rho, 6).alias("rho"))
    return SparkFrame(out)


def key_skew_report(frame, key_cols: list[str] | str) -> SparkFrame:
    """Shuffle-key skew diagnostics: one row summarizing how unevenly
    rows distribute over a would-be join/aggregation key — run this
    BEFORE committing a 100 TB shuffle to that key (the engine's
    ``salted_join`` / AQE skew handling are the remedies this report
    tells you whether you need).

    Output: (n_keys, n_rows, max_count, max_frac, gini, cv) —
    ``max_frac`` the heaviest key's row share (its minimum task skew
    under hash partitioning), ``gini`` the Gini coefficient of the
    per-key count distribution (0 = uniform, → 1 = one key owns
    everything), ``cv`` the coefficient of variation. All rounded 6.

    Gini comes from the tie-safe rank identity
    ``G = Σ c·t·(2r̄ - (n+1)) / (n Σc)`` over DISTINCT count values
    (t = #keys sharing count c, r̄ = their average rank), so the whole
    computation is the per-key count aggregate + ``global_avg_ranks``
    of the (#distinct-count-row) value table — no global sort of the
    keys, no driver collect. CV derives from exact decimal moment
    sums.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    sdf = _plain(frame)
    counts = (sdf.groupBy(*keys)
              .agg(F.count(F.lit(1)).alias("__c__")))
    ranks = _plain(global_avg_ranks(counts, "__c__"))
    c = F.col("__c__").cast("decimal(38,0)")
    t = F.col("cnt").cast("decimal(38,0)")
    stats = ranks.agg(
        F.sum(t).alias("nk"),
        F.sum(c * t).alias("tot"),
        F.sum(c * c * t).alias("tot2"),
        F.max("__c__").alias("mx"),
        F.sum(c * t * (F.lit(2.0) * F.col("avg_rank")
                       ).cast("decimal(38,1)")).alias("g2r"))
    nk = F.col("nk").cast("double")
    tot = F.col("tot").cast("double")
    tot2 = F.col("tot2").cast("double")
    mean = tot / nk
    var = tot2 / nk - mean * mean
    cv = F.sqrt(var) / mean
    gini = (F.col("g2r").cast("double")
            - (nk + F.lit(1.0)) * tot) / (nk * tot)
    out = stats.select(
        F.col("nk").cast("bigint").alias("n_keys"),
        F.col("tot").cast("bigint").alias("n_rows"),
        F.col("mx").cast("bigint").alias("max_count"),
        F.round(F.col("mx").cast("double") / tot, 6).alias("max_frac"),
        F.round(gini, 6).alias("gini"),
        F.round(cv, 6).alias("cv"))
    return SparkFrame(out)


def grouped_regression2(frame, x1_col: str, x2_col: str, y_col: str,
                        by: list[str] | None = None,
                        sums=None,
                        cols: list[str] | None = None) -> SparkFrame:
    """Per-group TWO-feature OLS ``y = b0 + b1·x1 + b2·x2`` solved in
    closed form from the same exact decimal moment sums as
    ``grouped_regression`` — the 2×2 normal equations on centered
    sums (``S11 = nΣx1² − (Σx1)²`` etc.):

        b1 = (S1y·S22 − S2y·S12) / (S11·S22 − S12²)
        b2 = (S2y·S11 − S1y·S12) / (S11·S22 − S12²)
        b0 = (Σy − b1·Σx1 − b2·Σx2) / n
        R² = (b1·S1y + b2·S2y) / Syy

    Every intermediate is a fixed double-arithmetic expression over
    exact sums, so the fit is order-independent and engine-exact. A
    ``moment_sums`` table over any superset of the three columns
    already contains every needed moment — pass *sums* + *cols* and
    this is a PROJECTION of the tiny per-group table, zero extra
    scans (the s_stats shared-pass pattern). Collinear x1/x2 within a
    group (determinant 0) yields NULL coefficients rather than an
    engine-dependent division artifact.

    Output: by-cols + (n, b0, b1, b2, r2), rounded 6.
    """
    if sums is None:
        cols = [x1_col, x2_col, y_col]
        sums = moment_sums(frame, cols, by)
    elif cols is None:
        raise ValueError("cols is required when sums is provided")
    s = _plain(sums)
    i1, i2, iy = (cols.index(x1_col), cols.index(x2_col),
                  cols.index(y_col))

    # expr-string twins (same written operation order — see _pair_sql)
    def m(a, b):
        return _dbl(f"s_{min(a, b)}_{max(a, b)}")

    n = _dbl("n")
    s1, s2 = _dbl(f"s_{i1}"), _dbl(f"s_{i2}")
    sy = _dbl(f"s_{iy}")
    s11 = _sub(_mul(n, m(i1, i1)), _mul(s1, s1))
    s22 = _sub(_mul(n, m(i2, i2)), _mul(s2, s2))
    s12 = _sub(_mul(n, m(i1, i2)), _mul(s1, s2))
    s1y = _sub(_mul(n, m(i1, iy)), _mul(s1, sy))
    s2y = _sub(_mul(n, m(i2, iy)), _mul(s2, sy))
    syy = _sub(_mul(n, m(iy, iy)), _mul(sy, sy))
    det = _sub(_mul(s11, s22), _mul(s12, s12))
    b1 = _divs(_sub(_mul(s1y, s22), _mul(s2y, s12)), det)
    b2 = _divs(_sub(_mul(s2y, s11), _mul(s1y, s12)), det)
    b0 = _divs(_sub(_sub(sy, _mul(b1, s1)), _mul(b2, s2)), n)
    r2 = _divs(_add(_mul(b1, s1y), _mul(b2, s2y)), syy)

    def guarded(v, name):
        return F.expr(
            f"ROUND(CASE WHEN (NOT ({det} = 0.0D)) THEN {v} END, 6) "
            f"AS {name}")

    out = s.select(
        *(by or []), F.col("n"),
        guarded(b0, "b0"), guarded(b1, "b1"),
        guarded(b2, "b2"), guarded(r2, "r2"))
    return SparkFrame(out)


def benford_digit_test(frame, col: str) -> SparkFrame:
    """Benford's-law first-digit audit: the observed leading-digit
    distribution of a positive numeric column vs the Benford
    expectation ``P(d) = log10(1 + 1/d)``, with the per-digit
    chi-square contribution — the classic fraud/data-quality screen
    for naturally occurring amounts (invoice totals, populations).

    The leading digit is computed arithmetically —
    ``floor(x / 10^floor(log10 x))`` — not by string formatting, so
    the result is engine-exact; the two float-log10 edge cases (a
    double within ~1 ULP below a power of 10 yields raw digit 0, one
    just above yields 10) are mapped to their true digits 9 and 1, so
    ``element_at`` never sees an out-of-range index. Non-positive
    values are excluded (they have no Benford digit). One partial+final hash aggregation to ≤9
    rows; the chi-square terms derive from exact counts in a fixed
    expression order.

    Output: (digit, n_obs, obs_frac, exp_frac, chi2_term), rounded 6,
    one row per occurring digit.
    """
    import math
    sdf = _plain(frame)
    x = F.col(col).cast("double")
    # floor(log10 x) can round UP for doubles within ~1 ULP below a
    # power of 10 (raw digit 0 — the true leading digit is 9) or DOWN
    # just above one (raw digit 10 — true digit 1); map both edges to
    # the true digit so element_at stays in [1, 9].
    raw = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x))))
    digit = (F.when(raw < 1, F.lit(9))
             .when(raw > 9, F.lit(1))
             .otherwise(raw))
    counts = (sdf.filter(x > 0)
              .select(digit.cast("int").alias("digit"))
              .groupBy("digit")
              .agg(F.count(F.lit(1)).alias("n_obs")))
    total = counts.agg(F.sum("n_obs").alias("__tot__"))
    exp_frac = F.element_at(
        F.array(*[F.lit(math.log10(1 + 1 / d)) for d in range(1, 10)]),
        F.col("digit"))
    n = F.col("n_obs").cast("double")
    tot = F.col("__tot__").cast("double")
    expected = exp_frac * tot
    chi2 = (n - expected) * (n - expected) / expected
    out = (counts.crossJoin(F.broadcast(total))
           .select("digit",
                   F.col("n_obs").cast("long").alias("n_obs"),
                   F.round(n / tot, 6).alias("obs_frac"),
                   F.round(exp_frac, 6).alias("exp_frac"),
                   F.round(chi2, 6).alias("chi2_term")))
    return SparkFrame(out)


def welch_t_test(frame, val_col: str, group_col: str,
                 sums=None, cols: list[str] | None = None) -> SparkFrame:
    """Welch's unequal-variance t-test between every PAIR of groups
    (plus Cohen's d effect size): the standard "are these two slices
    actually different?" screen when comparing corpus segments,
    experiment arms, or data sources.

        t  = (m1 − m2) / sqrt(v1/n1 + v2/n2)
        df = (v1/n1 + v2/n2)² /
             ((v1/n1)²/(n1−1) + (v2/n2)²/(n2−1))   (Welch–Satterthwaite)
        d  = (m1 − m2) / sqrt((v1 + v2) / 2)

    Everything derives from per-group (n, Σx, Σx²) — pass a
    ``moment_sums(cols, by=[group_col])`` table (+ its *cols* layout)
    and this is a self-join of the #groups-row table with ZERO scans
    of the base data (the s_stats shared-pass pattern); without *sums*
    it costs one aggregation. Pairs are emitted once (g1 < g2); fixed
    double-arithmetic order keeps both engines bit-identical.

    Output: (g1, g2, n1, n2, t_stat, welch_df, cohens_d), rounded 6.
    """
    if sums is None:
        cols = [val_col]
        sums = moment_sums(frame, cols, by=[group_col])
    elif cols is None:
        raise ValueError("cols is required when sums is provided")
    s = _plain(sums)
    i = cols.index(val_col)
    # expr-string twins (same written operation order — see _pair_sql)
    n = _dbl("n")
    sx, sxx = _dbl(f"s_{i}"), _dbl(f"s_{i}_{i}")
    mean = _divs(sx, n)
    var = _divs(_sub(_mul(n, sxx), _mul(sx, sx)),
                _mul(n, _sub(n, "1.0D")))
    g = s.select(F.col(group_col), F.col("n").alias("__n__"),
                 F.expr(f"{mean} AS __m__"), F.expr(f"{var} AS __v__"))
    a = g.select(F.col(group_col).alias("g1"),
                 F.col("__n__").alias("n1"),
                 F.col("__m__").alias("m1"), F.col("__v__").alias("v1"))
    b = g.select(F.col(group_col).alias("g2"),
                 F.col("__n__").alias("n2"),
                 F.col("__m__").alias("m2"), F.col("__v__").alias("v2"))
    pairs = a.join(b, on=F.col("g1") < F.col("g2"))
    n1, n2 = _dbl("n1"), _dbl("n2")
    se2 = _add(_divs("v1", n1), _divs("v2", n2))
    t = _divs(_sub("m1", "m2"), _sqrt(se2))
    df = _divs(_mul(se2, se2),
               _add(_divs(_mul(_divs("v1", n1), _divs("v1", n1)),
                          _sub(n1, "1.0D")),
                    _divs(_mul(_divs("v2", n2), _divs("v2", n2)),
                          _sub(n2, "1.0D"))))
    d = _divs(_sub("m1", "m2"), _sqrt(_divs(_add("v1", "v2"), "2.0D")))
    out = pairs.select(
        "g1", "g2",
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.expr(f"ROUND({t}, 6) AS t_stat"),
        F.expr(f"ROUND({df}, 6) AS welch_df"),
        F.expr(f"ROUND({d}, 6) AS cohens_d"))
    return SparkFrame(out)


def theil_sen(frame, x_col: str, y_col: str,
              exact: bool = False, max_distinct: int = 10_000,
              buckets: int = 64) -> SparkFrame:
    """Theil–Sen robust regression: slope = the (weighted lower)
    MEDIAN of all pairwise slopes (y_j − y_i)/(x_j − x_i), intercept =
    the weighted lower median of y − slope·x — the standard
    outlier-immune trend estimator (up to ~29% contamination) where
    OLS (``grouped_regression``) gets dragged by tails.

    Same contingency-cell formulation as ``kendall_tau_b``: one hash
    aggregation to (x, y) cells, a cell×cell inequality join restricted
    to x_j > x_i (pairs with equal x have no slope), each pair weighted
    by c_i·c_j — quadratic in DISTINCT VALUE PAIRS, never rows, with
    the same ``_cardinality_guard`` auto-bucketing for continuous
    inputs (``exact=True`` opts out). The weighted median is a window
    cumulative-weight scan over the slope-ordered cell-pair table
    (2·cum ≥ total picks the lower median — deterministic on ties).

    Output: one row (n, slope, intercept), rounded 6.
    """
    sdf = _cardinality_guard(_plain(frame), [x_col, y_col],
                             exact, max_distinct, buckets,
                             as_values=True)
    cells = (sdf.groupBy(F.col(x_col).cast("double").alias("__x__"),
                         F.col(y_col).cast("double").alias("__y__"))
             .agg(F.count(F.lit(1)).alias("__c__")))
    a = cells.select(F.col("__x__").alias("xi"),
                     F.col("__y__").alias("yi"),
                     F.col("__c__").alias("ci"))
    b = cells.select(F.col("__x__").alias("xj"),
                     F.col("__y__").alias("yj"),
                     F.col("__c__").alias("cj"))
    pairs = a.join(b, on=F.col("xj") > F.col("xi"))
    slopes = pairs.select(
        F.expr("((yj - yi) / (xj - xi)) AS __s__"),
        F.expr("CAST((ci * cj) AS DECIMAL(38,0)) AS __w__"))

    def weighted_lower_median(df, val, w):
        ww = Window.orderBy(F.col(val).asc()) \
            .rowsBetween(Window.unboundedPreceding, 0)
        tot = Window.partitionBy()
        cum = F.sum(w).over(ww)
        total = F.sum(w).over(tot)
        return (df.withColumn("__cum__", cum)
                .withColumn("__tot__", total)
                .filter(F.col("__cum__") * 2 >= F.col("__tot__"))
                .orderBy(F.col(val).asc()).limit(1)
                .select(F.col(val).alias("median")))

    # the slope-ordered scan is a global window over the CELL-PAIR
    # table (bounded by bucketed-cells², broadcast scale) — never rows.
    # Both medians stay LAZY one-row relations broadcast into the next
    # stage (no driver round-trip; the whole estimator is one plan)
    m_df = weighted_lower_median(slopes, "__s__", F.col("__w__")) \
        .select(F.col("median").alias("__slope__"))
    qx = sql_ident(x_col)
    qy = sql_ident(y_col)
    resid = (sdf.crossJoin(F.broadcast(m_df))
             .select("__slope__",
                     F.expr(f"(CAST({qy} AS DOUBLE) - (__slope__ * "
                            f"CAST({qx} AS DOUBLE))) AS __r__"))
             .groupBy("__r__").agg(
                 F.expr("CAST(COUNT(1) AS DECIMAL(38,0)) AS __w__")))
    i_df = weighted_lower_median(resid, "__r__", F.col("__w__")) \
        .select(F.col("median").alias("__icpt__"))
    n_df = _plain(frame).agg(F.count(F.lit(1)).alias("n"))
    out = (n_df.crossJoin(F.broadcast(m_df))
           .crossJoin(F.broadcast(i_df))
           .select(F.col("n").cast("bigint").alias("n"),
                   F.round(F.col("__slope__"), 6).alias("slope"),
                   F.round(F.col("__icpt__"), 6).alias("intercept")))
    return SparkFrame(out)


def mahalanobis_distance(frame, cols: list[str],
                         by: list[str] | None = None,
                         threshold: float = 9.0,
                         sums=None) -> SparkFrame:
    """Multivariate outlier distance: per-row squared Mahalanobis
    distance d² = (x − μ)ᵀ S⁻¹ (x − μ) against the (per-group) sample
    covariance — the k-dimensional generalization of the z-score
    (``rolling_zscore``/``iqr_outliers`` are per-column; correlated
    columns hide joint outliers a Mahalanobis ellipse catches).
    ``is_outlier`` flags d² > *threshold* (9 ≈ the 3σ ellipse).

    k = 2 or 3 columns (closed-form cofactor inverse as pure COLUMN
    expressions over the ``moment_sums`` table — no driver linear
    algebra, no collect; the per-group matrix entries broadcast-join
    back to the rows). Larger k belongs to an Arrow-batched path;
    raise rather than silently build a k² expression blowup.

    All matrix arithmetic derives from exact decimal sums in a FIXED
    written order, so results are bit-identical across engines (the
    oracle mirrors the same cofactor formulas). Pass a precomputed
    *sums* table (``moment_sums(cols=cols, by=by)`` layout) to reuse a
    shared aggregation pass.

    Output: input columns + (d2 rounded 6, is_outlier).
    """
    k = len(cols)
    if k not in (2, 3):
        raise ValueError(
            f"mahalanobis_distance supports 2 or 3 columns, got {k} "
            "(larger k needs the Arrow-batched path)")
    sdf = _plain(frame)
    by = list(by or [])
    if sums is None:
        sums = moment_sums(sdf, cols, by=by or None)
    st = _plain(sums)
    n = _dbl("n")

    def mu(i):
        return _divs(_dbl(f"s_{i}"), n)

    def cov(i, j):
        lo, hi = (i, j) if i <= j else (j, i)
        sij = _dbl(f"s_{lo}_{hi}")
        si, sj = _dbl(f"s_{lo}"), _dbl(f"s_{hi}")
        return _divs(_sub(sij, _divs(_mul(si, sj), n)),
                     _sub(n, "1.0D"))

    def neg(a):
        return f"(- {a})"

    c = {(i, j): cov(i, j) for i in range(k) for j in range(k)}
    if k == 2:
        det = _sub(_mul(c[0, 0], c[1, 1]), _mul(c[0, 1], c[0, 1]))
        inv = {(0, 0): _divs(c[1, 1], det), (1, 1): _divs(c[0, 0], det),
               (0, 1): _divs(neg(c[0, 1]), det)}
    else:
        det = _add(
            _sub(_mul(c[0, 0], _sub(_mul(c[1, 1], c[2, 2]),
                                    _mul(c[1, 2], c[1, 2]))),
                 _mul(c[0, 1], _sub(_mul(c[0, 1], c[2, 2]),
                                    _mul(c[1, 2], c[0, 2])))),
            _mul(c[0, 2], _sub(_mul(c[0, 1], c[1, 2]),
                               _mul(c[1, 1], c[0, 2]))))
        inv = {
            (0, 0): _divs(_sub(_mul(c[1, 1], c[2, 2]),
                               _mul(c[1, 2], c[1, 2])), det),
            (1, 1): _divs(_sub(_mul(c[0, 0], c[2, 2]),
                               _mul(c[0, 2], c[0, 2])), det),
            (2, 2): _divs(_sub(_mul(c[0, 0], c[1, 1]),
                               _mul(c[0, 1], c[0, 1])), det),
            (0, 1): _divs(neg(_sub(_mul(c[0, 1], c[2, 2]),
                                   _mul(c[1, 2], c[0, 2]))), det),
            (0, 2): _divs(_sub(_mul(c[0, 1], c[1, 2]),
                               _mul(c[1, 1], c[0, 2])), det),
            (1, 2): _divs(neg(_sub(_mul(c[0, 0], c[1, 2]),
                                   _mul(c[0, 1], c[0, 2]))), det),
        }
    model = st.select(
        *by,
        *[F.expr(f"{mu(i)} AS __mu{i}__") for i in range(k)],
        *[F.expr(f"{inv[i, j]} AS __iv{i}{j}__")
          for i in range(k) for j in range(i, k)])
    joined = (sdf.join(F.broadcast(model), on=by) if by
              else sdf.crossJoin(F.broadcast(model)))
    d = [_sub(_dbl(f"`{cols[i]}`"), f"__mu{i}__") for i in range(k)]
    # fixed summation order: diagonal terms ascending, then each
    # off-diagonal pair once with factor 2
    d2 = "0.0D"
    for i in range(k):
        d2 = _add(d2, _mul(_mul(d[i], d[i]), f"__iv{i}{i}__"))
    for i in range(k):
        for j in range(i + 1, k):
            d2 = _add(d2, _mul(_mul(_mul("2.0D", d[i]), d[j]),
                               f"__iv{i}{j}__"))
    out = (joined.withColumn("d2", F.expr(f"ROUND({d2}, 6)"))
           .withColumn("is_outlier", F.col("d2") > F.lit(threshold))
           .drop(*[f"__mu{i}__" for i in range(k)],
                 *[f"__iv{i}{j}__" for i in range(k)
                   for j in range(i, k)]))
    return SparkFrame(out)


def partial_correlation(frame, x_col: str, y_col: str, z_col: str,
                        cols: list[str] | None = None,
                        by: list[str] | None = None,
                        sums=None) -> SparkFrame:
    """First-order partial correlation of x and y CONTROLLING for z —
    the "is the x~y relationship real or just z driving both" answer
    confounder-aware analysis needs before trusting a correlation:

        r_xy·z = (r_xy − r_xz·r_yz)
                 / sqrt((1 − r_xz²)(1 − r_yz²))

    All three pairwise correlations derive from ONE exact decimal
    moment-sums pass (``_pair_exprs`` — the same fixed double order as
    ``moment_stats``, so the result is bit-identical across engines);
    pass a shared *sums* table (``moment_sums`` layout over *cols*) to
    reuse an existing aggregation with zero extra scans.

    Output: by-cols + (n, r_xy, r_xz, r_yz, partial_r), rounded 6.
    """
    if sums is None:
        cols = cols or [x_col, y_col, z_col]
        sums = moment_sums(_plain(frame), cols, by=by)
    else:
        assert cols is not None, "cols= names the sums layout"
    s = _plain(sums)
    ix, iy, iz = cols.index(x_col), cols.index(y_col), cols.index(z_col)
    r_xy = _pair_sql(ix, iy)[0]
    r_xz = _pair_sql(ix, iz)[0]
    r_yz = _pair_sql(iy, iz)[0]
    partial = _divs(
        _sub(r_xy, _mul(r_xz, r_yz)),
        _sqrt(_mul(_sub("1.0D", _mul(r_xz, r_xz)),
                   _sub("1.0D", _mul(r_yz, r_yz)))))
    out = s.select(
        *(by or []),
        F.col("n").cast("bigint").alias("n"),
        F.expr(f"ROUND({r_xy}, 6) AS r_xy"),
        F.expr(f"ROUND({r_xz}, 6) AS r_xz"),
        F.expr(f"ROUND({r_yz}, 6) AS r_yz"),
        F.expr(f"ROUND({partial}, 6) AS partial_r"))
    return SparkFrame(out)


def mutual_information(frame, x_col: str, y_col: str,
                       exact: bool = False, max_distinct: int = 10_000,
                       buckets: int = 64) -> SparkFrame:
    """Mutual information between two categorical columns, with the
    entropies and the normalized score

        MI  = Σ_ij p_ij · ln(p_ij / (p_i · p_j))
        NMI = MI / sqrt(H_x · H_y)

    — the dependence measure that catches NON-monotone association
    (feature selection, redundancy screens) where Pearson/Spearman/
    Cramér's V each miss part of the picture. Natural-log nats.

    Same contingency shape as ``cramers_v``: one hash aggregation to
    the observed cells, window marginals over the tiny cell table,
    per-cell terms quantized to 12 decimals and summed as exact
    decimals (order-independent, cross-engine identical). Continuous
    inputs auto-bucket via ``_cardinality_guard`` (``exact=True``
    opts out).

    Output: one row (n, h_x, h_y, mi, nmi), rounded 6.
    """
    sdf = _cardinality_guard(_plain(frame), [x_col, y_col],
                             exact, max_distinct, buckets)
    cells = (sdf.groupBy(F.col(x_col).alias("__x__"),
                         F.col(y_col).alias("__y__"))
             .agg(F.count(F.lit(1)).alias("__c__")))
    # expr-string twins (same written operation order — see _pair_sql)
    rt = "SUM(__c__) OVER (PARTITION BY __x__)"
    ct = "SUM(__c__) OVER (PARTITION BY __y__)"
    tot = "SUM(__c__) OVER ()"
    n = f"CAST({tot} AS DOUBLE)"
    pij = _divs(_dbl("__c__"), n)
    pi = _divs(f"CAST({rt} AS DOUBLE)", n)
    pj = _divs(f"CAST({ct} AS DOUBLE)", n)

    def q12(e: str, name: str) -> Column:
        return F.expr(
            f"CAST(ROUND({e}, 12) AS DECIMAL(38,12)) AS {name}")

    terms = cells.select(
        "__x__", "__y__", "__c__",
        q12(_mul(pij, f"LN({_divs(pij, _mul(pi, pj))})"), "__mi__"),
        # entropy terms attributed once per marginal: weight each
        # cell's share of its row/col so the sums telescope exactly
        q12(_mul(_divs(_dbl("__c__"), f"CAST({rt} AS DOUBLE)"),
                 _mul(f"(- {pi})", f"LN({pi})")), "__hx__"),
        q12(_mul(_divs(_dbl("__c__"), f"CAST({ct} AS DOUBLE)"),
                 _mul(f"(- {pj})", f"LN({pj})")), "__hy__"),
        F.expr(f"{tot} AS __n__"))
    agg = terms.agg(
        F.expr("MAX(__n__) AS n"),
        F.expr("SUM(__mi__) AS mi"),
        F.expr("SUM(__hx__) AS h_x"),
        F.expr("SUM(__hy__) AS h_y"))
    mi, hx, hy = _dbl("mi"), _dbl("h_x"), _dbl("h_y")
    nmi = (f"CASE WHEN (({_mul(hx, hy)}) > 0.0D) THEN "
           f"{_divs(mi, _sqrt(_mul(hx, hy)))} END")
    out = agg.select(
        F.expr("CAST(n AS BIGINT) AS n"),
        F.expr(f"ROUND({hx}, 6) AS h_x"),
        F.expr(f"ROUND({hy}, 6) AS h_y"),
        F.expr(f"ROUND({mi}, 6) AS mi"),
        F.expr(f"ROUND({nmi}, 6) AS nmi"))
    return SparkFrame(out)


def weighted_percentile(frame, val_col: str, weight_col: str,
                        probs: list[float],
                        by: list[str] | None = None) -> SparkFrame:
    """Weighted percentiles (lower weighted-quantile rule): for each
    p, the smallest value whose cumulative weight reaches p·Σw — the
    percentile that respects row importance (token counts, sampling
    weights, dollar amounts) where plain ``percentile`` treats every
    row equally. p = 0.5 is the weighted median ``theil_sen``'s
    intercept uses; p = 1 is the max.

    Plan, grouped (``by``): one per-group sort + cumulative DECIMAL
    weight window (exact, order-independent given the (value, weight)
    sort), then one hash aggregation taking each p's threshold min —
    two shuffles on the group key, never a global sort.

    Plan, ungrouped (``by=None``): a ``Window.partitionBy()`` with no
    keys would funnel the whole table through ONE partition — the
    global-window anti-pattern. Instead, the standard two-pass global
    cumulative-sum recipe (the ``spearman_corr_approx`` global-ranks
    shape): (1) ``approx_percentile`` cuts split values into ~64
    equi-depth buckets (bucket ranges are disjoint and ordered, ties
    can't straddle a boundary since assignment is by value); (2) one
    tiny per-bucket DECIMAL weight-sum aggregation is collected
    (k-sized driver state — one decimal per bucket) and turned into
    cumulative bucket OFFSETS; (3) the cumulative window then runs
    PARTITIONED BY BUCKET — per-bucket prefix sums + the bucket's
    offset reconstruct the exact global cumulative weight with no
    single-partition exchange anywhere in the full-data path.

    NULL values/weights are excluded; negative weights raise
    downstream of the decimal sum (document: weights are masses).

    Output: by-cols + n + one ``p<percent>`` column per prob,
    rounded 6.
    """
    for p in probs:
        if not 0.0 < p <= 1.0:
            raise ValueError(f"probs must be in (0, 1], got {p}")
    by = list(by or [])
    sdf = (_plain(frame)
           .filter(F.col(val_col).isNotNull()
                   & F.col(weight_col).isNotNull()))
    w = F.col(weight_col).cast("decimal(38,6)")
    if by:
        win = Window.partitionBy(*by).orderBy(
            F.col(val_col).asc(), F.col(weight_col).asc()) \
            .rowsBetween(Window.unboundedPreceding, 0)
        tot = Window.partitionBy(*by)
        cur = (sdf.withColumn("__cw__", F.sum(w).over(win))
               .withColumn("__tw__", F.sum(w).over(tot)))
        tw = F.col("__tw__").cast("double")
    else:
        n_buckets = 64
        cut_probs = [i / n_buckets for i in range(1, n_buckets)]
        # the cut list stays a COLLECTED literal: the bucket assignment
        # then compiles to a whole-stage-codegen'd comparison chain. (A
        # fully-lazy variant — cuts as a broadcast one-row relation,
        # bucket via a filter HOF — was measured: fine standalone, but
        # inside the s_stats_rank union its nested broadcast lineage
        # blew the composite's exec 5.6s -> 20-36s, see
        # OPTIMIZATION_r15.md.)
        cuts = sdf.agg(F.approx_percentile(
            F.col(val_col).cast("double"),
            F.array(*[F.lit(p) for p in cut_probs]),
            10_000).alias("c")).collect()[0]["c"] or []
        # strictly increasing cut list (low-cardinality values repeat
        # percentiles); bucket b = #cuts below the value
        uniq = sorted(set(cuts))
        v = F.col(val_col).cast("double")
        bkt = F.lit(0)
        for c in uniq:
            bkt = bkt + F.when(v > F.lit(c), 1).otherwise(0)
        cur = sdf.withColumn("__bkt__", bkt)
        # per-bucket weight totals -> cumulative offsets + grand total:
        # a <=n_buckets-row carry table built with one tiny global
        # window and broadcast back (the global_avg_ranks recipe) —
        # exact decimal sums, so values match the old driver-side
        # accumulation bit for bit
        btot = cur.groupBy("__bkt__").agg(F.sum(w).alias("__t__"))
        w_carry = (Window.orderBy(F.col("__bkt__").asc())
                   .rowsBetween(Window.unboundedPreceding, -1))
        # same ordering for the grand-total frame so both window
        # functions run in ONE window pass over the tiny table
        w_all = (Window.orderBy(F.col("__bkt__").asc())
                 .rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing))
        carry = btot.select(
            "__bkt__",
            F.coalesce(F.sum("__t__").over(w_carry),
                       F.lit(0).cast("decimal(38,6)")).alias("__off__"),
            F.sum("__t__").over(w_all).alias("__gt__"))
        cur = cur.join(F.broadcast(carry), on="__bkt__")
        win = Window.partitionBy("__bkt__").orderBy(
            F.col(val_col).asc(), F.col(weight_col).asc()) \
            .rowsBetween(Window.unboundedPreceding, 0)
        cur = cur.withColumn("__cw__", F.sum(w).over(win)
                             + F.col("__off__"))
        tw = F.col("__gt__").cast("double")
    aggs = [F.count(F.lit(1)).alias("n")]
    for p in probs:
        name = f"p{int(round(p * 100))}"
        thresh = tw * F.lit(float(p))
        aggs.append(F.round(F.min(F.when(
            F.col("__cw__").cast("double") >= thresh,
            F.col(val_col).cast("double"))), 6).alias(name))
    out = cur.groupBy(*by).agg(*aggs)
    return SparkFrame(out)


# ---------------------------------------------------------------------------
# feature scaling (round 9): the three standard per-column scalers a
# training pipeline normalizes features with, each as ONE aggregate pass
# + a broadcast-sized join back — zero collect, grouped or global.
# ---------------------------------------------------------------------------

def _attach_stats(sdf: DataFrame, stats: DataFrame,
                  by: list[str] | None) -> DataFrame:
    """Join a per-group (or one-row global) stats table back onto the
    rows: broadcast equi-join when grouped (group tables are tiny next
    to the data), scalar broadcast crossJoin ungrouped — the same
    pattern every *_from_sums derivation uses."""
    if by:
        return sdf.join(F.broadcast(stats), on=list(by))
    return sdf.crossJoin(F.broadcast(stats))


def standardize(frame, cols, by: list[str] | None = None,
                ddof: int = 1, suffix: str = "_z") -> SparkFrame:
    """Z-score scaling: ``(x − mean) / std`` per column (optionally per
    group) appended as ``<col><suffix>``. Mean/std derive from ONE
    decimal-exact moment aggregation (count + Σx + Σx² — the
    ``moment_agg_exprs`` fixed double-arithmetic order, so results are
    oracle-reproducible); *ddof* 1 = sample std (default), 0 =
    population. A zero-variance column scales to NULL (no silent
    divide-by-zero).

    Scale: one full pass for the aggregate, one for the apply; the
    shuffle carries only the group keys' stat rows.
    """
    sdf = _plain(frame)
    cols = [cols] if isinstance(cols, str) else list(cols)
    by = list(by or [])
    aggs = []
    for c in cols:
        d = _dec(c, 2)
        aggs += [F.count(c).alias(f"__n_{c}__"),
                 F.sum(d).alias(f"__s_{c}__"),
                 F.sum(d * d).alias(f"__q_{c}__")]
    stats = sdf.groupBy(*by).agg(*aggs)
    out = _attach_stats(sdf, stats, by)
    for c in cols:
        n = F.col(f"__n_{c}__").cast("double")
        sx = F.col(f"__s_{c}__").cast("double")
        sxx = F.col(f"__q_{c}__").cast("double")
        var = n * sxx - sx * sx
        denom = n * (n - F.lit(float(ddof)))
        std = F.sqrt(var / denom)
        mean = sx / n
        z = (F.col(c).cast("double") - mean) / std
        # var > 0 AND denom > 0, not std > 0: a size-1 group (or an
        # FP-negative variance) makes std NaN, and Spark's total
        # ordering ranks NaN ABOVE every number — `std > 0` would
        # pass and emit NaN instead of the documented NULL
        out = out.withColumn(c + suffix,
                             F.when((var > 0) & (denom > 0),
                                    F.round(z, 6)))
    drop = [f"__{t}_{c}__" for c in cols for t in ("n", "s", "q")]
    return SparkFrame(out.drop(*drop))


def minmax_scale(frame, cols, by: list[str] | None = None,
                 suffix: str = "_mm") -> SparkFrame:
    """Min-max scaling to [0, 1]: ``(x − min) / (max − min)`` per
    column (optionally per group) appended as ``<col><suffix>``; a
    constant column scales to NULL. One min/max aggregation +
    broadcast join back."""
    sdf = _plain(frame)
    cols = [cols] if isinstance(cols, str) else list(cols)
    by = list(by or [])
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__lo_{c}__"),
                 F.max(c).alias(f"__hi_{c}__")]
    stats = sdf.groupBy(*by).agg(*aggs)
    out = _attach_stats(sdf, stats, by)
    for c in cols:
        lo = F.col(f"__lo_{c}__").cast("double")
        hi = F.col(f"__hi_{c}__").cast("double")
        mm = (F.col(c).cast("double") - lo) / (hi - lo)
        out = out.withColumn(c + suffix,
                             F.when(hi > lo, F.round(mm, 6)))
    drop = [f"__{t}_{c}__" for c in cols for t in ("lo", "hi")]
    return SparkFrame(out.drop(*drop))


def robust_scale(frame, cols, by: list[str] | None = None,
                 suffix: str = "_rb") -> SparkFrame:
    """Robust scaling: ``(x − median) / IQR`` per column (optionally
    per group) appended as ``<col><suffix>`` — the outlier-resistant
    scaler (scikit-learn's RobustScaler semantics; public): center on
    the exact median, scale by the exact interquartile range, both
    from ONE ``percentile([0.25, 0.5, 0.75])`` aggregation (linear
    interpolation — the same exact-percentile kernel the quantile
    binning shares). Zero IQR scales to NULL.
    """
    sdf = _plain(frame)
    cols = [cols] if isinstance(cols, str) else list(cols)
    by = list(by or [])
    probs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    aggs = [F.percentile(F.col(c).cast("double"), probs)
            .alias(f"__p_{c}__") for c in cols]
    stats = sdf.groupBy(*by).agg(*aggs)
    out = _attach_stats(sdf, stats, by)
    for c in cols:
        p = F.col(f"__p_{c}__")
        med = p[1]
        iqr = p[2] - p[0]
        rb = (F.col(c).cast("double") - med) / iqr
        out = out.withColumn(c + suffix,
                             F.when(iqr > 0, F.round(rb, 6)))
    return SparkFrame(out.drop(*[f"__p_{c}__" for c in cols]))

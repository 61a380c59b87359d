"""Incrementally-maintained materialized aggregate views, driven by
the snapshot CDC change feed.

``incremental_agg_build/merge`` (relational.py) maintains an
append-only rollup: each new shard merges in, but a DELETE or UPDATE
on the base table silently diverges the rollup. This module closes
that gap with the classic incremental-view-maintenance construction
(Gupta & Mumick, "Maintenance of Materialized Views", IEEE Data Eng.
Bulletin 1995; self-maintainable aggregates): the view is a snapshot
TABLE of per-group partial aggregates, and each refresh consumes the
base table's row-level change feed.

Every view has ONE shape: the aggregate of a FACT table inner-joined
to zero or more DIM tables (``matview_create_star``). A single-table
view (``matview_create``) is the case with no dims, and a join view
(``matview_create_join``) the case with one. The fact's consumed
version rides every view commit as the txn watermark ``matview``,
each dim's as ``matview.dim``, ``matview.dim2``, ... With dims, the
fact feed below becomes the telescoped delta-join change set (see
``_refresh_once``); the rest of the loop is the same —

1. ``snapshot_changes(from=last_consumed, to=target)`` yields exactly
   the inserted / deleted / update pre+post rows (a plain scan of the
   materialized ``_change_data`` files for DML commits);
2. one small aggregation turns them into per-group DELTAS
   (count/sum/non-null-count add with sign; inserted-side min/max);
3. deltas join the CURRENT view rows for only the touched groups
   (broadcast semi-join — the view is scanned once, never collected);
4. count and sum merge arithmetically (exact DECIMAL sums, so merge
   order can never change the result). min/max are NOT
   self-maintainable under deletion — a group whose deleted values
   touch its stored extremes is recomputed exactly, from the base
   snapshot pinned at the target version, over ONLY those groups
   (broadcast semi-join again);
5. groups whose count reaches zero become cnt=0 TOMBSTONES (filtered
   by ``matview_read``) so the whole refresh is ONE ``snapshot_merge``
   commit — and that commit carries ``txn=("matview", target)`` (plus
   each advanced dim's watermark), the idempotent-writer watermarks:
   a maintainer that crashes between its
   commit and its bookkeeping re-reads the watermark and skips the
   double-apply (exactly-once refresh, the same protocol the
   streaming snapshot sink replays against).

Refresh cost is O(changed rows + touched groups), never O(base
table): at 100 TB the feed scan is the commits' change files, the
delta is #touched-groups rows, and the MERGE is the snapshot layer's
stats-skipping row-level merge (key-disjoint view files carry over
verbatim; the view is created with ``stats_cols=keys`` precisely so
that skipping fires).

Exposed measures per column c: ``cnt``, ``sum_c`` (exact decimal),
``avg_c`` (= double(sum)/non-null count — both sides of the oracle
derive it from the same exact decimal, so the doubles are
bit-identical), ``min_c``, ``max_c``; SQL NULL semantics (an all-NULL
or empty measure exposes NULL sum/avg/min/max) via a stored non-null
counter per measure. ``distinct_cols`` adds the exact distinct
family per column d — ``cntd_d`` / ``sumd_d`` / ``avgd_d`` — backed
by a per-(group, value) multiplicity state table under
``view_dir/_distinct/<d>`` maintained from the same feed under its
own watermarks (see ``matview_create`` and ``_advance_dstate``).

Group keys must be non-NULL (enforced loudly at create and refresh):
the underlying MERGE matches keys with standard SQL equality, so a
NULL group would never match its own view row.

No reference analogue (`cl-data-frame.lisp:1-583` has no storage or
view surface); Tier X extension in the SURVEY §2.3 lakehouse family,
composing the CDC feed, IN-predicate pruning, and the idempotent
txn watermark into the standard warehouse maintenance loop.
"""

from __future__ import annotations

import json
import os
import re
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cl_data_frame_spark.frame import SparkFrame

_META_FILE = "_matview.json"
_APP_ID = "matview"
_D_APP = "matview.dim"
_SUM_T = "decimal(38,{s})"

#: refresh-side key-set broadcast ceiling, mirroring the deletion-
#: vector merge-on-read gate (snapshots._DV_BROADCAST_MAX): touched-
#: group / repair-group / per-value-state key sets are normally tiny
#: and broadcast, but a catch-up chunk over a high-cardinality group
#: key can legally touch tens of millions of groups — above this many
#: rows the hint is withheld and AQE picks the join strategy instead
#: of force-shipping a multi-GB key set to every executor.
_KEY_BROADCAST_MAX = 1_000_000


def _maybe_broadcast(sdf: DataFrame, n: int) -> DataFrame:
    """*sdf* with the broadcast hint iff its known row count *n* is at
    or below ``_KEY_BROADCAST_MAX`` (the count is always already in
    hand — computed for the refresh summary / NULL-key probe — so the
    gate costs nothing)."""
    return F.broadcast(sdf) if n <= _KEY_BROADCAST_MAX else sdf


def _parse_keys(keys) -> tuple[list[str], dict[str, str]]:
    """Normalize the ``keys`` argument: a name, a sequence of names,
    or a dict ``{out_name: sql_expr}`` declaring DERIVED group keys
    (``{"day": "date_trunc('day', ts)"}``). Returns ``(names,
    exprs)`` where *exprs* holds only the genuinely derived entries
    (a dict value equal to its name is a plain column)."""
    if isinstance(keys, str):
        return [keys], {}
    if isinstance(keys, dict):
        names = [str(k) for k in keys]
        exprs = {str(k): str(v) for k, v in keys.items()
                 if str(v) != str(k)}
        return names, exprs
    return [str(k) for k in keys], {}


def _project_keys(sdf: DataFrame, key_exprs: dict | None,
                  what: str) -> DataFrame:
    """Apply the view's derived-key expressions to *sdf* (base rows at
    create, every change-feed row at refresh, the pinned base at
    repair). Row-local expressions stay IVM-exact for the same reason
    the ``where=`` filter does: each change row maps independently of
    any other, so the projected feed maintains the projected view."""
    for name, sql in (key_exprs or {}).items():
        try:
            sdf = sdf.withColumn(name, F.expr(sql))
        except Exception as exc:
            raise ValueError(
                f"derived view key {name} = {sql!r} no longer "
                f"evaluates against {what} (schema evolution?) — "
                f"recreate the view: {exc}") from exc
    return sdf


def _expr_deps(sql: str, available) -> list[str]:
    """The columns a derived-key or ``where=`` SQL expression
    references, by word-boundary match against the available names
    (a backtick-quoted name matches too) — conservative for the
    column attribution (a false positive only carries an extra column
    through the maintenance joins; a miss fails loudly when the
    expression evaluates)."""
    return [c for c in available
            if re.search(rf"(?<![A-Za-z0-9_]){re.escape(c)}"
                         rf"(?![A-Za-z0-9_])", sql)]


def _plain(frame) -> DataFrame:
    return frame.spark_df if isinstance(frame, SparkFrame) else frame


def _meta_path(view_dir: str) -> str:
    return os.path.join(view_dir, _META_FILE)


def _read_meta(view_dir: str) -> dict:
    try:
        with open(_meta_path(view_dir), "r", encoding="utf-8") as fh:
            return json.load(fh)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"{view_dir} is not a materialized view "
            f"(no {_META_FILE}; create one with matview_create)")


def _write_meta(view_dir: str, meta: dict) -> None:
    tmp = _meta_path(view_dir) + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    os.replace(tmp, _meta_path(view_dir))


def _apps(n_dims: int) -> list[str]:
    """The view's txn watermark ids: the fact's, then one per dim
    (``matview.dim``, ``matview.dim2``, ...)."""
    return [_APP_ID] + [_D_APP if i == 0 else f"{_D_APP}{i + 1}"
                        for i in range(n_dims)]


def _applied(view_dir: str, meta: dict) -> tuple[list[int], dict]:
    """Each source's applied version, fact first: the commit-riding
    txn watermark, else the meta file's cached copy (the watermark is
    the truth — a crash between a merge commit and its meta write must
    not double-apply). Also returns the watermarks actually recorded
    on the view, the only ones a commit can compare-and-swap."""
    from cl_data_frame_spark.sources.snapshots import (
        snapshot_txn_version)
    apps = _apps(len(meta["dims"]))
    cached = [int(meta["fact_version"]),
              *(int(sp["version"]) for sp in meta["dims"])]
    recorded = {app: v for app in apps
                if (v := snapshot_txn_version(view_dir, app)) is not None}
    return [recorded.get(app, c) for app, c in zip(apps, cached)], \
        recorded


def _check_keys_nonnull(sdf: DataFrame, keys: list[str],
                        what: str) -> None:
    # a NULL group key would never match its own view row under the
    # MERGE's SQL equality — refuse loudly instead of silently
    # duplicating the group. The check runs on an already-small frame
    # (per-group aggregates / per-group deltas), never the base data.
    cond = F.col(keys[0]).isNull()
    for k in keys[1:]:
        cond = cond | F.col(k).isNull()
    if sdf.where(cond).limit(1).count():
        raise ValueError(
            f"NULL group key in {what}: materialized views require "
            f"non-NULL group keys {keys} (filter or coalesce them "
            f"in the base table first)")


_HLL_NATIVE = {"int", "bigint", "string", "binary"}


def _hll_input(sdf: DataFrame, c: str):
    """The column as ``hll_sketch_agg`` accepts it: native for
    int/bigint/string/binary, canonicalized through a string cast
    otherwise (value-faithful in Spark; the SAME canonicalization on
    every path — create, delta, repair — so sketches always merge
    over identical item encodings)."""
    t = dict(sdf.dtypes).get(c)
    return F.col(c) if t in _HLL_NATIVE else F.col(c).cast("string")


def _full_agg(sdf: DataFrame, keys: list[str],
              measure_cols: list[str], scale: int,
              distinct_cols: Sequence[str] = (),
              approx_cols: Sequence[str] = (),
              quantile_cols: Sequence[str] = (),
              kll_k: int = 800) -> DataFrame:
    """The view's stored shape, computed exactly from base rows:
    per group ``cnt`` plus, per measure c, exact-decimal ``sum_c``,
    non-null count ``nn_c``, and ``min_c``/``max_c``; per distinct
    column d, exact ``cntd_d`` (COUNT(DISTINCT d), NULLs ignored —
    SQL semantics; an empty/all-NULL group counts 0) and ``sumd_d``
    (SUM over the group's DISTINCT stored values — distinctness on
    the stored value, each cast to the exact decimal before the sum;
    NULL when no non-NULL value exists, matching SUM(DISTINCT)).
    The distinct family computes through the same per-(group, value)
    rollup the state tables store (``_dstate_build``), so the
    create/repair path and the incremental absolute-read path agree
    bit-for-bit. ``approx_cols`` stores a per-group DataSketches HLL
    sketch (``hll_{c}``, Spark's native ``hll_sketch_agg``) instead —
    O(1) per-group state, no companion table; see ``matview_create``
    for the maintenance trade-off."""
    sum_t = _SUM_T.format(s=scale)
    aggs = [F.count(F.lit(1)).alias("cnt")]
    for c in measure_cols:
        dec = F.col(c).cast(f"decimal(28,{scale})")
        aggs += [
            F.coalesce(F.sum(dec), F.lit(0)).cast(sum_t)
            .alias(f"sum_{c}"),
            F.count(F.col(c)).alias(f"nn_{c}"),
            F.min(F.col(c)).alias(f"min_{c}"),
            F.max(F.col(c)).alias(f"max_{c}"),
        ]
    for c in approx_cols:
        aggs.append(F.hll_sketch_agg(_hll_input(sdf, c))
                    .alias(f"hll_{c}"))
    for c in quantile_cols:
        # per-group DataSketches KLL quantile sketch stored IN the
        # view row: exact while the group holds <= kll_k values
        # (every retained), KLL rank error past capacity
        aggs.append(F.kll_sketch_agg_double(
            F.col(c).cast("double"), F.lit(int(kll_k)))
            .alias(f"kll_{c}"))
    out = sdf.groupBy(*keys).agg(*aggs)
    for c in distinct_cols:
        d = _dstate_rollup(_dstate_build(sdf, keys, c), keys, c,
                           scale)
        out = out.join(d, on=keys, how="left").withColumn(
            f"cntd_{c}",
            F.coalesce(F.col(f"cntd_{c}"), F.lit(0)))
    return out


def _dstate_rollup(state: DataFrame, keys: list[str], c: str,
                   scale: int) -> DataFrame:
    """Per-group distinct aggregates from live per-value state rows:
    ``cntd_c`` (live-value count) and exact-decimal ``sumd_c`` (sum
    of the distinct values)."""
    sum_t = _SUM_T.format(s=scale)
    return state.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias(f"cntd_{c}"),
        F.sum(F.col(c).cast(f"decimal(28,{scale})")).cast(sum_t)
        .alias(f"sumd_{c}"))


def _dstate_dir(view_dir: str, c: str) -> str:
    return os.path.join(view_dir, "_distinct", c)


def _dstate_build(sdf: DataFrame, keys: list[str],
                  c: str) -> DataFrame:
    """The distinct-state table's stored shape for column *c*: per
    (group, value) the EXACT multiplicity ``dcnt`` (NULL values
    excluded, matching COUNT(DISTINCT)). Distinct cardinality is not
    self-maintainable from the view row alone (a delete can't tell
    whether the value's last occurrence left the group), but it IS
    self-maintainable given this multiplicity state — the standard
    Gupta-Mumick auxiliary-relation construction."""
    return sdf.where(F.col(c).isNotNull()) \
        .groupBy(*keys, c) \
        .agg(F.count(F.lit(1)).cast("long").alias("dcnt"))


def _dstate_delta(changes: DataFrame, keys: list[str],
                  c: str) -> DataFrame:
    """Signed per-(group, value) multiplicity deltas from a change
    feed interval."""
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"),
        F.lit(1)).otherwise(F.lit(-1))
    return changes.where(F.col(c).isNotNull()) \
        .groupBy(*keys, c).agg(F.sum(sign).alias("__d__"))


def _advance_dstate(spark: SparkSession, view_dir: str, c: str,
                    keys: list[str], feed_ctx: dict,
                    view_changes: DataFrame) -> None:
    """Advance column *c*'s distinct state to the refresh targets,
    exactly once: the delta interval is ranged by the STATE table's
    OWN commit-riding watermarks (not the view's — after a crash
    between state and view commits, or a lost race, the two diverge
    and re-using the view's interval would double-apply), and the
    merge CAS-checks those watermarks. A conflict whose winner
    already covers our targets is a clean skip (it consumed a
    superset interval from the same watermark)."""
    from cl_data_frame_spark.sources.snapshots import (
        SnapshotTxnConflict, _release_checkpoint, snapshot_merge,
        snapshot_read, snapshot_set_txn, snapshot_txn_version)
    sd = _dstate_dir(view_dir, c)
    targets = feed_ctx["targets"]
    applied = {app: snapshot_txn_version(sd, app)
               for app, _ in targets}
    if any(a is None for a in applied.values()):
        missing = [app for app, a in applied.items() if a is None]
        raise ValueError(
            f"distinct state for {c!r} in {view_dir} carries no "
            f"watermark for {missing} (partial create?) — recreate "
            f"the view")
    if all(applied[app] >= tv for app, tv in targets):
        return                      # already at/past the targets
    if applied == feed_ctx["view_applied"]:
        feed = view_changes         # the common case: same interval
    else:
        feed = feed_ctx["feed_fn"](applied)
    if feed is None:
        return
    txn = [(app, tv) for app, tv in targets if applied[app] < tv]
    expect = {app: applied[app] for app, _ in txn}
    dd = _dstate_delta(feed, keys, c).localCheckpoint(eager=True)
    ups = None
    try:
        n_dd = dd.count()
        if not n_dd:
            # nothing for c in the interval — advance the watermark
            # anyway with a METADATA-ONLY commit: a column that goes
            # quiet must not pin its state watermark while the view
            # advances, or every later refresh re-walks a
            # monotonically GROWING (still-empty-for-c) interval
            try:
                snapshot_set_txn(sd, txn, txn_expect=expect)
            except SnapshotTxnConflict:
                pass        # a racing maintainer advanced it — fine
            return
        cur = _plain(snapshot_read(spark, sd))
        on = [*keys, c]
        touched = cur.join(_maybe_broadcast(dd.select(*on), n_dd),
                           on=on, how="left_semi")
        ups = dd.join(touched, on=on, how="left").select(
            *on,
            (F.coalesce(F.col("dcnt"), F.lit(0)) + F.col("__d__"))
            .cast("long").alias("dcnt")).localCheckpoint(eager=True)
        try:
            snapshot_merge(spark, sd, SparkFrame(ups), on=on, txn=txn,
                           txn_expect=expect)
        except SnapshotTxnConflict:
            now = {app: snapshot_txn_version(sd, app)
                   for app, _ in targets}
            if not all(now[app] is not None and now[app] >= tv
                       for app, tv in targets):
                raise
    finally:
        _release_checkpoint(dd)
        _release_checkpoint(ups)


def matview_create(spark: SparkSession, source_dir: str,
                   view_dir: str, keys: Sequence[str] | str,
                   measure_cols: Sequence[str] = (),
                   scale: int = 6,
                   version: int | None = None,
                   num_files: int | None = None,
                   where: str | None = None,
                   distinct_cols: Sequence[str] = (),
                   distinct_approx_cols: Sequence[str] = (),
                   quantile_cols: Sequence[str] = (),
                   quantile_probs: Sequence[float] = (0.5, 0.95,
                                                      0.99),
                   kll_k: int = 800) -> int:
    """Materialize the per-group aggregate of snapshot table
    *source_dir* at *version* (default: its latest) into the snapshot
    table *view_dir*, and record the consumed source version so
    ``matview_refresh`` can continue from the change feed. Returns
    the source version the view reflects. A single-table view is the
    star view with no dims (``matview_create_star`` with ``dims=()``):
    the source is its fact, and the consumed version rides the view's
    commits as the ``matview`` txn watermark.

    ``keys`` may be plain column names OR a dict declaring DERIVED
    group keys — ``keys={"day": "date_trunc('day', ts)"}`` gives the
    time-bucketed rollup (``GROUP BY date_trunc('day', ts)``) without
    first materializing the bucket into the base table. Row-local SQL
    expressions are IVM-safe for the same reason the ``where=``
    filter is: each change-feed row maps to its group independently
    of any other row, so the projected feed maintains the projected
    view exactly. The expression is applied identically at create, to
    every change-feed row at refresh, and to the pinned base at
    min/max repair (whose file pruning then uses only the PLAIN key
    subset — sound, a superset of files is read).

    ``where`` makes it a FILTERED view: a SQL boolean expression over
    the source's columns (e.g. ``"l_quantity > 5 AND l_returnflag <>
    'R'"``), applied to the base at create and to every change-feed
    row at refresh — a row-local predicate stays correct under IVM
    because each change row filters independently of any other. An
    UPDATE that moves a row across the predicate boundary surfaces as
    a bare pre- or post-image on the filtered feed, which the signed
    delta handles naturally (one side contributes, the other
    vanishes).

    ``distinct_cols`` adds EXACT per-group distinct measures:
    ``cntd_c`` (COUNT(DISTINCT c), SQL NULL semantics), ``sumd_c``
    (exact-decimal SUM over the group's distinct values), and — at
    read — ``avgd_c`` (AVG(DISTINCT), derived as double(sumd)/cntd
    so both oracle sides are bit-identical). Distinct cardinality is
    not self-maintainable from the view row alone, so each such
    column gets a companion per-(group, value) multiplicity STATE
    table under ``view_dir/_distinct/<c>`` (the Gupta-Mumick
    auxiliary relation), maintained from the same change feed under
    its own commit-riding watermarks; the view row's ``cntd_c`` is
    then the group's live-value count, re-read (group-pruned) from
    the state at each refresh. Exact, never approximate.

    ``distinct_approx_cols`` is the APPROXIMATE alternative for
    unbounded-cardinality columns: a per-group DataSketches HLL
    sketch stored IN the view row (``hll_{c}``, exposed as
    ``cntd_approx_{c}`` at read) — O(1) per-group state, no
    companion table, insert-only refreshes are one sketch union. The
    trade-off is deletions: sketches cannot subtract, so any delete
    of a non-NULL value repairs that group exactly from the base (a
    pruned re-aggregation — the same machinery min/max repair uses).
    Pick exact for delete-heavy tables with bounded per-group
    cardinality, approx for insert-mostly feeds with huge ones.

    ``quantile_cols`` adds APPROXIMATE per-group QUANTILE measures —
    "p95 latency per group, kept fresh per ingest": a per-group
    DataSketches KLL sketch stored IN the view row (``kll_{c}``),
    exposed at read as ``q{P}_{c}`` for each of *quantile_probs*
    (defaults p50/p95/p99). Maintenance is the HLL construction
    verbatim: insert-only refreshes are one lossless sketch merge;
    any delete of a non-NULL value repairs the group exactly from
    the pinned base. While a group holds <= *kll_k* values the
    sketch retains ALL of them and every quantile is EXACT (a real
    retained value); past capacity estimates carry KLL's rank error
    (~1.65/sqrt(k) — <6% at the default k=800; FLAGGED approximate,
    never silently exact)."""
    return matview_create_star(
        spark, source_dir, (), view_dir, keys, measure_cols,
        scale=scale, fact_version=version, num_files=num_files,
        where=where, distinct_cols=distinct_cols,
        distinct_approx_cols=distinct_approx_cols,
        quantile_cols=quantile_cols, quantile_probs=quantile_probs,
        kll_k=kll_k)[0]


def matview_create_join(spark: SparkSession, fact_dir: str,
                        dim_dir: str, view_dir: str, on,
                        keys: Sequence[str] | str,
                        measure_cols: Sequence[str] = (),
                        scale: int = 6,
                        fact_version: int | None = None,
                        dim_version: int | None = None,
                        num_files: int | None = None,
                        where: str | None = None,
                        distinct_cols: Sequence[str] = (),
                        distinct_approx_cols: Sequence[str] = (),
                        quantile_cols: Sequence[str] = (),
                        quantile_probs: Sequence[float] = (0.5, 0.95,
                                                           0.99),
                        kll_k: int = 800
                        ) -> tuple[int, int]:
    """Materialize ``SELECT keys, aggregates(measures) FROM fact
    INNER JOIN dim ON fact.fk = dim.pk GROUP BY keys`` into the
    snapshot table *view_dir*, maintained INCREMENTALLY from BOTH
    tables' change feeds (delta-join IVM — see ``_refresh_once``).
    ``on`` is a column name shared by both tables or a
    ``(fact_col, dim_col)`` pair; keys and measures may come from
    either side (a name present in both raises — the maintenance
    join could not attribute it). Returns the consumed
    ``(fact_version, dim_version)`` pair; both ride the view's
    commits as independent txn watermarks (``matview`` /
    ``matview.dim``), so refresh is exactly-once per source and
    CAS-protected against concurrent maintainers. The one-dim
    special case of ``matview_create_star``."""
    fv, dvs = matview_create_star(
        spark, fact_dir, [(dim_dir, on)], view_dir, keys,
        measure_cols, scale=scale, fact_version=fact_version,
        dim_versions=None if dim_version is None else [dim_version],
        num_files=num_files, where=where,
        distinct_cols=distinct_cols,
        distinct_approx_cols=distinct_approx_cols,
        quantile_cols=quantile_cols,
        quantile_probs=quantile_probs, kll_k=kll_k)
    return fv, dvs[0]


def matview_create_star(spark: SparkSession, fact_dir: str,
                        dims: Sequence, view_dir: str,
                        keys: Sequence[str] | str,
                        measure_cols: Sequence[str] = (),
                        scale: int = 6,
                        fact_version: int | None = None,
                        dim_versions: Sequence[int] | None = None,
                        num_files: int | None = None,
                        where: str | None = None,
                        distinct_cols: Sequence[str] = (),
                        distinct_approx_cols: Sequence[str] = (),
                        quantile_cols: Sequence[str] = (),
                        quantile_probs: Sequence[float] = (0.5, 0.95,
                                                           0.99),
                        kll_k: int = 800
                        ) -> tuple[int, list[int]]:
    """STAR-SCHEMA materialized view: ``fact INNER JOIN dim_1 ...
    INNER JOIN dim_k`` (each dim joins the FACT on its own key),
    grouped and aggregated, maintained incrementally from ALL k+1
    change feeds. *dims* is a list of ``(dim_dir, on)`` with ``on``
    a shared column name or ``(fact_col, dim_col)``; with no dims it
    is the single-table view ``matview_create`` builds. Every consumed
    version rides the view's commits as its own txn watermark
    (``matview`` for the fact, ``matview.dim``, ``matview.dim2``, ...),
    all CAS'd in one commit. Returns ``(fact_version,
    [dim_versions])``.

    ``keys`` accepts the same derived-key dict as ``matview_create``
    (``{"day": "date_trunc('day', o_orderdate)"}``); the expression
    evaluates on the JOINED row, so it may reference fact and dim
    columns alike. The columns a derived key or the ``where=``
    predicate references are attributed through the maintenance
    joins like keys and measures, and both expressions run on every
    telescoped change term.
    """
    from cl_data_frame_spark.sources.snapshots import (
        _latest_version, _release_checkpoint, snapshot_read,
        snapshot_write)
    keys, key_exprs = _parse_keys(keys)
    measure_cols = list(measure_cols)
    distinct_cols = list(distinct_cols)
    distinct_approx_cols = list(distinct_approx_cols)
    quantile_cols = list(quantile_cols)
    quantile_probs = [float(p) for p in quantile_probs]
    bad = [c for c in [*distinct_cols, *distinct_approx_cols]
           if c in keys]
    if bad:
        raise ValueError(
            f"distinct_cols {bad} are group keys — COUNT(DISTINCT) "
            f"of a key within its own group is constant 1")
    badq = [c for c in quantile_cols if c in keys]
    if badq:
        raise ValueError(
            f"quantile_cols {badq} are group keys — every quantile "
            f"of a key within its own group is the key itself")
    both = sorted(set(distinct_cols) & set(distinct_approx_cols))
    if both:
        raise ValueError(
            f"columns {both} in BOTH distinct_cols and "
            f"distinct_approx_cols — pick one per column")
    if fact_version is None:
        fact_version = _latest_version(fact_dir)
    if fact_version is None:
        raise FileNotFoundError(f"no snapshot versions in {fact_dir}")
    specs = []
    for di, d in enumerate(dims):
        dim_dir, on = d
        fk, dk = (on, on) if isinstance(on, str) else (on[0], on[1])
        dv = dim_versions[di] if dim_versions is not None \
            else _latest_version(dim_dir)
        if dv is None:
            raise FileNotFoundError(
                f"no snapshot versions in {dim_dir}")
        specs.append({"dir": os.path.abspath(dim_dir),
                      "fact_on": fk, "dim_on": dk, "version": dv})
    fact = _plain(snapshot_read(spark, fact_dir,
                                version=fact_version))
    dim_dfs = []
    for sp in specs:
        ddf = _plain(snapshot_read(spark, sp["dir"],
                                   version=sp["version"]))
        if sp["dim_on"] not in ddf.columns:
            raise ValueError(
                f"join column {sp['dim_on']!r} not in dim table "
                f"({ddf.columns})")
        if sp["fact_on"] not in fact.columns:
            raise ValueError(
                f"join column {sp['fact_on']!r} not in fact table "
                f"({fact.columns})")
        dim_dfs.append(ddf)
    # DERIVED keys and the where-predicate attribute their REFERENCED
    # columns — the expressions evaluate on the joined row, so their
    # deps may even span fact and dims
    plain_keys = [k for k in keys if k not in key_exprs]
    avail = set(fact.columns).union(
        *[set(d.columns) for d in dim_dfs])
    shadow = [k for k in key_exprs if k in avail]
    if shadow:
        raise ValueError(
            f"derived key name(s) {shadow} collide with source "
            f"columns — pick fresh output names")
    deps = sorted({d for sql in [*key_exprs.values(), where or ""]
                   for d in _expr_deps(sql, avail)})
    need = list(dict.fromkeys([
        *plain_keys, *measure_cols, *distinct_cols,
        *distinct_approx_cols, *quantile_cols, *deps]))
    fcols, dcols = _attribute(need, fact.columns, specs,
                              [d.columns for d in dim_dfs])
    joined = _project_keys(
        _star_join(fact, specs, dim_dfs, fcols, dcols, need),
        key_exprs, "the source tables")
    if where is not None:
        joined = joined.where(F.expr(where))
    txn = list(zip(_apps(len(specs)),
                   [fact_version, *(sp["version"] for sp in specs)]))
    # distinct states land BEFORE the view commit: a crash in
    # between leaves a retriable create (overwrite + txn_reset
    # replaces everything), never a view without its state
    for c in distinct_cols:
        snapshot_write(SparkFrame(_dstate_build(joined, keys, c)),
                       _dstate_dir(view_dir, c), mode="overwrite",
                       stats_cols=[*keys, c], txn=txn,
                       txn_reset=True)
    # one materialization feeds both the null-key check and the write
    agg = _full_agg(joined, keys, measure_cols, scale,
                    distinct_cols, distinct_approx_cols,
                    quantile_cols, kll_k).localCheckpoint(eager=False)
    try:
        _check_keys_nonnull(agg, keys, "matview_create")
        snapshot_write(SparkFrame(agg), view_dir, mode="overwrite",
                       num_files=num_files, stats_cols=keys, txn=txn,
                       txn_reset=True)
    finally:
        _release_checkpoint(agg)
    meta = {
        "fact_dir": os.path.abspath(fact_dir),
        "dims": [{**sp, "cols": dcols[di]}
                 for di, sp in enumerate(specs)],
        "keys": keys, "measure_cols": measure_cols,
        "fact_cols": fcols, "scale": scale,
        "fact_version": fact_version,
    }
    if key_exprs:
        meta["key_exprs"] = key_exprs
    if distinct_cols:
        meta["distinct_cols"] = distinct_cols
    if distinct_approx_cols:
        meta["distinct_approx_cols"] = distinct_approx_cols
    if quantile_cols:
        meta["quantile_cols"] = quantile_cols
        meta["quantile_probs"] = quantile_probs
        meta["kll_k"] = int(kll_k)
    if where is not None:
        meta["where"] = where
    _write_meta(view_dir, meta)
    return fact_version, [sp["version"] for sp in specs]


def _attribute(cols, fact_cols, specs, dim_cols) -> tuple[list, list]:
    """Split *cols* into the columns the fact owns and those each dim
    owns (*dim_cols* lists each dim's columns). Every column must live
    in exactly ONE table, or the maintenance join could not carry it;
    a join key named the same on both sides belongs to the fact."""
    fcols, dcols, missing = [], [[] for _ in specs], []
    for c in cols:
        owners = [-1] if c in fact_cols else []
        for di, sp in enumerate(specs):
            if c in dim_cols[di] and not (
                    c == sp["fact_on"] == sp["dim_on"] and -1 in owners):
                owners.append(di)
        if not owners:
            missing.append(c)
        elif len(owners) > 1:
            raise ValueError(
                f"column {c!r} exists in BOTH tables — the "
                f"maintenance join cannot attribute it; rename one "
                f"side (the join key itself is fine when named the "
                f"same on both sides)")
        else:
            (fcols if owners[0] == -1 else dcols[owners[0]]).append(c)
    if missing:
        raise ValueError(
            f"columns {missing} not in source table: in neither the "
            f"fact ({list(fact_cols)}) nor any dim")
    return fcols, dcols


def _star_join(fact, specs, dim_dfs, fcols, dcols, out_cols):
    """fact ⋈ dim_1 ⋈ ... ⋈ dim_k on per-dim aliased keys; AQE picks
    broadcast sides at runtime. *fact* must already carry its fcols
    and the join-key source columns."""
    out = fact.select(
        *[F.col(sp["fact_on"]).alias(f"__jk{di}__")
          for di, sp in enumerate(specs)],
        *fcols)
    for di, sp in enumerate(specs):
        out = out.join(
            dim_dfs[di].select(
                F.col(sp["dim_on"]).alias(f"__jk{di}__"),
                *dcols[di]),
            on=f"__jk{di}__", how="inner")
    return out.select(*out_cols)


def _delta_agg(changes: DataFrame, keys: list[str],
               measure_cols: list[str], scale: int,
               approx_cols: Sequence[str] = (),
               quantile_cols: Sequence[str] = (),
               kll_k: int = 800) -> DataFrame:
    """Per-group deltas from the change feed: signed count/sum/nn,
    inserted-side min/max (candidates to improve the stored extremes),
    deleted-side min/max (to DETECT stored extremes being removed);
    per approx-distinct column, the inserted values' HLL sketch
    (union-mergeable) and a deleted-non-null flag (sketches cannot
    subtract — any such delete repairs the group exactly)."""
    sum_t = _SUM_T.format(s=scale)
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"),
        F.lit(1)).otherwise(F.lit(-1))
    aggs = [F.sum(sign).alias("d_cnt")]
    for c in measure_cols:
        dec = F.col(c).cast(f"decimal(28,{scale})")
        nn = F.col(c).isNotNull()
        aggs += [
            F.coalesce(F.sum(F.when(nn, sign * dec)), F.lit(0))
            .cast(sum_t).alias(f"d_sum_{c}"),
            F.coalesce(F.sum(F.when(nn, sign)), F.lit(0))
            .alias(f"d_nn_{c}"),
            F.min(F.when(sign > 0, F.col(c))).alias(f"add_min_{c}"),
            F.max(F.when(sign > 0, F.col(c))).alias(f"add_max_{c}"),
            F.min(F.when(sign < 0, F.col(c))).alias(f"del_min_{c}"),
            F.max(F.when(sign < 0, F.col(c))).alias(f"del_max_{c}"),
        ]
    for c in approx_cols:
        inp = _hll_input(changes, c)
        aggs += [
            F.hll_sketch_agg(F.when(sign > 0, inp))
            .alias(f"add_hll_{c}"),
            F.max(F.when((sign < 0) & F.col(c).isNotNull(),
                         F.lit(1)).otherwise(F.lit(0)))
            .alias(f"deld_{c}"),
        ]
    for c in quantile_cols:
        # inserted-side sketch (mergeable); KLL sketches cannot
        # subtract either, so any delete of a non-NULL value flags
        # the group for exact repair — the HLL construction verbatim
        aggs += [
            F.kll_sketch_agg_double(
                F.when(sign > 0, F.col(c).cast("double")),
                F.lit(int(kll_k))).alias(f"add_kll_{c}"),
            F.max(F.when((sign < 0) & F.col(c).isNotNull(),
                         F.lit(1)).otherwise(F.lit(0)))
            .alias(f"delq_{c}"),
        ]
    return changes.groupBy(*keys).agg(*aggs)


def matview_refresh(spark: SparkSession, view_dir: str,
                    to_version: int | None = None,
                    max_retries: int = 5) -> dict:
    """Advance the view to the fact's *to_version* (default: its
    latest; a ``(fact, dim_1, ..., dim_k)`` tuple pins each source,
    None entries meaning latest) by consuming the change feeds since
    the last refresh. Cost O(changed rows + touched groups); ONE
    snapshot_merge commit on the view, carrying the fact's
    ``("matview", version)`` txn watermark and each advanced dim's
    (re-running a crashed refresh is a no-op once the commit landed).
    CONCURRENT maintainers are safe too: the commit compare-and-swaps
    the watermarks (``txn_expect``) — a refresher whose planned-from
    watermark moved under it aborts before double-applying its delta
    and retries from the new watermark. Returns a summary dict (see
    ``_refresh_once``)."""
    from cl_data_frame_spark.sources.snapshots import (
        SnapshotTxnConflict)
    last: Exception | None = None
    for _ in range(max_retries + 1):
        try:
            return _refresh_once(spark, view_dir, to_version)
        except SnapshotTxnConflict as exc:
            last = exc          # recompute from the moved watermark
    raise SnapshotTxnConflict(
        f"matview refresh lost the watermark race {max_retries + 1} "
        f"times in {view_dir} (pathological contention): {last}")


def matview_refresh_chunked(spark: SparkSession, view_dir: str,
                            to_version=None,
                            max_feed_files: int = 1000
                            ) -> list[dict]:
    """CATCH-UP refresh with bounded per-commit work: the fact's
    change interval is walked in version-aligned chunks under the
    same *max_feed_files* admission rule as
    ``snapshot_changes_paged`` / the streaming source's
    ``maxFilesPerBatch``, and each chunk is one ordinary
    (exactly-once, CAS-protected) ``matview_refresh`` commit — a
    view a year behind catches up as a sequence of bounded jobs
    instead of planning the whole year at once, and a crash mid
    catch-up resumes from the last committed chunk's watermark for
    free. Dims stay pinned at their applied versions while the fact
    chunks (every intermediate state is the consistent view at
    (fact_chunk, dims_old)) and advance in one final refresh, a
    no-op when the view has no dims or nothing is left. Returns the
    list of per-chunk summaries."""
    from cl_data_frame_spark.sources.snapshots import (
        _latest_version, snapshot_change_chunks)
    meta = _read_meta(view_dir)
    (fa, *das), _ = _applied(view_dir, meta)
    ft, _dts = _star_targets(
        to_version, _latest_version(meta["fact_dir"]),
        [_latest_version(sp["dir"]) for sp in meta["dims"]])
    out = [matview_refresh(spark, view_dir, to_version=(end, *das))
           for end in snapshot_change_chunks(
               meta["fact_dir"], fa, max(ft, fa), max_feed_files)]
    out.append(matview_refresh(spark, view_dir,
                               to_version=to_version))
    return out


def _eq_dnf_prune(keys: list[str], key_rows) -> list | None:
    """Map a bounded repair-key set onto the snapshot layer's
    predicate surface so the repair scan's file listing prunes by
    stats / blooms / partition tuples: one key -> an IN list, two or
    more keys -> a DNF of equality conjunctions (one branch per
    group)."""
    if key_rows is None or not keys:
        return None
    if len(keys) == 1:
        return [(keys[0], "in", [r[keys[0]] for r in key_rows])]
    return [[(k, "==", r[k]) for k in keys] for r in key_rows]


def _star_targets(to_version, f_latest, d_latests):
    """``to_version``: None (all latest), an int (fact target, dims
    latest), or a (fact, dim_1, ..., dim_k) tuple with None entries
    meaning latest."""
    if to_version is None:
        return f_latest, list(d_latests)
    if isinstance(to_version, (tuple, list)):
        ft = f_latest if to_version[0] is None else int(to_version[0])
        dts = [d_latests[i] if i + 1 >= len(to_version)
               or to_version[i + 1] is None else int(to_version[i + 1])
               for i in range(len(d_latests))]
        return ft, dts
    return int(to_version), list(d_latests)


def _refresh_once(spark: SparkSession, view_dir: str,
                  to_version) -> dict:
    """One refresh attempt: delta-join IVM (the Gupta-Mumick
    construction for SPJ views with aggregation, fact F and dims
    D_1..D_k all under DML). Writing the multiset update
    (F+ΔF)⋈Π(D_i+ΔD_i) − F⋈ΠD_i as a telescoping sum, the view's
    change set for one refresh interval is

        ΔF ⋈ D_1^new ⋈ ... ⋈ D_k^new
      ∪ F^old ⋈ D_1^old..D_{i-1}^old ⋈ ΔD_i ⋈ D_{i+1}^new..D_k^new
        (one term per dim i)

    — each term joins the CHANGED table's signed delta against the
    others at old versions to its left and new versions to its
    right, so every cross term is counted exactly once. With no dims
    the change set is ΔF alone: the single-table view. Signs ride
    the change rows, and everything downstream (signed per-group
    delta aggregation, arithmetic merge, min/max repair, tombstones)
    is ``_apply_feed``. F^old / D_i^old are TIME-TRAVEL reads pinned
    at the versions the view last consumed; a bounded dim delta's key
    set IN-prunes the fact read, so a dim-side trickle never rescans
    the fact table. The one commit carries every advanced source's
    watermark and CAS-checks all of them (a concurrent maintainer
    aborts instead of double-applying). The summary's
    ``from_version`` / ``to_version`` are the fact's versions for a
    view with no dims, ``(fact, dim_1, ..., dim_k)`` tuples
    otherwise.
    """
    from cl_data_frame_spark.sources.snapshots import (
        _latest_version, _release_checkpoint, snapshot_changes,
        snapshot_read)
    meta = _read_meta(view_dir)
    fact_dir = meta["fact_dir"]
    dims = meta["dims"]
    apps = _apps(len(dims))
    keys = list(meta["keys"])
    measure_cols = list(meta["measure_cols"])
    fcols = list(meta["fact_cols"])
    dcols = [list(sp["cols"]) for sp in dims]
    key_exprs = meta.get("key_exprs") or {}
    # the OUTPUT columns of each feed term: derived keys exist after
    # the projection (their dependency columns ride fcols/dcols, as
    # attributed at create)
    need = list(dict.fromkeys([
        *keys, *measure_cols, *(meta.get("distinct_cols") or ()),
        *(meta.get("distinct_approx_cols") or ()),
        *(meta.get("quantile_cols") or ())]))
    f_latest = _latest_version(fact_dir)
    d_latests = [_latest_version(sp["dir"]) for sp in dims]
    if f_latest is None or any(v is None for v in d_latests):
        raise FileNotFoundError(
            f"no snapshot versions in {fact_dir} / dims")
    ft, dts = _star_targets(to_version, f_latest, d_latests)
    (f_applied, *d_applieds), cas = _applied(view_dir, meta)
    ft = max(ft, f_applied)
    dts = [max(t, a) for t, a in zip(dts, d_applieds)]

    def versions(f, ds):
        return (f, *ds) if dims else f

    if ft <= f_applied and all(t <= a for t, a
                               in zip(dts, d_applieds)):
        return {"mode": "noop",
                "from_version": versions(f_applied, d_applieds),
                "to_version": versions(f_applied, d_applieds)}
    where = meta.get("where")

    def dim_at(i, v):
        ddf = _plain(snapshot_read(spark, dims[i]["dir"], version=v))
        gone = [c for c in [dims[i]["dim_on"], *dcols[i]]
                if c not in ddf.columns]
        if gone:
            raise ValueError(
                f"view columns {gone} no longer exist in dim "
                f"{dims[i]['dir']} (schema evolution) — recreate "
                f"the view")
        return ddf.select(
            F.col(dims[i]["dim_on"]).alias(f"__jk{i}__"), *dcols[i])

    def fact_sel(fdf, extra=()):
        return fdf.select(
            *[F.col(dims[i]["fact_on"]).alias(f"__jk{i}__")
              for i in range(len(dims))],
            *fcols, *extra)

    def evaluated(sdf, what):
        """*sdf* with the derived keys projected and the where-filter
        applied."""
        sdf = _project_keys(sdf, key_exprs, what)
        if where is not None:
            # row-local predicate: each change row filters
            # independently, so the filtered feed maintains the
            # filtered view exactly
            try:
                sdf = sdf.where(F.expr(where))
            except Exception as exc:
                raise ValueError(
                    f"the view's where-predicate {where!r} no longer "
                    f"evaluates against {what} (schema evolution?) — "
                    f"recreate the view: {exc}") from exc
        return sdf

    # the dim deltas' checkpoints (those of the feeds rebuilt for
    # _advance_dstate too), released once the view commit has landed
    # or failed
    pinned: list[DataFrame] = []
    feed_stats = {"fact_full_scan": False, "pruned_keys": 0}

    def build_feed(f_from, d_froms, stats=None):
        """The telescoped change set for one interval, parametrized
        by per-source from-versions (the view's watermarks normally;
        a distinct state's own watermarks when they diverge after a
        crash or lost race). Returns None when every source is
        already at its target. *stats* receives this invocation's
        prune observability; the extra rebuilds ``_advance_dstate``
        triggers pass none, so the refresh summary reports exactly
        the VIEW feed's scan shape."""
        if stats is None:
            stats = {"fact_full_scan": False, "pruned_keys": 0}
        parts = []
        if ft > f_from:
            ff = _plain(snapshot_changes(spark, fact_dir,
                                         from_version=f_from,
                                         to_version=ft))
            gone = [c for c in
                    [*(sp["fact_on"] for sp in dims), *fcols]
                    if c not in ff.columns]
            if gone:
                raise ValueError(
                    f"view columns {gone} no longer exist in the "
                    f"fact change feed (schema evolution renamed or "
                    f"dropped them) — recreate the view")
            # ΔF ⋈ every dim at its NEW version; the delta keeps its
            # sign; AQE broadcasts small sides at runtime
            t = fact_sel(ff, extra=("_change_type",))
            for i in range(len(dims)):
                t = t.join(dim_at(i, dts[i]), on=f"__jk{i}__",
                           how="inner")
            parts.append(t)
        f_old = None
        for i in range(len(dims)):
            if dts[i] <= d_froms[i]:
                continue
            dd = _plain(snapshot_changes(spark, dims[i]["dir"],
                                         from_version=d_froms[i],
                                         to_version=dts[i]))
            gone = [c for c in [dims[i]["dim_on"], *dcols[i]]
                    if c not in dd.columns]
            if gone:
                raise ValueError(
                    f"view columns {gone} no longer exist in dim "
                    f"{dims[i]['dir']}'s change feed (schema "
                    f"evolution) — recreate the view")
            dd = dd.select(
                F.col(dims[i]["dim_on"]).alias(f"__jk{i}__"),
                *dcols[i], "_change_type") \
                .localCheckpoint(eager=True)
            pinned.append(dd)
            # F^old ⋈ ΔD_i: the dim delta's sign rides onto every
            # matching fact row; a bounded delta key set IN-prunes
            # the fact time-travel read
            jk = [r[f"__jk{i}__"] for r in
                  dd.select(f"__jk{i}__").distinct().limit(10_001)
                  .collect()]
            if 0 < len(jk) <= 10_000:
                stats["pruned_keys"] += len(jk)
                fread = _plain(snapshot_read(
                    spark, fact_dir, version=f_from,
                    where=[(dims[i]["fact_on"], "in", jk)]))
            else:
                # the IN-prune cap: surfaced in the refresh summary
                # so an operator can see WHY this refresh scanned
                # the whole fact time-travel read
                stats["fact_full_scan"] = True
                if f_old is None:
                    f_old = _plain(snapshot_read(spark, fact_dir,
                                                 version=f_from))
                fread = f_old
            # the dim delta is checkpointed, so the gate count is one
            # cheap job; a mass dim rewrite must not force-broadcast
            t = fact_sel(fread).join(_maybe_broadcast(dd, dd.count()),
                                     on=f"__jk{i}__", how="inner")
            # dims to the LEFT of i at their OLD versions, to the
            # RIGHT at NEW — the telescoping that counts each cross
            # term once
            for j in range(len(dims)):
                if j == i:
                    continue
                t = t.join(dim_at(j, d_froms[j] if j < i
                                  else dts[j]),
                           on=f"__jk{j}__", how="inner")
            parts.append(t)
        if not parts:
            return None
        ch = parts[0]
        for pdf in parts[1:]:
            ch = ch.unionByName(pdf)
        return evaluated(ch, "the change feed") \
            .select(*need, "_change_type")

    # the repair read prunes on the PLAIN keys the fact owns (sound:
    # a superset of the files is read; the recompute still joins on
    # the full key tuple)
    prune_keys = [k for k in keys if k not in key_exprs and k in fcols]

    def repair_reader(key_rows):
        prune = _eq_dnf_prune(prune_keys, key_rows)
        fact = _plain(snapshot_read(spark, fact_dir, version=ft,
                                    where=prune))
        dim_news = [dim_at(i, dts[i]) for i in range(len(dims))]
        if key_rows is not None and prune is None \
                and len(dims) == 1 \
                and set(keys) <= {dims[0]["dim_on"], *dcols[0]}:
            # keys live on the single dim: resolve the repair groups
            # to their (bounded) join-key set and IN-prune the fact
            cond = None
            for r in key_rows:
                t = None
                for k in keys:
                    kc = f"__jk0__" if k == dims[0]["dim_on"] else k
                    e = F.col(kc).eqNullSafe(F.lit(r[k]))
                    t = e if t is None else (t & e)
                cond = t if cond is None else (cond | t)
            pks = [r["__jk0__"] for r in
                   dim_news[0].where(cond).select("__jk0__")
                   .distinct().limit(10_001).collect()]
            if 0 < len(pks) <= 10_000:
                fact = _plain(snapshot_read(
                    spark, fact_dir, version=ft,
                    where=[(dims[0]["fact_on"], "in", pks)]))
        base = fact_sel(fact)
        for i in range(len(dims)):
            base = base.join(dim_news[i], on=f"__jk{i}__",
                             how="inner")
        return evaluated(base, "the source tables").select(*need)

    targets = list(zip(apps, [ft, *dts]))
    view_applied = dict(zip(apps, [f_applied, *d_applieds]))
    try:
        changes = build_feed(f_applied, d_applieds, stats=feed_stats)
        return _apply_feed(
            spark, view_dir, meta, changes, repair_reader,
            txn=[(app, t) for app, t in targets
                 if t > view_applied[app]],
            txn_expect=cas or None,
            meta_done={"fact_version": ft,
                       "dims": [{**sp, "version": dts[i]}
                                for i, sp in enumerate(dims)]},
            meta_noop={"fact_version": f_applied,
                       "dims": [{**sp, "version": d_applieds[i]}
                                for i, sp in enumerate(dims)]},
            summary={"from_version": versions(f_applied, d_applieds),
                     "to_version": versions(ft, dts), **feed_stats},
            feed_ctx={"feed_fn": lambda ap: build_feed(
                          ap[_APP_ID], [ap[app] for app in apps[1:]]),
                      "targets": targets,
                      "view_applied": view_applied})
    finally:
        for df in pinned:
            _release_checkpoint(df)


def _apply_feed(spark: SparkSession, view_dir: str, meta: dict,
                changes: DataFrame, repair_reader,
                txn, txn_expect, meta_done: dict, meta_noop: dict,
                summary: dict, feed_ctx: dict | None = None) -> dict:
    """Apply one refresh interval's signed change rows (columns:
    view keys + measures + ``_change_type``) to the stored view —
    the back half of every refresh, after ``_refresh_once`` has built
    the (delta-join) change feed:
    per-group signed delta aggregation, arithmetic merge of counts /
    exact-decimal sums, min/max repair via ``repair_reader`` (called
    with the bounded repair-key rows, or None when unbounded), cnt=0
    tombstones, ONE watermark-carrying snapshot_merge commit.

    Views with ``distinct_cols`` first advance each column's
    per-value multiplicity state (its own exactly-once commit, see
    ``_advance_dstate``), then write each touched group's ``cntd_c``
    as the ABSOLUTE live-value count read back (group-pruned) from
    the state — absolute values are idempotent under the view's CAS,
    so a crash between the state and view commits replays cleanly.
    Under CONCURRENT maintainers a group's cntd can transiently
    reflect a slightly newer state than its cnt/sum (the racing
    refresh's view commit loses the CAS and re-lands them together),
    converging at the next committed refresh."""
    from cl_data_frame_spark.sources.snapshots import (
        _release_checkpoint, snapshot_merge, snapshot_read)
    keys = list(meta["keys"])
    measure_cols = list(meta["measure_cols"])
    distinct_cols = list(meta.get("distinct_cols") or ())
    approx_cols = list(meta.get("distinct_approx_cols") or ())
    quantile_cols = list(meta.get("quantile_cols") or ())
    kll_k = int(meta.get("kll_k") or 800)
    scale = int(meta["scale"])
    sum_t = _SUM_T.format(s=scale)
    # this refresh's local checkpoints, released once the view commit
    # has landed or failed (nothing reads them after it)
    pinned: list[DataFrame] = []
    try:
        if distinct_cols:
            # the feed now has several consumers (per-group delta +
            # per-value state deltas): pin ONE materialization
            changes = changes.localCheckpoint(eager=True)
            pinned.append(changes)
        # per-group deltas: small (#touched groups), computed once
        delta = _delta_agg(changes, keys, measure_cols, scale,
                           approx_cols, quantile_cols, kll_k) \
            .localCheckpoint(eager=True)
        pinned.append(delta)
        nullkey = F.col(keys[0]).isNull()
        for k in keys[1:]:
            nullkey = nullkey | F.col(k).isNull()
        # one action answers both "how many groups" and "any NULL key"
        probe = delta.agg(
            F.count(F.lit(1)).alias("n"),
            F.max(nullkey.cast("int")).alias("bad")).collect()[0]
        n_touched = int(probe["n"])
        if n_touched == 0:
            # metadata-only / no-op commits in the range: just advance
            # the meta cache; the NEXT real refresh re-reads the same
            # (cheap, empty) range again from the commit watermark.
            _write_meta(view_dir, {**meta, **meta_noop})
            return {"mode": "empty", **summary, "groups_touched": 0}
        if probe["bad"]:
            raise ValueError(
                f"NULL group key in the change feed: materialized views "
                f"require non-NULL group keys {keys} (filter or coalesce "
                f"them in the base table first)")
        # distinct states advance FIRST (their own watermarks make this
        # exactly-once; the view commit below is the refresh's atomic
        # completion point), then each touched group's absolute cntd is
        # read back from the live state, group-pruned
        cntd_abs: dict[str, DataFrame] = {}
        if distinct_cols:
            all_key_rows = delta.select(*keys).collect() \
                if n_touched <= 10_000 else None
            prune = _eq_dnf_prune(keys, all_key_rows)
            for c in distinct_cols:
                _advance_dstate(spark, view_dir, c, keys, feed_ctx,
                                changes)
                st = _plain(snapshot_read(
                    spark, _dstate_dir(view_dir, c), where=prune)) \
                    .where(F.col("dcnt") > 0)
                cntd_abs[c] = _dstate_rollup(st, keys, c, scale)
        view = _plain(snapshot_read(spark, view_dir))
        stored_types = dict(view.dtypes)
        # current view rows for ONLY the touched groups (broadcast
        # semi-join: the view — arbitrarily many groups — streams once).
        # The joined frame is touched-groups-sized; checkpointing it means
        # the view scan runs ONCE, however many downstream actions the
        # merge machinery takes (key-envelope collect, DV matching, CDC
        # classification are each an action over the upserts)
        touched = view.join(_maybe_broadcast(delta.select(*keys),
                                             n_touched),
                            on=keys, how="left_semi")
        # delta columns (d_*/add_*/del_*) and view columns (cnt/sum_*/...)
        # never collide, so the join needs no alias qualifiers — which the
        # checkpoint could not preserve anyway
        j = delta.join(touched, on=keys, how="left") \
            .localCheckpoint(eager=True)
        pinned.append(j)
        new_cnt = F.coalesce(F.col("cnt"), F.lit(0)) + F.col("d_cnt")
        # min/max are not self-maintainable under deletion: repair any
        # group whose deleted values may include a stored extreme (or
        # whose view row is missing while the feed deletes from it —
        # an inconsistent feed; recompute exactly rather than guess)
        repair = F.lit(False)
        for c in measure_cols:
            dmin, dmax = F.col(f"del_min_{c}"), F.col(f"del_max_{c}")
            vmin, vmax = F.col(f"min_{c}"), F.col(f"max_{c}")
            has_del = dmin.isNotNull()
            repair = repair | (has_del & (
                F.col("cnt").isNull() | vmin.isNull()
                | (dmin <= vmin) | (dmax >= vmax)))
        for c in approx_cols:
            # HLL sketches cannot subtract: a group that lost any
            # non-NULL value recomputes exactly from the pinned base
            repair = repair | (F.col(f"deld_{c}") == 1)
        for c in quantile_cols:
            # neither can KLL: same exact-repair rule
            repair = repair | (F.col(f"delq_{c}") == 1)
        stored_cols = ["cnt"] + [f"{p}_{c}" for c in measure_cols
                                 for p in ("sum", "nn", "min", "max")] \
            + [f"{p}_{c}" for c in distinct_cols
               for p in ("cntd", "sumd")] \
            + [f"hll_{c}" for c in approx_cols] \
            + [f"kll_{c}" for c in quantile_cols]
        # arithmetic path (no deleted extreme): counts and exact-decimal
        # sums add; inserted values can only improve min/max (F.least /
        # F.greatest skip NULLs, so a fresh group takes the added extreme)
        arith_cols = [*[F.col(k) for k in keys],
                      new_cnt.cast("long").alias("cnt")]
        for c in measure_cols:
            new_nn = (F.coalesce(F.col(f"nn_{c}"), F.lit(0))
                      + F.col(f"d_nn_{c}"))
            new_sum = (F.coalesce(F.col(f"sum_{c}"),
                                  F.lit(0).cast(sum_t))
                       + F.col(f"d_sum_{c}"))
            arith_cols += [
                new_sum.cast(sum_t).alias(f"sum_{c}"),
                new_nn.cast("long").alias(f"nn_{c}"),
                F.when(new_nn > 0,
                       F.least(F.col(f"min_{c}"),
                               F.col(f"add_min_{c}")))
                .alias(f"min_{c}"),
                F.when(new_nn > 0,
                       F.greatest(F.col(f"max_{c}"),
                                  F.col(f"add_max_{c}")))
                .alias(f"max_{c}"),
            ]
        for c in approx_cols:
            # insert-only groups: one lossless sketch union (an empty
            # inserted-side sketch — all-NULL adds — unions as identity);
            # fresh groups take the inserted sketch outright
            arith_cols.append(
                F.when(F.col(f"hll_{c}").isNull(),
                       F.col(f"add_hll_{c}"))
                .otherwise(F.hll_union(F.col(f"hll_{c}"),
                                       F.col(f"add_hll_{c}")))
                .alias(f"hll_{c}"))
        for c in quantile_cols:
            # insert-only groups: one lossless sketch merge; an all-NULL
            # inserted side is a NULL sketch — keep the stored one
            arith_cols.append(
                F.when(F.col(f"kll_{c}").isNull(),
                       F.col(f"add_kll_{c}"))
                .when(F.col(f"add_kll_{c}").isNull(),
                      F.col(f"kll_{c}"))
                .otherwise(F.kll_sketch_merge_double(
                    F.col(f"kll_{c}"), F.col(f"add_kll_{c}")))
                .alias(f"kll_{c}"))
        arith = j.where(~repair).select(*arith_cols)
        for c in distinct_cols:
            # absolute live-value aggregates for the touched groups; a
            # touched group with no live state rows counts 0 (SQL:
            # COUNT(DISTINCT) over empty/all-NULL is 0, not NULL) with a
            # NULL distinct-sum (SUM(DISTINCT) over empty is NULL)
            arith = arith.join(cntd_abs[c], on=keys, how="left") \
                .withColumn(f"cntd_{c}",
                            F.coalesce(F.col(f"cntd_{c}"), F.lit(0)))
        # repaired groups: exact re-aggregation from the base PINNED at
        # the target version(s), over only those groups (their key rows
        # come off the checkpointed join — no extra view scan)
        repair_keys = j.where(repair).select(*keys)
        n_repair = repair_keys.count()
        if n_repair:
            # a bounded repair set is collected (metadata-sized: n_repair
            # key tuples) so the reader can prune its base scan
            key_rows = j.where(repair).select(*keys).collect() \
                if n_repair <= 10_000 else None
            base = repair_reader(key_rows)
            base_rows = base.join(_maybe_broadcast(repair_keys, n_repair),
                                  on=keys, how="inner")
            recomputed = _full_agg(base_rows, keys, measure_cols, scale,
                                   distinct_cols, approx_cols,
                                   quantile_cols, kll_k)
            # groups repaired AWAY (no base rows left) need tombstones
            # too, or the merge would leave their stale view rows live
            erased = repair_keys.join(recomputed.select(*keys),
                                      on=keys, how="left_anti")
            tomb_cols = [*[F.col(k) for k in keys],
                         F.lit(0).cast("long").alias("cnt")]
            for c in measure_cols:
                t = stored_types.get(f"min_{c}", "double")
                tomb_cols += [
                    F.lit(0).cast(sum_t).alias(f"sum_{c}"),
                    F.lit(0).cast("long").alias(f"nn_{c}"),
                    F.lit(None).cast(t).alias(f"min_{c}"),
                    F.lit(None).cast(t).alias(f"max_{c}"),
                ]
            for c in distinct_cols:
                tomb_cols += [
                    F.lit(0).cast("long").alias(f"cntd_{c}"),
                    F.lit(None).cast(sum_t).alias(f"sumd_{c}"),
                ]
            for c in approx_cols:
                tomb_cols.append(
                    F.lit(None).cast("binary").alias(f"hll_{c}"))
            for c in quantile_cols:
                tomb_cols.append(
                    F.lit(None).cast("binary").alias(f"kll_{c}"))
            upserts = arith.unionByName(recomputed) \
                .unionByName(erased.select(*tomb_cols))
        else:
            upserts = arith
        # conform exactly to the view's stored schema (decimal widths,
        # parquet type stability next to carried-over files), then pin ONE
        # materialization: snapshot_merge takes several actions over its
        # source (key envelope, DV matching, the merge itself, CDC
        # classification) and the upserts are touched-groups-sized
        upserts = upserts.select(
            *[F.col(k) for k in keys],
            *[F.col(c).cast(stored_types[c]).alias(c)
              for c in stored_cols]).localCheckpoint(eager=True)
        pinned.append(upserts)
        snapshot_merge(spark, view_dir, SparkFrame(upserts), on=keys,
                       txn=txn, txn_expect=txn_expect)
        _write_meta(view_dir, {**meta, **meta_done})
        return {"mode": "incremental", **summary,
                "groups_touched": n_touched, "groups_repaired": n_repair,
                # observability: True when any key-set broadcast hint was
                # withheld this refresh (AQE chose the join strategy)
                "broadcast_gated": (n_touched > _KEY_BROADCAST_MAX
                                    or n_repair > _KEY_BROADCAST_MAX)}
    finally:
        for df in pinned:
            _release_checkpoint(df)


def matview_evolve(spark: SparkSession, view_dir: str,
                   add_measure_cols: Sequence[str] = (),
                   add_distinct_cols: Sequence[str] = (),
                   add_distinct_approx_cols: Sequence[str] = (),
                   add_quantile_cols: Sequence[str] = (),
                   quantile_probs: Sequence[float] | None = None,
                   kll_k: int | None = None) -> dict:
    """EVOLVE a live materialized view: add measure / distinct /
    approx-distinct / quantile columns WITHOUT rebuilding the
    aggregates the view already maintains — "add p95 latency to the
    dashboard" as one backfill, not a recreate.

    Mechanics: the new columns' per-group state is computed from the
    base pinned at the view's CURRENT applied watermark(s) (so the
    backfill and the existing columns describe the same versions),
    LEFT-joined onto every stored view row (tombstones take the
    tombstone shape), and published as ONE overwrite that CARRIES the
    view's txn watermarks — the next ``matview_refresh`` maintains old
    and new columns together from the same feed interval. New exact
    distinct columns get their companion state table built at the
    pinned version under the same watermarks. The new columns'
    OWNERSHIP (the fact or one dim) is attributed and recorded, so
    the telescoped change terms carry them.

    Run it quiesced, like ``ann_index_recluster`` or OPTIMIZE — a
    refresh racing the overwrite can fail its merge (it retries
    cleanly afterwards). Idempotent: a crash between the view commit
    and the meta write is healed by re-running the evolve (the
    backfill recomputes from the same pinned versions). Returns a
    summary dict."""
    from cl_data_frame_spark.sources.snapshots import (
        _release_checkpoint, snapshot_read, snapshot_write)
    meta = _read_meta(view_dir)
    add_measure_cols = list(add_measure_cols)
    add_distinct_cols = list(add_distinct_cols)
    add_approx_cols = list(add_distinct_approx_cols)
    add_quantile_cols = list(add_quantile_cols)
    new_cols = [*add_measure_cols, *add_distinct_cols,
                *add_approx_cols, *add_quantile_cols]
    if not new_cols:
        raise ValueError("matview_evolve: nothing to add")
    keys = list(meta["keys"])
    key_exprs = meta.get("key_exprs") or {}
    where = meta.get("where")
    scale = int(meta["scale"])
    # per-FAMILY duplicate check: a quantile over an existing measure
    # column (and vice versa) is legal — only re-adding a column to
    # the family it already belongs to, or aggregating a key, is not
    dup = [c for c in add_measure_cols if c in meta["measure_cols"]] \
        + [c for c in add_distinct_cols
           if c in (meta.get("distinct_cols") or ())] \
        + [c for c in add_approx_cols
           if c in (meta.get("distinct_approx_cols") or ())
           or c in add_distinct_cols
           or c in (meta.get("distinct_cols") or ())] \
        + [c for c in add_quantile_cols
           if c in (meta.get("quantile_cols") or ())] \
        + [c for c in new_cols if c in keys]
    if dup:
        raise ValueError(
            f"columns {sorted(set(dup))} are already declared in "
            f"that family (or are view keys)")
    if add_quantile_cols:
        if kll_k is None:
            kll_k = int(meta.get("kll_k") or 800)
        if quantile_probs is None:
            quantile_probs = [float(p) for p in
                              meta.get("quantile_probs")
                              or (0.5, 0.95, 0.99)]
        if meta.get("quantile_cols") and (
                int(meta["kll_k"]) != int(kll_k)
                or [float(p) for p in meta["quantile_probs"]]
                != [float(p) for p in quantile_probs]):
            raise ValueError(
                "a view keeps ONE kll_k / quantile_probs setting — "
                "added quantile columns must match the existing one")
    # --- the base, pinned at the view's applied watermark(s) --------
    dims = meta["dims"]
    applied, _ = _applied(view_dir, meta)
    fact = _plain(snapshot_read(spark, meta["fact_dir"],
                                version=applied[0]))
    dim_dfs = [_plain(snapshot_read(spark, sp["dir"],
                                    version=applied[i + 1]))
               for i, sp in enumerate(dims)]
    # attribute the NEW columns (fact vs exactly one dim), the same
    # rule as create; a new family over a column the view already
    # carries adds nothing to carry
    new_f, new_d = _attribute(dict.fromkeys(new_cols), fact.columns,
                              dims, [d.columns for d in dim_dfs])
    fcols = list(dict.fromkeys([*meta["fact_cols"], *new_f]))
    dcols = [list(dict.fromkeys([*sp["cols"], *new_d[i]]))
             for i, sp in enumerate(dims)]
    base = _project_keys(
        _star_join(fact, dims, dim_dfs, fcols, dcols,
                   [*fcols, *sum(dcols, [])]),
        key_exprs, "the source tables")
    targets = list(zip(_apps(len(dims)), applied))
    meta_update = {"fact_cols": fcols,
                   "dims": [{**sp, "cols": dcols[i]}
                            for i, sp in enumerate(dims)]}
    if where is not None:
        base = base.where(F.expr(where))
    # --- new distinct STATE tables at the pinned version ------------
    for c in add_distinct_cols:
        snapshot_write(SparkFrame(_dstate_build(base, keys, c)),
                       _dstate_dir(view_dir, c), mode="overwrite",
                       stats_cols=[*keys, c], txn=targets,
                       txn_reset=True)
    # --- per-group backfill of exactly the NEW columns --------------
    addagg = _full_agg(base, keys, add_measure_cols, scale,
                       add_distinct_cols, add_approx_cols,
                       add_quantile_cols, kll_k or 800).drop("cnt")
    view = _plain(snapshot_read(spark, view_dir))
    sum_t = _SUM_T.format(s=scale)
    out = view.join(addagg, on=keys, how="left")
    # tombstoned / unmatched groups take the tombstone shape
    for c in add_measure_cols:
        out = out.withColumn(
            f"sum_{c}", F.coalesce(F.col(f"sum_{c}"),
                                   F.lit(0).cast(sum_t))) \
            .withColumn(f"nn_{c}",
                        F.coalesce(F.col(f"nn_{c}"),
                                   F.lit(0).cast("long")))
    for c in add_distinct_cols:
        out = out.withColumn(
            f"cntd_{c}", F.coalesce(F.col(f"cntd_{c}"),
                                    F.lit(0).cast("long")))
    out = out.localCheckpoint(eager=True)
    try:
        snapshot_write(SparkFrame(out), view_dir, mode="overwrite",
                       stats_cols=keys)
    finally:
        _release_checkpoint(out)
    meta2 = {**meta, **meta_update,
             "measure_cols": meta["measure_cols"]
             + add_measure_cols}
    if add_distinct_cols:
        meta2["distinct_cols"] = list(
            meta.get("distinct_cols") or ()) + add_distinct_cols
    if add_approx_cols:
        meta2["distinct_approx_cols"] = list(
            meta.get("distinct_approx_cols") or ()) + add_approx_cols
    if add_quantile_cols:
        meta2["quantile_cols"] = list(
            meta.get("quantile_cols") or ()) + add_quantile_cols
        meta2["quantile_probs"] = [float(p) for p in quantile_probs]
        meta2["kll_k"] = int(kll_k)
    _write_meta(view_dir, meta2)
    return {"mode": "evolve", "pinned": [v for _, v in targets],
            "added": new_cols}


def matview_drop_measures(spark: SparkSession, view_dir: str,
                          measure_cols: Sequence[str] = (),
                          distinct_cols: Sequence[str] = (),
                          distinct_approx_cols: Sequence[str] = (),
                          quantile_cols: Sequence[str] = ()) -> dict:
    """The DROP counterpart of ``matview_evolve``: remove measure /
    distinct / approx-distinct / quantile columns from a live view —
    one overwrite without the dropped columns (txn watermarks
    carried, so refresh continues seamlessly on what remains), the
    meta updated, and a dropped exact-distinct column's companion
    state table deleted. Run quiesced, like evolve. Returns a
    summary dict."""
    import shutil

    from cl_data_frame_spark.sources.snapshots import (
        _release_checkpoint, snapshot_read, snapshot_write)
    meta = _read_meta(view_dir)
    measure_cols = list(measure_cols)
    distinct_cols = list(distinct_cols)
    approx_cols = list(distinct_approx_cols)
    quantile_cols = list(quantile_cols)
    if not (measure_cols or distinct_cols or approx_cols
            or quantile_cols):
        raise ValueError("matview_drop_measures: nothing to drop")
    missing = [c for c in measure_cols
               if c not in meta["measure_cols"]] \
        + [c for c in distinct_cols
           if c not in (meta.get("distinct_cols") or ())] \
        + [c for c in approx_cols
           if c not in (meta.get("distinct_approx_cols") or ())] \
        + [c for c in quantile_cols
           if c not in (meta.get("quantile_cols") or ())]
    if missing:
        raise KeyError(
            f"columns {sorted(set(missing))} are not declared in "
            f"the families given")
    drop = [f"{p}_{c}" for c in measure_cols
            for p in ("sum", "nn", "min", "max")] \
        + [f"{p}_{c}" for c in distinct_cols
           for p in ("cntd", "sumd")] \
        + [f"hll_{c}" for c in approx_cols] \
        + [f"kll_{c}" for c in quantile_cols]
    view = _plain(snapshot_read(spark, view_dir)).drop(*drop) \
        .localCheckpoint(eager=True)
    try:
        snapshot_write(SparkFrame(view), view_dir, mode="overwrite",
                       stats_cols=list(meta["keys"]))
    finally:
        _release_checkpoint(view)
    meta2 = {**meta,
             "measure_cols": [c for c in meta["measure_cols"]
                              if c not in measure_cols]}
    for key, gone in (("distinct_cols", distinct_cols),
                      ("distinct_approx_cols", approx_cols),
                      ("quantile_cols", quantile_cols)):
        left = [c for c in (meta.get(key) or ()) if c not in gone]
        if left:
            meta2[key] = left
        else:
            meta2.pop(key, None)
    if not meta2.get("quantile_cols"):
        meta2.pop("quantile_probs", None)
        meta2.pop("kll_k", None)
    _write_meta(view_dir, meta2)
    # dropped exact-distinct state tables go last: the view commit is
    # the completion point, and a crash before this cleanup leaves
    # only an orphaned (ignored) directory
    for c in distinct_cols:
        shutil.rmtree(_dstate_dir(view_dir, c), ignore_errors=True)
    return {"mode": "drop", "dropped_columns": drop}


def matview_refresh_stream(spark: SparkSession, view_dir: str,
                           checkpoint_dir: str | None = None,
                           trigger_seconds: float | None = None,
                           available_now: bool = False):
    """CONTINUOUS maintenance: a Structured Streaming query over the
    view's change feeds whose micro-batches each call
    ``matview_refresh`` — the standard Delta pattern
    (``readChangeFeed`` -> ``foreachBatch`` MERGE), with the refresh
    itself providing exactly-once through the commit-riding txn
    watermark: an overlapping or replayed trigger is a no-op, so the
    stream needs no delivery guarantees of its own. The feed rows are
    used as the CHANGE SIGNAL (the refresh re-reads the batch CDC
    range under its own watermark — versions, not rows, are the unit
    of consistency here); the stream starts at the view's current
    watermark so history is not re-shipped.

    ``available_now=True`` processes everything committed so far and
    stops (catch-up / test mode); otherwise pass ``trigger_seconds``
    for a processing-time trigger or leave both unset for Spark's
    default micro-batch loop. Returns the ``StreamingQuery`` — call
    ``.stop()`` to end maintenance."""
    from cl_data_frame_spark.streaming.snapshot_source import (
        read_stream_snapshot)
    meta = _read_meta(view_dir)
    # a view has k+1 change signals (the fact and each dim); ANY
    # table's commits trigger a refresh (which consumes every feed
    # under its own per-source watermarks). The signal rows are
    # discarded, so a shared schema is not required — only their
    # arrival.
    applied, _ = _applied(view_dir, meta)
    feed = None
    for src, v in zip([meta["fact_dir"],
                       *(sp["dir"] for sp in meta["dims"])], applied):
        sig = read_stream_snapshot(
            spark, src, read_change_feed=True,
            starting_version=v + 1).select(F.lit(1).alias("sig"))
        feed = sig if feed is None else feed.unionByName(sig)

    def _on_batch(_batch_df, _batch_id):
        matview_refresh(spark, view_dir)

    ckpt = checkpoint_dir or os.path.join(view_dir, "_maintenance",
                                          "stream_ckpt")
    writer = (feed.writeStream.foreachBatch(_on_batch)
              .option("checkpointLocation", ckpt))
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(
            processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def matview_compact(spark: SparkSession, view_dir: str,
                    target_file_mb: int = 128,
                    vacuum_retain_hours: float | None = None
                    ) -> int:
    """Housekeeping: purge cnt=0 TOMBSTONES and bin-pack the view's
    files (and each distinct-state table's, dcnt<=0). Safe at any
    time — a refresh treats an absent group and a tombstoned group
    identically (both arithmetic-resume from zero state and both
    repair on deletion anomalies), tombstones exist only because the
    refresh's single MERGE commit cannot delete rows. Returns the
    view's new version.

    ``vacuum_retain_hours`` additionally VACUUMS the view and its
    state tables (keep_last=1, the given age floor) — every refresh
    is one snapshot commit on each, so a long-maintained view
    accumulates history the same way any table does; passing e.g.
    ``168`` reclaims week-old maintenance versions while honoring
    pinned readers. Time travel to vacuumed view versions stops
    working — the usual retention trade."""
    from cl_data_frame_spark.sources.snapshots import (
        snapshot_delete, snapshot_optimize, snapshot_read,
        snapshot_vacuum)
    meta = _read_meta(view_dir)   # fail loudly on a non-view
    for c in meta.get("distinct_cols") or ():
        sd = _dstate_dir(view_dir, c)
        if _plain(snapshot_read(spark, sd)) \
                .where(F.col("dcnt") <= 0).limit(1).count():
            snapshot_delete(spark, sd, [("dcnt", "<=", 0)])
        snapshot_optimize(spark, sd, target_file_mb=target_file_mb)
        if vacuum_retain_hours is not None:
            snapshot_vacuum(sd, keep_last=1,
                            retain_hours=vacuum_retain_hours)
    tombs = _plain(snapshot_read(spark, view_dir)) \
        .where(F.col("cnt") == 0).limit(1).count()
    if tombs:
        snapshot_delete(spark, view_dir, [("cnt", "==", 0)])
    out = snapshot_optimize(spark, view_dir,
                            target_file_mb=target_file_mb)
    if vacuum_retain_hours is not None:
        snapshot_vacuum(view_dir, keep_last=1,
                        retain_hours=vacuum_retain_hours)
    return out


def matview_read(spark: SparkSession, view_dir: str,
                 version: int | None = None) -> SparkFrame:
    """The view as a user-facing aggregate: tombstones filtered,
    SQL NULL semantics restored (empty/all-NULL measures expose NULL
    sum/avg/min/max), ``avg_c`` derived as double(sum)/nn from the
    exact decimal sum. ``version`` time-travels the view's own
    snapshot history (every refresh is one commit, so version N is
    the view exactly as the Nth maintenance step left it)."""
    from cl_data_frame_spark.sources.snapshots import snapshot_read
    meta = _read_meta(view_dir)
    keys = list(meta["keys"])
    stored = _plain(snapshot_read(spark, view_dir,
                                  version=version)) \
        .where(F.col("cnt") > 0)
    cols = [*[F.col(k) for k in keys], F.col("cnt")]
    for c in meta["measure_cols"]:
        nn = F.col(f"nn_{c}")
        cols += [
            F.when(nn > 0, F.col(f"sum_{c}")).alias(f"sum_{c}"),
            F.when(nn > 0,
                   F.col(f"sum_{c}").cast("double") / nn)
            .alias(f"avg_{c}"),
            F.col(f"min_{c}"), F.col(f"max_{c}"),
        ]
    for c in meta.get("distinct_cols") or ():
        cd = F.col(f"cntd_{c}")
        cols += [
            cd,
            F.col(f"sumd_{c}"),
            F.when(cd > 0, F.col(f"sumd_{c}").cast("double") / cd)
            .alias(f"avgd_{c}"),
        ]
    for c in meta.get("distinct_approx_cols") or ():
        # estimate of an empty sketch is 0; a tombstone-adjacent NULL
        # coalesces to 0 too (COUNT semantics, never NULL)
        cols.append(
            F.coalesce(
                F.hll_sketch_estimate(F.col(f"hll_{c}")),
                F.lit(0).cast("long")).alias(f"cntd_approx_{c}"))
    probs = [float(p) for p in meta.get("quantile_probs") or ()]
    for c in meta.get("quantile_cols") or ():
        # an all-NULL group aggregates to an EMPTY (non-NULL) sketch
        # whose get_quantile throws — gate on the retained count, so
        # empty and tombstone-NULL sketches both expose NULL
        # quantiles (percentile over no values is NULL, SQL
        # semantics)
        sk = F.col(f"kll_{c}")
        ok = sk.isNotNull() & (F.kll_sketch_get_n_double(sk) > 0)
        for p in probs:
            tag = ("%g" % (p * 100)).replace(".", "_")
            cols.append(
                F.when(ok, F.kll_sketch_get_quantile_double(
                    sk, F.lit(p))).alias(f"q{tag}_{c}"))
    return SparkFrame(stored.select(*cols))

"""Versioned snapshot tables: append/overwrite + time travel + vacuum.

Tier S sources/sinks extension (SURVEY.md §2.2): the reference
(`cl-data-frame.lisp:1-583`) has no I/O at all; a 100 TB pipeline needs
reproducible reads ("train on exactly the corpus snapshot the eval ran
on") — the manifest-of-files idea public lakehouse formats (Delta Lake,
Apache Iceberg papers) are built on, reduced to its portable core:

Layout::

    <table_dir>/
      _manifests/v00000001.json   full state: {"version", "files",
                                   "schema", "parent", "operation"}
      _manifests/v00000002.json   DELTA commit: {"add", "remove",
                                   "stats_add", "op_rename", ...}
      _manifests/v00000020.ckpt.parquet   full-state checkpoint
                                   every _CHECKPOINT_EVERY commits
      _manifests/sidecars/sc-<token>.json   bloom-filter bytes
      _manifests/sidecars/dv-<token>/*.parquet   deletion vectors
      data/v00000001-<token>/part-*.parquet

Commits are O(changed files) on disk (the public Delta log protocol's
checkpoint + delta design): ``_publish`` diffs the full in-memory
state against the parent and writes only the delta — verified by
replay, falling back to the full state whenever the replay would not
be exact, so correctness never depends on delta-ability. Reads
reconstruct from the nearest checkpoint (O(1)) plus the deltas since
(bounded by the cadence), LRU-cached in-process. Bloom-filter bytes
live in immutable sidecar files referenced from the manifest and are
loaded lazily, only for files that survive min/max stats pruning —
commit JSON never carries filter payloads.

- Every write lands data in a FRESH uniquely-named directory (no file
  is ever mutated or reused across writes), then publishes a manifest
  naming the full file set of the new version: ``append`` = parent's
  files + new, ``overwrite`` = new only. Readers resolve a manifest
  (latest or pinned ``version=``) and scan exactly those files —
  concurrent writers cannot corrupt a read, and an unpublished crash
  leaves only orphan data files that ``vacuum`` collects.
- Manifest publish is write-temp-then-``os.link`` — an atomic
  create-exclusive on POSIX filesystems, so of two racing writers for
  the same version exactly one publishes and the other gets
  ``FileExistsError`` (optimistic concurrency). (Object stores without
  atomic create need a commit lock/service on top, exactly as the
  public formats document; the manifest content itself is portable.)
- Scale: the manifest is a file-path list — KBs of driver-side metadata
  per version even when the files hold terabytes; data moves only
  through normal distributed parquet writes. ``files`` carries
  per-file row counts so ``history`` answers count questions from
  metadata alone.

Cite: /root/reference has no counterpart (no I/O surface); semantics
follow the public Delta/Iceberg snapshot model.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import uuid
import zlib
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cl_data_frame_spark.frame import SparkFrame, sql_ident
from cl_data_frame_spark.session import local_frame

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
#: materialized change-data files (Delta's _change_data): one dir per
#: DML commit, referenced from that commit's manifest "cdc" key
_CDC_DIR = "_change_data"
_SIDECAR_DIR = "sidecars"
_LATEST_HINT = "_latest"
_CKPT_HINT = "_last_ckpt"

#: write a full-state checkpoint every N commits (the Delta log's
#: checkpoint cadence, default 10 there; 20 keeps reconstruction reads
#: bounded while halving checkpoint I/O). Commits between checkpoints
#: are O(delta) JSON; reads are O(1) checkpoint + O(commits-since).
_CHECKPOINT_EVERY = 20


def _plain(frame) -> DataFrame:
    return frame.spark_df if isinstance(frame, SparkFrame) else frame


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, _MANIFEST_DIR, f"v{version:08d}.json")


def _ckpt_pq_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, _MANIFEST_DIR,
                        f"v{version:08d}.ckpt.parquet")


def _versions_listed(table_dir: str) -> list[int]:
    """O(#versions) directory listing — the fallback when no latest
    hint exists (pre-hint tables) and the bootstrap under a stale
    hint."""
    mdir = os.path.join(table_dir, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def _version_range(table_dir: str) -> tuple[int, int] | None:
    """The live ``[earliest, latest]`` version range in O(log N)
    ``stat`` calls: versions are CONTIGUOUS by construction (every
    publish is parent+1; vacuum only ever drops a prefix — the keep
    window and the age floor both select a suffix), so the latest
    comes from the O(1) hint and the earliest from a binary search
    for the existence boundary. Returns None for an empty table."""
    latest = _latest_version(table_dir)
    if latest is None:
        return None
    if os.path.exists(_manifest_path(table_dir, 1)):
        return 1, latest
    lo, hi = 1, latest           # exists(hi); not exists(lo)
    while hi - lo > 1:
        mid = (lo + hi) // 2
        if os.path.exists(_manifest_path(table_dir, mid)):
            hi = mid
        else:
            lo = mid
    return hi, latest


def _versions(table_dir: str) -> list[int]:
    rng = _version_range(table_dir)
    return [] if rng is None else list(range(rng[0], rng[1] + 1))


# ---------------------------------------------------------------------------
# checkpointed manifest log (the public Delta log protocol's portable
# core): a commit writes only its DELTA against the parent version —
# added/removed files, stats/bloom for the added files, metadata-op
# records — so commit JSON is O(changed files), not O(#files). Every
# _CHECKPOINT_EVERY commits (and before vacuum drops history) a full
# reconstructed state lands in a vNNNNNNNN.ckpt.parquet file; a read
# resolves O(1) checkpoint + O(commits-since-checkpoint) deltas.
# Reconstructed states are LRU-cached in-process (manifests are
# immutable once published, so the cache can never serve a stale
# answer). The _read_manifest contract is unchanged: callers always
# receive the FULL logical state dict, whatever the on-disk encoding.
# ---------------------------------------------------------------------------

_STATE_CACHE: "dict[tuple[str, int], dict]" = {}
_STATE_CACHE_MAX = 16
#: guards the two driver-side LRU dicts below: concurrent jobs over
#: DIFFERENT snapshot tables (a normal shape — independent table
#: maintenance overlapped per the scheduler-backfill recipe) would
#: otherwise race the eviction loops' iter+pop.
import threading as _threading

_CACHE_LOCK = _threading.Lock()
#: memory bound: a state's driver footprint is ~linear in #files
#: (file list + stats + blooms + partition tuples), ~1.3 KB/file at
#: the 1M-file checkpoint measurement — so cap the LRU by TOTAL
#: cached files, not entry count, and never cache giant states at
#: all (the streamed checkpoint listing serves predicated reads on
#: those without reconstructing a dict).
_STATE_CACHE_ENTRY_MAX_FILES = 100_000
_STATE_CACHE_MAX_FILES = 200_000


def _state_nfiles(state: dict) -> int:
    return len(state.get("files") or ())


def _cache_put(tdir: str, version: int, state: dict) -> None:
    import copy
    if _state_nfiles(state) > _STATE_CACHE_ENTRY_MAX_FILES:
        return
    key = (tdir, version)
    snap = copy.deepcopy(state)
    with _CACHE_LOCK:
        _STATE_CACHE.pop(key, None)
        _STATE_CACHE[key] = snap
        while len(_STATE_CACHE) > _STATE_CACHE_MAX or (
                len(_STATE_CACHE) > 1
                and sum(map(_state_nfiles, _STATE_CACHE.values()))
                > _STATE_CACHE_MAX_FILES):
            _STATE_CACHE.pop(next(iter(_STATE_CACHE)))


def _cache_drop_table(tdir: str) -> None:
    with _CACHE_LOCK:
        for key in [k for k in _STATE_CACHE if k[0] == tdir]:
            del _STATE_CACHE[key]


def _apply_delta(state: dict, d: dict) -> dict:
    """Reconstruct a child version's full state from the parent's:
    file add/remove, carried stats/bloom/rename-chains restricted to
    surviving files, compact metadata ops (op_rename/op_drop mirror
    snapshot_rename_column / snapshot_drop_column exactly), then
    explicit per-file overrides/deletions for anything else."""
    rm = set(d.get("remove") or [])
    files = [f for f in state["files"] if f not in rm] \
        + list(d.get("add") or [])
    keep = set(files)
    stats = {f: sd for f, sd in (state.get("stats") or {}).items()
             if f in keep}
    bloom = {f: b for f, b in (state.get("bloom") or {}).items()
             if f in keep}
    renames = {f: [list(p) for p in ch] for f, ch in
               (state.get("renamed_files") or {}).items() if f in keep}
    dv = {f: e for f, e in (state.get("dv") or {}).items()
          if f in keep}
    parts_ = {f: p for f, p in (state.get("partitions") or {}).items()
              if f in keep}
    if d.get("op_rename"):
        old, new = d["op_rename"]
        for f in files:
            renames.setdefault(f, []).append([old, new])
        stats = {f: {(new if c == old else c): st
                     for c, st in sd.items()}
                 for f, sd in stats.items()}
        bloom = {f: {(new if c == old else c): e
                     for c, e in b.items()} for f, b in bloom.items()}
    if d.get("op_drop"):
        col, tomb = d["op_drop"]
        for f in files:
            renames.setdefault(f, []).append([col, tomb])
        stats = {f: {c: st for c, st in sd.items() if c != col}
                 for f, sd in stats.items()}
        stats = {f: sd for f, sd in stats.items() if sd}
        bloom = {f: {c: e for c, e in b.items() if c != col}
                 for f, b in bloom.items()}
        bloom = {f: b for f, b in bloom.items() if b}
    for f in d.get("stats_del") or []:
        stats.pop(f, None)
    for f in d.get("bloom_del") or []:
        bloom.pop(f, None)
    for f in d.get("renames_del") or []:
        renames.pop(f, None)
    for f in d.get("dv_del") or []:
        dv.pop(f, None)
    for f in d.get("parts_del") or []:
        parts_.pop(f, None)
    stats.update(d.get("stats_add") or {})
    bloom.update(d.get("bloom_add") or {})
    renames.update(d.get("renames_add") or {})
    dv.update(d.get("dv_add") or {})
    parts_.update(d.get("parts_add") or {})
    out = {"version": d["version"], "parent": d["parent"],
           "operation": d["operation"], "schema": d["schema"],
           "files": files}
    if stats:
        out["stats"] = stats
    if bloom:
        out["bloom"] = bloom
    if renames:
        out["renamed_files"] = renames
    if dv:
        out["dv"] = dv
    if parts_:
        out["partitions"] = parts_
    if d.get("constraints"):
        out["constraints"] = d["constraints"]
    if d.get("generated"):
        out["generated"] = d["generated"]
    if d.get("txn"):
        out["txn"] = d["txn"]
    if d.get("op_info"):
        out["op_info"] = d["op_info"]   # commit-scoped, not carried
    if d.get("op_metrics"):
        out["op_metrics"] = d["op_metrics"]   # commit-scoped
    if d.get("cdc"):
        out["cdc"] = d["cdc"]           # commit-scoped, not carried
    if d.get("cluster_by"):
        out["cluster_by"] = d["cluster_by"]
    return out


def _norm_state(m: dict) -> dict:
    """A manifest's logical state normalized for equality (empty maps
    drop out, so {'stats': {}} and no-stats compare equal). Compared
    with plain dict ``==`` — C-speed, no O(#files) JSON string build:
    the replay check runs on EVERY commit, and serializing a
    million-file state twice per commit would put seconds of driver
    CPU on the commit path for nothing."""
    out = {"version": m["version"], "parent": m.get("parent"),
           "operation": m.get("operation"), "schema": m["schema"],
           "files": list(m["files"])}
    for k in ("stats", "bloom", "renamed_files", "dv", "partitions",
              "constraints", "generated", "txn", "op_info",
              "op_metrics", "cdc", "cluster_by"):
        if m.get(k):
            out[k] = m[k]
    if out.get("renamed_files"):
        # chains may be tuples in-memory, lists after a JSON
        # round-trip — the one non-JSON-native shape in a state dict
        # (json.dumps used to equate them; dict == must too)
        out["renamed_files"] = {
            f: [list(p) for p in ch]
            for f, ch in out["renamed_files"].items()}
    return out


def _make_delta(parent: dict, full: dict,
                ops: dict | None) -> dict | None:
    """The O(changed-files) commit record whose replay over *parent*
    reproduces *full* exactly — or None when it can't (the caller then
    writes the full state; correctness never depends on delta-ability,
    only commit size does).

    Driver-CPU bound: the replay VERIFICATION walks the full state a
    handful of times (candidate build + per-key residuals + the final
    dict equality) — measured ~14s per commit at a synthetic 1M files
    (tools/ckpt_bench.py machine). That is the price of never
    publishing a delta whose replay could diverge; per-commit cost is
    flat in data volume (metadata only) and a real deployment at that
    file count compacts first (OPTIMIZE) — 1M live files of 100 MB is
    100 TB in pathologically small files."""
    pset = set(parent["files"])
    fset = set(full["files"])
    d = {"version": full["version"], "parent": full["parent"],
         "operation": full.get("operation"), "schema": full["schema"],
         "delta": 1}
    add = [f for f in full["files"] if f not in pset]
    remove = [f for f in parent["files"] if f not in fset]
    if add:
        d["add"] = add
    if remove:
        d["remove"] = remove
    for k in ("op_rename", "op_drop"):
        if ops and ops.get(k):
            d[k] = ops[k]
    if full.get("constraints"):
        d["constraints"] = full["constraints"]
    if full.get("generated"):
        d["generated"] = full["generated"]
    if full.get("txn"):
        d["txn"] = full["txn"]
    if full.get("op_info"):
        d["op_info"] = full["op_info"]
    if full.get("op_metrics"):
        d["op_metrics"] = full["op_metrics"]
    if full.get("cdc"):
        d["cdc"] = full["cdc"]
    if full.get("cluster_by"):
        d["cluster_by"] = full["cluster_by"]
    # project the carried-state candidate, then record residual
    # per-file differences explicitly
    cand = _apply_delta(parent, d)
    for key, add_k, del_k in (("stats", "stats_add", "stats_del"),
                              ("bloom", "bloom_add", "bloom_del"),
                              ("dv", "dv_add", "dv_del"),
                              ("partitions", "parts_add",
                               "parts_del"),
                              ("renamed_files", "renames_add",
                               "renames_del")):
        cv = cand.get(key) or {}
        fv = full.get(key) or {}
        adds = {f: v for f, v in fv.items() if cv.get(f) != v}
        dels = [f for f in cv if f not in fv]
        if adds:
            d[add_k] = adds
        if dels:
            d[del_k] = dels
    if _norm_state(_apply_delta(parent, d)) != _norm_state(full):
        return None
    return d


#: table-level state keys carried in the parquet checkpoint's
#: key-value footer metadata (per-file maps become columns)
_CKPT_META_KEYS = ("version", "parent", "operation", "schema",
                   "constraints", "generated", "txn", "op_info",
                   "op_metrics", "cdc", "cluster_by")
#: per-file state maps and their checkpoint column names
_CKPT_FILE_COLS = (("stats", "stats"), ("bloom", "bloom"),
                   ("renamed_files", "chain"), ("dv", "dv"),
                   ("partitions", "part"))


def _stat_float(x, up: bool):
    """A SOUND float64 envelope edge for one decoded stat bound:
    always at-or-beyond the true real value in direction *up* (two
    ulp-steps past the nearest-rounded float — float conversion errs
    by <= 0.5 ulp, so one step suffices; two is belt). None for value
    kinds without a clean float order (strings, bools)."""
    import math
    if isinstance(x, bool) or x is None:
        return None
    if isinstance(x, (int, float, decimal.Decimal)):
        try:
            f = float(x)
        except (OverflowError, ValueError):
            return None
    elif isinstance(x, datetime.datetime):
        if x.tzinfo is None:
            return None   # zone-ambiguous: exact path decides
        f = x.timestamp()
    elif isinstance(x, datetime.date):
        f = float(x.toordinal())
    else:
        return None
    inf = math.inf if up else -math.inf
    return math.nextafter(math.nextafter(f, inf), inf)


def _stat_kind(x) -> str | None:
    """The float-envelope conversion family of a decoded bound — read
    predicates must convert through the SAME family or skip the
    vectorized stage (a date ordinal vs an epoch second would prune
    wrongly)."""
    if isinstance(x, bool) or x is None:
        return None
    if isinstance(x, (int, float, decimal.Decimal)):
        return "num"
    if isinstance(x, datetime.datetime):
        return "ts" if x.tzinfo is not None else None
    if isinstance(x, datetime.date):
        return "date"
    return None


def _pred_float(value, kind: str, up: bool):
    """Float64 envelope edge for a PREDICATE value under a column's
    stored conversion *kind*, widened in direction *up* (opposite the
    bound widening, so no true match is ever excluded). None = this
    value can't join the vectorized stage (exact path decides)."""
    import math
    if isinstance(value, bool) or value is None:
        return None
    v = value
    if kind == "num":
        if not isinstance(v, (int, float, decimal.Decimal)):
            return None
        try:
            f = float(v)
        except (OverflowError, ValueError):
            return None
    elif kind == "ts":
        if isinstance(v, datetime.datetime):
            f = (v if v.tzinfo is not None
                 else v.astimezone()).timestamp()
        elif isinstance(v, datetime.date):
            f = datetime.datetime(v.year, v.month, v.day) \
                .astimezone().timestamp()
        else:
            return None
    elif kind == "date":
        if isinstance(v, datetime.date) \
                and not isinstance(v, datetime.datetime):
            f = float(v.toordinal())
        else:
            return None
    else:
        return None
    inf = math.inf if up else -math.inf
    return math.nextafter(math.nextafter(f, inf), inf)


def _read_ckpt_meta(path: str) -> dict:
    """Only a parquet checkpoint's TABLE-LEVEL fields (version,
    parent, operation, schema, constraints, txn, ...) from the footer
    key-value metadata — no row is read or decoded (the streamed
    listing needs exactly this; the full `_read_ckpt_parquet` decode
    costs seconds at a million files)."""
    import pyarrow.parquet as pq
    meta = pq.ParquetFile(path).schema_arrow.metadata or {}
    state: dict = {}
    for k in _CKPT_META_KEYS:
        raw = meta.get(f"cdf.{k}".encode())
        if raw is not None:
            v = json.loads(raw)
            if v is not None:
                state[k] = v
    return state


def _read_ckpt_parquet(path: str) -> dict:
    """Decode a parquet checkpoint back to the full state dict (the
    ``_read_manifest`` contract). One row per file; per-file maps are
    JSON string columns, table-level fields live in the footer
    key-value metadata — so Spark/pyarrow can also scan the file list
    WITHOUT materializing this dict (``_streamed_scan_files``).

    Cost profile: O(#files) json.loads + the dict itself (~18s /
    ~1.3 GB at 1M files, LRU-amortized) — the price of a FULL state,
    paid only by unpredicated reads and write paths that need every
    file; predicated listings take the streamed path instead (0.9s /
    13 MB at 1M files, tools/ckpt_bench.py)."""
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    meta = t.schema.metadata or {}
    state: dict = {}
    for k in _CKPT_META_KEYS:
        raw = meta.get(f"cdf.{k}".encode())
        if raw is not None:
            v = json.loads(raw)
            if v is not None:
                state[k] = v
    files = t.column("file").to_pylist()
    state["files"] = files
    for key, col in _CKPT_FILE_COLS:
        if col not in t.column_names:
            continue
        vals = t.column(col).to_pylist()
        d = {f: json.loads(s) for f, s in zip(files, vals)
             if s is not None}
        if d:
            state[key] = d
    return state


def _read_manifest(table_dir: str, version: int) -> dict:
    import copy
    tdir = os.path.abspath(table_dir)
    deltas: list[dict] = []
    v = version
    while True:
        cached = _STATE_CACHE.get((tdir, v))
        if cached is not None:
            state = copy.deepcopy(cached)
            break
        try:
            state = _read_ckpt_parquet(_ckpt_pq_path(table_dir, v))
            break
        except (OSError, ValueError, KeyError):
            pass   # absent / unreadable ckpt: ArrowInvalid is a
            # ValueError, Arrow IO errors are OSError — fall through
            # to the delta chain (always correct)
        try:
            with open(_manifest_path(table_dir, v)) as f:
                d = json.load(f)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"version {v} of {table_dir} is gone (vacuumed, or "
                f"never existed) — needed to resolve version "
                f"{version}. Pinned readers and incremental "
                f"consumers (change feeds, materialized views) must "
                f"stay within the vacuum retention window; recreate "
                f"the consumer from the current head.") from None
        if not d.get("delta"):
            state = d
            break
        deltas.append(d)
        v = d["parent"]
    for d in reversed(deltas):
        state = _apply_delta(state, d)
    if deltas:
        _cache_put(tdir, version, state)
    return state


def _write_latest_hint(table_dir: str, version: int) -> None:
    """Best-effort O(1) latest-version pointer (the public formats'
    ``_last_checkpoint`` idea): written AFTER a successful publish via
    atomic ``os.replace``. Last-writer-wins is safe because the hint
    is only ever a LOWER bound that ``_latest_version`` verifies and
    probes forward from — a stale or regressed hint costs a few extra
    ``stat`` calls, never a wrong answer."""
    mdir = os.path.join(table_dir, _MANIFEST_DIR)
    tmp = os.path.join(mdir, f".latest.tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(mdir, _LATEST_HINT))


def _latest_version(table_dir: str) -> int | None:
    """Latest version in O(1) manifest-metadata reads: the hint file
    plus a forward existence probe (covers a writer that crashed
    between manifest link and hint update, and hint regression under
    racing writers). Without the full ``os.listdir`` this stays flat
    at one commit/minute for a year (~500k manifests) where the old
    listing walk grew linearly. Falls back to the listing when the
    hint is missing (pre-hint tables) or points at a vacuumed
    version."""
    mdir = os.path.join(table_dir, _MANIFEST_DIR)
    try:
        with open(os.path.join(mdir, _LATEST_HINT)) as f:
            v = int(f.read().strip())
    except (FileNotFoundError, ValueError):
        vs = _versions_listed(table_dir)
        return vs[-1] if vs else None
    if not os.path.exists(_manifest_path(table_dir, v)):
        vs = _versions_listed(table_dir)   # stale hint (vacuumed)
        return vs[-1] if vs else None
    while os.path.exists(_manifest_path(table_dir, v + 1)):
        v += 1                       # hint is a verified lower bound
    return v


def _publish(table_dir: str, manifest: dict) -> None:
    """Atomic manifest publish: temp file + ``os.link`` to the final
    name. ``link`` fails with ``FileExistsError`` if the target already
    exists — atomically, in the filesystem — so two writers racing to
    publish the same version cannot both succeed (the old exists-check
    + ``os.replace`` had a TOCTOU window in which the loser silently
    clobbered the winner's manifest, orphaning its data files). The
    loser's caller should re-read the table and retry at the next
    version number — standard optimistic-concurrency commit, exactly
    the public Delta/Iceberg commit contract."""
    mdir = os.path.join(table_dir, _MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)
    ops = manifest.pop("__delta_ops__", None)
    record = manifest
    if manifest.get("parent") is not None:
        # O(delta) commit: write only the change against the parent's
        # reconstructed state; verified by replay inside _make_delta,
        # falling back to the full state on any divergence (restore's
        # arbitrary file-order jumps, unreadable parents, ...)
        try:
            base = _read_manifest(table_dir, manifest["parent"])
            if "op_metrics" not in manifest:
                mx = _compute_op_metrics(base, manifest)
                if mx:
                    manifest["op_metrics"] = mx
            record = _make_delta(base, manifest, ops) or manifest
        except (OSError, KeyError, json.JSONDecodeError):
            record = manifest
    elif "op_metrics" not in manifest:
        mx = _compute_op_metrics(None, manifest)
        if mx:
            manifest["op_metrics"] = mx
    final = _manifest_path(table_dir, manifest["version"])
    tmp = final + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    try:
        os.link(tmp, final)  # atomic create-exclusive: loser raises
    except FileExistsError:
        raise FileExistsError(
            f"version {manifest['version']} already published at "
            f"{final} (concurrent writer lost the publish race; "
            f"re-read and retry at the next version)") from None
    finally:
        os.unlink(tmp)
    _cache_put(os.path.abspath(table_dir), manifest["version"],
               manifest)
    try:
        _write_latest_hint(table_dir, manifest["version"])
        if manifest["version"] % _CHECKPOINT_EVERY == 0:
            _write_checkpoint(table_dir, manifest)
    except OSError:
        pass  # genuinely best-effort: the COMMIT is the os.link above;
        # a hint/checkpoint-write failure (ENOSPC, read-only FS) must
        # not make a durable version look failed — a retry would
        # duplicate data. Readers fall back to listing / delta replay.


def _compute_op_metrics(parent: dict | None, manifest: dict) -> dict:
    """Delta-style ``operationMetrics``, derived at COMMIT time from
    metadata already in hand (the parent diff ``_make_delta`` performs
    anyway; per-file ``__rows__`` footer counts; manifest DV ``n``
    counts) — no file is read:

    - ``numAddedFiles`` / ``numRemovedFiles``: the commit's file diff;
    - ``numOutputRows``: total rows in the ADDED files (every writer
      records ``__rows__``; omitted when any added file lacks it);
    - ``numRemovedRows``: rows in the removed files, from the PARENT's
      stats (omitted on partial coverage);
    - ``numDeletedRows``: deletion-vector positions newly recorded by
      this commit (merge-on-read DML), from the ``n`` every DV entry
      records — never loads a sidecar.

    Commit-scoped like ``op_info``/``cdc``: carried on the version
    that committed it, never inherited, so every audit question
    ("which commit deleted rows? how many?") reads the version log
    alone instead of replaying CDC."""
    pfiles = set(parent["files"]) if parent else set()
    files = manifest["files"]
    fset = set(files)
    added = [f for f in files if f not in pfiles]
    removed = [f for f in pfiles if f not in fset]
    out = {"numAddedFiles": len(added),
           "numRemovedFiles": len(removed)}

    def _rows(fs, stats):
        total = 0
        for f in fs:
            n = ((stats.get(f) or {}).get(_ROWS_KEY) or {}).get("min")
            if n is None:
                return None
            total += int(n)
        return total
    ar = _rows(added, manifest.get("stats") or {})
    if ar is not None:
        out["numOutputRows"] = ar
    rr = _rows(removed, (parent.get("stats") or {}) if parent else {})
    if rr is not None:
        out["numRemovedRows"] = rr
    pdv = (parent.get("dv") or {}) if parent else {}
    cdv = manifest.get("dv") or {}
    if cdv or pdv:
        out["numDeletedRows"] = sum(
            max(0, int(e["n"]) - (int(pdv[f]["n"]) if f in pdv else 0))
            for f, e in cdv.items())
    return out


def _write_checkpoint(table_dir: str, state: dict) -> None:
    """Full-state checkpoint for *state*'s version as PARQUET (the
    public Delta protocol writes parquet checkpoints for the same
    reason): one row per file with the per-file maps as JSON-string
    columns and the table-level fields in the footer key-value
    metadata. Against the old single-JSON-blob checkpoint this is (a)
    columnar + zstd on highly repetitive paths/stats, and (b)
    SCANNABLE — a predicated file listing streams record batches
    (``_streamed_scan_files``) instead of materializing the O(#files)
    state dict in driver memory, and a real cluster could hand the
    same file to distributed Spark. Idempotent content (deterministic
    replay of the log), so last-writer-wins os.replace is safe under
    racing writers. This is the only checkpoint encoding; an absent
    or unreadable one falls back to the delta chain."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    files = list(state["files"])
    cols: dict = {"file": pa.array(files, pa.string())}
    for key, col in _CKPT_FILE_COLS:
        src = state.get(key) or {}
        cols[col] = pa.array(
            [json.dumps(src[f], sort_keys=True) if f in src else None
             for f in files], pa.string())
    # vectorized-prune envelope: per stats/partition column, SOUND
    # float64 [smin, smax] columns (bounds widened outward two ulps;
    # kind-tagged so read predicates convert through the same family)
    # — the streamed listing prefilters these with numpy and runs the
    # exact decoded check only on the surviving candidates, so a
    # point lookup on a million-file checkpoint does no per-row JSON
    # parsing on the cold path
    stats_map = state.get("stats") or {}
    parts_map = state.get("partitions") or {}
    env_cols = sorted({c for sd in stats_map.values() for c in sd}
                      | {c for pt in parts_map.values() for c in pt})
    kinds: dict[str, str] = {}
    if env_cols:
        lo_arrs = {c: [] for c in env_cols}
        hi_arrs = {c: [] for c in env_cols}
        for f in files:
            eff = _prune_stats(stats_map.get(f), parts_map.get(f))
            for c in env_cols:
                st = eff.get(c)
                lo = hi = None
                if st and st.get("min") is not None \
                        and st.get("max") is not None:
                    mn = _dec_stat(st["min"])
                    mx = _dec_stat(st["max"])
                    k = _stat_kind(mn)
                    if k is not None and kinds.setdefault(c, k) == k:
                        lo = _stat_float(mn, up=False)
                        hi = _stat_float(mx, up=True)
                        if lo is None or hi is None:
                            lo = hi = None
                lo_arrs[c].append(lo)
                hi_arrs[c].append(hi)
        for c in env_cols:
            if c not in kinds:
                continue   # no float-orderable bound anywhere
            cols[f"smin:{c}"] = pa.array(lo_arrs[c], pa.float64())
            cols[f"smax:{c}"] = pa.array(hi_arrs[c], pa.float64())
    meta = {f"cdf.{k}".encode(): json.dumps(state.get(k)).encode()
            for k in _CKPT_META_KEYS}
    meta[b"cdf.statkinds"] = json.dumps(kinds).encode()
    tbl = pa.table(cols).replace_schema_metadata(meta)
    cp = _ckpt_pq_path(table_dir, state["version"])
    os.makedirs(os.path.dirname(cp), exist_ok=True)
    tmp = cp + f".tmp-{uuid.uuid4().hex}"
    pq.write_table(tbl, tmp, compression="zstd",
                   row_group_size=65536)
    os.replace(tmp, cp)
    hdir = os.path.join(table_dir, _MANIFEST_DIR)
    htmp = os.path.join(hdir, f".ckpt.tmp-{uuid.uuid4().hex}")
    with open(htmp, "w") as f:
        f.write(str(state["version"]))
    os.replace(htmp, os.path.join(hdir, _CKPT_HINT))


# ---------------------------------------------------------------------------
# per-file column statistics (the public Delta/Iceberg data-skipping
# model): min/max/null_count per (file, column) read from the parquet
# FOOTERS — zero data scan, exact, and written into the manifest so a
# predicated read can prune the file list before Spark ever lists it.
# ---------------------------------------------------------------------------

def _enc_stat(v):
    """JSON-safe encoding of a footer min/max value, type-tagged so
    pruning can decode to an exactly-comparable Python value."""
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, decimal.Decimal):
        return {"t": "dec", "v": str(v)}
    if isinstance(v, datetime.datetime):
        return {"t": "ts", "v": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"t": "date", "v": v.isoformat()}
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return None


def _dec_stat(e):
    if isinstance(e, dict):
        if e["t"] == "dec":
            return decimal.Decimal(e["v"])
        if e["t"] == "ts":
            return datetime.datetime.fromisoformat(e["v"])
        if e["t"] == "date":
            return datetime.date.fromisoformat(e["v"])
    return e


def _coerce_pred(bound, value):
    """Coerce a user predicate value to the decoded bound's type so the
    comparison is exact (numeric predicate vs DECIMAL stats is the
    common case: Decimal(str(v)) avoids any float/binary rounding).

    Timestamp bounds come back tz-aware (parquet isAdjustedToUTC). A
    NAIVE predicate datetime is localized in the DRIVER'S OS ZONE
    (``.astimezone()`` with no argument — DST-correct per value),
    because that is exactly how PySpark's plain (non-Arrow) converters
    treat naive datetimes: ``TimestampType.toInternal`` turns a naive
    literal into epoch micros via the OS zone (so the Spark-side row
    filter built from the same value compares in OS-zone terms), and
    ``collect()``'s ``fromInternal`` hands envelope bounds back as
    OS-zone naive values. Localizing in any other zone (the bound's
    UTC, or ``spark.sql.session.timeZone``) makes the prune disagree
    with the row filter by the zone offset whenever the zones differ —
    silently skipping files that contain matching rows. (Only the
    Arrow path, ``toPandas``, uses the session zone; the snapshot code
    paths use plain collect/lit.)"""
    if isinstance(bound, decimal.Decimal) \
            and isinstance(value, (int, float)):
        return decimal.Decimal(str(value))
    if isinstance(bound, float) and isinstance(value, int):
        return float(value)
    if isinstance(bound, int) and isinstance(value, float):
        return value  # int/float compare exactly in Python
    if isinstance(bound, datetime.datetime):
        if isinstance(value, datetime.date) \
                and not isinstance(value, datetime.datetime):
            value = datetime.datetime(value.year, value.month, value.day)
        if isinstance(value, datetime.datetime):
            if bound.tzinfo is not None and value.tzinfo is None:
                return value.astimezone()
            if bound.tzinfo is None and value.tzinfo is not None:
                return value.astimezone(
                    datetime.timezone.utc).replace(tzinfo=None)
    return value


_PRUNE_OPS = {"==", "=", "<", "<=", ">", ">=", "in"}


def _norm_dnf(where) -> list:
    """Normalize a predicate to DISJUNCTIVE NORMAL FORM branches:
    the classic conjunction shape ``[(col, op, val), ...]`` becomes
    one branch; the OR shape ``[[...], [...]]`` (a list of
    conjunctions) passes through. Returns a list of non-empty
    branches; ``[]`` for no predicate."""
    if not where:
        return []
    first = where[0]
    is_triple = (isinstance(first, (list, tuple)) and len(first) == 3
                 and isinstance(first[0], str))
    if is_triple:
        branches = [list(where)]
    else:
        branches = [list(b) for b in where]
    for b in branches:
        if not b:
            raise ValueError(
                "empty OR-branch in predicate (an empty conjunction "
                "matches everything — drop the where= instead)")
        for col, op, _v in b:
            if op not in _PRUNE_OPS:
                raise ValueError(f"unsupported prune op {op!r}")
            if not isinstance(col, str):
                raise ValueError(f"predicate column must be a string "
                                 f"name, got {col!r}")
    return branches


def _dnf_may_match(stats: dict, branches) -> bool:
    """A file survives a DNF predicate iff ANY branch admits it."""
    return any(_file_may_match(stats, b) for b in branches)


def _file_may_match(stats: dict, predicates) -> bool:
    """Conservative range check: False ONLY when the file's [min, max]
    for some predicate column provably excludes every matching row.
    Columns without stats never prune. NULL rows never satisfy a
    comparison predicate, so null_count is irrelevant to soundness.

    ``("col", "in", [v1, v2, ...])`` is the OR-of-equalities
    disjunct: the file survives if ANY listed value falls inside its
    range (an empty list matches no row, so every file prunes) —
    Delta/Iceberg's IN-list data skipping, and the op that lets
    ``ann_index_query`` read all probed cells in one scan and
    ``ann_index_delete`` forget k ids in one commit."""
    for col, op, val in predicates:
        # hidden-partition transforms: a tuple entry keyed
        # "<col>__<tag>" (days/bucket/truncate value from the file's
        # path) maps this BASE-column predicate through the transform
        prefix = col + "__"
        for key, st2 in stats.items():
            if not key.startswith(prefix) \
                    or not _is_transform_tag(key[len(prefix):]):
                continue
            pv = st2.get("min")
            if pv is None or st2.get("max") != pv:
                continue    # not a partition tuple entry
            if not _transform_admits(key[len(prefix):], op, val,
                                     _dec_stat(pv)):
                return False
        st = stats.get(col)
        if not st or st.get("min") is None or st.get("max") is None:
            if op == "in" and not list(val):
                return False   # IN () matches no row, stats or not
            continue
        mn, mx = _dec_stat(st["min"]), _dec_stat(st["max"])
        if op == "in":
            vals = [_coerce_pred(mn, x) for x in val]
            try:
                if not any(mn <= x <= mx for x in vals):
                    return False
            except TypeError:
                continue  # incomparable types: keep the file (sound)
            continue
        v = _coerce_pred(mn, val)
        try:
            if op in ("==", "="):
                if v < mn or v > mx:
                    return False
            elif op == "<":
                if mn >= v:
                    return False
            elif op == "<=":
                if mn > v:
                    return False
            elif op == ">":
                if mx <= v:
                    return False
            elif op == ">=":
                if mx < v:
                    return False
        except TypeError:
            continue  # incomparable types: keep the file (sound)
    return True


def _dnf_column(branches):
    """The Spark row-filter Column for a DNF predicate: OR of each
    branch's AND — the row-level twin of ``_dnf_may_match``."""
    disj = None
    for b in branches:
        conj = None
        for col, op, val in b:
            term = _pred_column(col, op, val)
            conj = term if conj is None else (conj & term)
        disj = conj if disj is None else (disj | conj)
    return disj


def _pred_column(col: str, op: str, val):
    """The Spark row-filter Column for one ``(col, op, value)`` prune
    triple — the row-level twin of ``_file_may_match``, so the scan's
    result is exactly the predicated snapshot whatever the stats
    coverage. ``in`` over an empty list matches no row."""
    c = F.col(col)
    if op in ("==", "="):
        return c == val
    if op == "<":
        return c < val
    if op == "<=":
        return c <= val
    if op == ">":
        return c > val
    if op == ">=":
        return c >= val
    if op == "in":
        vals = list(val)
        return c.isin(vals) if vals else F.lit(False)
    raise ValueError(f"unsupported predicate op {op!r}")


#: pseudo-column carrying each file's exact ROW COUNT in its stats
#: entry (Delta's numRecords): rides every existing stats carry /
#: delta / checkpoint path, never collides with a schema column, and
#: lets ``snapshot_count`` answer COUNT(*) from metadata alone
_ROWS_KEY = "__rows__"


def _collect_file_stats(table_dir: str, rel_files: list[str],
                        stats_cols: Sequence[str],
                        rows: bool = False) -> dict:
    """Per-file min/max/null_count for *stats_cols* from the parquet
    footers (pyarrow metadata) — no data pages are read. Row-group
    stats are folded to file-level bounds. On a cluster this loop is a
    flat map over file paths (footers are KBs); the driver-side loop
    here is the local-mode expression of the same metadata pass.
    ``rows=True`` additionally records each file's exact row count
    under the ``__rows__`` pseudo-column."""
    import pyarrow.parquet as pq
    wanted = set(stats_cols) - {_ROWS_KEY}
    out = {}
    for rel in rel_files:
        md = pq.ParquetFile(os.path.join(table_dir, rel)).metadata
        per: dict[str, dict] = {}
        if rows:
            n = int(md.num_rows)
            per[_ROWS_KEY] = {"min": n, "max": n, "nulls": 0}
        # one stats-less row group makes the column's FILE bounds
        # unknowable — flag it unusable (no pruning; sound) without
        # clobbering the accumulator, so the outcome is the same
        # whichever row-group order the stats-less group appears in,
        # and null counts keep folding either way.
        unusable: set[str] = set()
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                c = rg.column(j)
                name = c.path_in_schema
                if name not in wanted:
                    continue
                st = c.statistics
                cur = per.setdefault(
                    name, {"min": None, "max": None, "nulls": 0})
                if st is None or not st.has_min_max:
                    unusable.add(name)
                else:
                    if cur["min"] is None:
                        cur["min"], cur["max"] = st.min, st.max
                    else:
                        cur["min"] = min(cur["min"], st.min)
                        cur["max"] = max(cur["max"], st.max)
                if st is not None:
                    cur["nulls"] += st.null_count or 0
        out[rel] = {k: {"min": (None if k in unusable
                                else _enc_stat(v["min"])),
                        "max": (None if k in unusable
                                else _enc_stat(v["max"])),
                        "nulls": v["nulls"]}
                    for k, v in per.items()}
    return out


# ---------------------------------------------------------------------------
# per-file BLOOM filters (the Delta/Iceberg point-lookup complement to
# min/max stats): a hash-scattered key — uuid, content hash, user id —
# has a per-file [min, max] spanning nearly the whole domain, so range
# stats prune NOTHING on equality lookups. A per-file Bloom filter
# answers "might this file contain key = v?" with no false negatives,
# so a point read touches only the files whose filter fires.
# ---------------------------------------------------------------------------

_BLOOM_BITS_PER_KEY = 10     # ~1% false-positive rate at k=7
_BLOOM_K = 7
#: column types whose Spark `cast(string)` equals Python `str()` on the
#: lookup value — the canonicalization both sides must agree on.
_BLOOM_TYPES = {"tinyint", "smallint", "int", "bigint", "string"}


def _bloom_hashes(hexmd5: str) -> tuple[int, int]:
    """Kirsch-Mitzenmacher double hashing off one md5: two 32-bit
    halves; h2 forced odd so the stride never degenerates."""
    return int(hexmd5[:8], 16), int(hexmd5[8:16], 16) * 2 + 1


_SIDECAR_CACHE: "dict[str, dict]" = {}
_SIDECAR_CACHE_MAX = 8


def _load_sidecar(path: str) -> dict:
    """Bloom-bytes sidecar, LRU-cached (sidecars are immutable once
    written; vacuum only ever deletes them)."""
    path = os.path.abspath(path)
    hit = _SIDECAR_CACHE.get(path)
    if hit is not None:
        return hit
    with open(path) as f:
        content = json.load(f)
    with _CACHE_LOCK:
        _SIDECAR_CACHE[path] = content
        while len(_SIDECAR_CACHE) > _SIDECAR_CACHE_MAX:
            _SIDECAR_CACHE.pop(next(iter(_SIDECAR_CACHE)))
    return content


def _bloom_bits(entry: dict, table_dir: str | None) -> bytes | None:
    """The filter's bytes, lazily resolved from the sidecar file the
    manifest references — loaded only for files that already survived
    min/max stats pruning, and never serialized into commit JSON."""
    import base64
    if table_dir is None:
        return None
    try:
        sc = _load_sidecar(os.path.join(table_dir, entry["sc"]))
        return base64.b64decode(sc[entry["f"]][entry["c"]])
    except (OSError, KeyError, json.JSONDecodeError):
        return None   # missing sidecar: sound (no pruning)


def _bloom_may_contain(entry: dict, canonical: str,
                       table_dir: str | None = None) -> bool:
    import hashlib
    bits = _bloom_bits(entry, table_dir)
    if bits is None:
        return True
    h1, h2 = _bloom_hashes(
        hashlib.md5(canonical.encode("utf-8")).hexdigest())
    m = entry["m"]
    for i in range(entry["k"]):
        p = (h1 + i * h2) % m
        if not (bits[p >> 3] >> (p & 7)) & 1:
            return False
    return True


def _bloom_canonical(value, col_type: str) -> str | None:
    """The canonical string both engines hash — None when the value /
    column type pair has no engine-exact string form (then we keep the
    file: sound, no pruning)."""
    if value is None or isinstance(value, bool):
        return None
    if isinstance(value, int) and col_type in (
            "tinyint", "smallint", "int", "bigint"):
        return str(value)
    if isinstance(value, str) and col_type == "string":
        return value
    return None


def _bloom_file_may_match(col_blooms: dict, eq_preds,
                          table_dir: str | None = None) -> bool:
    for col, val in eq_preds:
        e = col_blooms.get(col)
        if not e:
            continue
        canonical = _bloom_canonical(val, e.get("t", ""))
        if canonical is None:
            continue
        if not _bloom_may_contain(e, canonical, table_dir):
            return False
    return True


def _bloom_preds_may_match(col_blooms: dict, preds,
                           table_dir: str | None = None) -> bool:
    """Bloom pruning over full predicate triples: an ``==`` prunes
    when the filter proves the key absent; an ``in`` list prunes only
    when EVERY listed value is provably absent (a value without a
    canonical form admits the file — sound, no pruning)."""
    eq = [(c, v) for c, op, v in preds if op in ("==", "=")]
    if eq and not _bloom_file_may_match(col_blooms, eq, table_dir):
        return False
    for col, op, vals in preds:
        if op != "in":
            continue
        e = col_blooms.get(col)
        if not e:
            continue
        admit = False
        for v in vals:
            canonical = _bloom_canonical(v, e.get("t", ""))
            if canonical is None or _bloom_may_contain(
                    e, canonical, table_dir):
                admit = True
                break
        if not admit and list(vals):
            return False
    return True


def _collect_file_blooms(spark: SparkSession, table_dir: str,
                         rel_files: list[str],
                         bloom_cols: Sequence[str]) -> dict:
    """Per-file Bloom filters over *bloom_cols*, built DISTRIBUTED:
    the k bit positions per value are Spark expressions (md5 double
    hashing, whole-stage codegen), folded map-side to per-(file, byte)
    ``bit_or`` partials — what reaches the driver is exactly the set
    bytes of each filter, i.e. the same order of magnitude as the
    manifest entry it becomes. One data scan over the NEW files only
    (column-pruned to the bloom columns), mirroring Delta's write-time
    bloom index cost.

    Filters are sized from a per-file ``approx_count_distinct`` at
    ``_BLOOM_BITS_PER_KEY`` bits/key (approximate ndv only sizes the
    filter; correctness is unaffected — no false negatives by
    construction)."""
    import base64
    paths = [os.path.join(table_dir, r) for r in rel_files]
    df = spark.read.parquet(*paths)
    types = {f.name: f.dataType.simpleString() for f in df.schema}
    usable = [c for c in bloom_cols if types.get(c) in _BLOOM_TYPES]
    bad = [c for c in bloom_cols if c not in types]
    if bad:
        raise ValueError(f"bloom_cols not in schema: {bad}")
    out: dict[str, dict] = {}
    if not usable:
        return out
    fcol = F.input_file_name().alias("__file__")
    sized = (df.select(fcol, *usable).groupBy("__file__")
             .agg(*[F.approx_count_distinct(c).alias(c)
                    for c in usable]).collect())
    m_by = {r["__file__"]: {
        c: ((max(64, int(r[c]) * _BLOOM_BITS_PER_KEY) + 7) // 8) * 8
        for c in usable} for r in sized}
    for c in usable:
        h = F.md5(F.col(c).cast("string"))
        h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
        h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long") * 2 + 1
        m_map = F.create_map(*[x for fn, ms in m_by.items()
                               for x in (F.lit(fn), F.lit(ms[c]))])
        pos = F.explode(F.array(*[
            ((h1 + i * h2) % F.col("__m__")).cast("int")
            for i in range(_BLOOM_K)])).alias("__p__")
        rows = (df.select(fcol, F.col(c))
                .filter(F.col(c).isNotNull())
                .withColumn("__m__", m_map[F.col("__file__")])
                .select("__file__", "__m__", pos)
                .groupBy("__file__", "__m__",
                         F.shiftright("__p__", 3).alias("__b__"))
                .agg(F.bit_or(
                    F.expr("shiftleft(1, __p__ % 8)")
                    .cast("int")).alias("__v__"))
                .collect())
        acc: dict[str, bytearray] = {}
        for r in rows:
            rel = next((x for x in rel_files
                        if r["__file__"].endswith(x)), None)
            if rel is None:
                continue
            buf = acc.setdefault(rel, bytearray(r["__m__"] // 8))
            buf[r["__b__"]] |= r["__v__"]
        for rel, buf in acc.items():
            out.setdefault(rel, {})[c] = {
                "m": len(buf) * 8, "k": _BLOOM_K, "t": types[c],
                "b64": base64.b64encode(bytes(buf)).decode("ascii")}
    if not out:
        return out
    # the filter BYTES go to a sidecar file published before the
    # manifest; the manifest keeps only O(1)-sized references per
    # (file, column), so commit JSON never carries bloom payloads
    # (the Delta/Iceberg sidecar layout). Sized metadata (m/k/t)
    # stays inline so pruning decides without touching the sidecar.
    scdir = os.path.join(table_dir, _MANIFEST_DIR, _SIDECAR_DIR)
    os.makedirs(scdir, exist_ok=True)
    sc_name = f"sc-{uuid.uuid4().hex}.json"
    sc_rel = os.path.join(_MANIFEST_DIR, _SIDECAR_DIR, sc_name)
    payload = {rel: {c: e["b64"] for c, e in cols.items()}
               for rel, cols in out.items()}
    tmp = os.path.join(scdir, f".{sc_name}.tmp")
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, os.path.join(scdir, sc_name))
    return {rel: {c: {"m": e["m"], "k": e["k"], "t": e["t"],
                      "sc": sc_rel, "f": rel, "c": c}
                  for c, e in cols.items()}
            for rel, cols in out.items()}


def _dv_fid(rel_file: str) -> str:
    """A file's identity for deletion-vector matching: the last two
    path components ("v00000001-token/part-....parquet"), which Spark
    part-file UUIDs make unique within a table — comparable against
    ``_metadata.file_path`` via ``substring_index(..., '/', -2)``
    without caring about the file:// URI prefix."""
    return "/".join(rel_file.split("/")[-2:])


#: a scan's deletion-vector identity columns, as ``selectExpr`` items
_DV_META_COLS = ("substring_index(_metadata.file_path, '/', -2) AS __fid__",
                 "CAST(_metadata.row_index AS BIGINT) AS __pos__")


#: the one deletion-vector encoding: every DV sidecar directory holds
#: (file identity, deleted row index) rows with exactly this schema
_DV_SCHEMA = "__fid__ string, __pos__ long"


def _dv_positions(table_dir: str, entry: dict) -> list:
    """The deleted row indexes one manifest DV entry records: its
    sidecar directory read columnar, filtered to the file's identity
    (the entry's ``f``)."""
    import pyarrow.dataset as ds
    t = ds.dataset(os.path.join(table_dir, entry["scp"]),
                   format="parquet") \
        .to_table(filter=ds.field("__fid__") == entry["f"],
                  columns=["__pos__"])
    return t.column("__pos__").to_pylist()


def _dv_pos_df(spark: SparkSession, table_dir: str, dv: dict):
    """All deleted (``__fid__``, ``__pos__``) pairs for a non-empty
    manifest ``dv`` map as a DataFrame: one distributed scan per
    referenced sidecar directory, read with the fixed ``_DV_SCHEMA``
    (no footer inference) and filtered to the identities whose entries
    point at it — the driver never materializes the positions."""
    fids: dict[str, set] = {}
    for e in dv.values():
        fids.setdefault(e["scp"], set()).add(e["f"])
    out = None
    for scp, fs in fids.items():
        part = (spark.read.schema(_DV_SCHEMA)
                .parquet(os.path.join(table_dir, scp))
                .where(F.col("__fid__").isin(sorted(fs))))
        out = part if out is None else out.unionByName(part)
    return out


#: at most this many new+old positions per DML commit are collected to
#: the driver and written there; above it the executors write the DV
_DV_SMALL_TOTAL = 50_000

#: merge-on-read anti-join broadcast ceiling: below this many TOTAL
#: recorded deletion-vector positions the position set broadcasts
#: (tiny, one-sided hash join on every executor); above it the hint
#: is withheld so AQE picks a shuffle strategy. ~10M (fid, pos) pairs
#: ≈ 400-800 MB expanded on each executor — the cliff the gate avoids.
_DV_BROADCAST_MAX = 10_000_000


def _dv_total_positions(dv: dict) -> int:
    """Total recorded deleted positions across a manifest ``dv`` map —
    O(#files) metadata: every DV entry records its count ``n``."""
    return sum(int(e["n"]) for e in dv.values())


def _write_dv_dir(spark: SparkSession, table_dir: str, pos_df,
                  rel_by_fid: dict, old_dv: dict, n_new: int) -> dict:
    """Publish one commit's deletion vectors as ONE parquet sidecar
    directory, ``_manifests/sidecars/dv-<uuid>/``, of ``_DV_SCHEMA``
    rows. *pos_df* holds the NEW (__fid__, __pos__) pairs (computed
    over already-DV-filtered rows, so disjoint from the existing
    vectors) — a projection of the commit's checkpointed vector
    slice (``_dv_split``), which this collect or write materializes
    for the commit's later consumers; the affected files' existing
    vectors fold in. The size picks who writes the directory, never
    what is written:

    - new (*n_new*, from the per-file match counts the caller already
      collected) plus old positions within ``_DV_SMALL_TOTAL`` are
      bounded, so the driver collects them and writes one
      ``part-0.parquet`` with pyarrow — no Spark write or read-back on
      the point-DML (GDPR-delete) hot path;
    - anything larger is written by the EXECUTORS with Spark, and the
      driver collects only the per-file counts (#files rows).

    Returns the manifest ``dv`` entries, ``{"scp", "f", "n"}`` each."""
    olds = {fid: old_dv[rel] for fid, rel in rel_by_fid.items()
            if rel in old_dv}
    rel_dir = os.path.join(_MANIFEST_DIR, _SIDECAR_DIR,
                           f"dv-{uuid.uuid4().hex}")
    out = os.path.join(table_dir, rel_dir)
    if n_new + _dv_total_positions(olds) <= _DV_SMALL_TOTAL:
        import pyarrow as pa
        import pyarrow.parquet as pq
        merged: dict[str, set] = {}
        for r in pos_df.collect():
            merged.setdefault(r["__fid__"], set()).add(int(r["__pos__"]))
        for fid, e in olds.items():
            merged.setdefault(fid, set()).update(
                _dv_positions(table_dir, e))
        fids = sorted(merged)
        os.makedirs(out)
        pq.write_table(pa.table({
            "__fid__": pa.array([f for f in fids for _ in merged[f]],
                                pa.string()),
            "__pos__": pa.array([p for f in fids
                                 for p in sorted(merged[f])],
                                pa.int64())}),
            os.path.join(out, "part-0.parquet"))
        counts = {fid: len(merged[fid]) for fid in fids}
    else:
        if olds:
            pos_df = pos_df.unionByName(
                _dv_pos_df(spark, table_dir, olds))
        pos_df.repartition("__fid__").write.mode("error").parquet(out)
        counts = {r["__fid__"]: int(r["n"]) for r in
                  spark.read.schema(_DV_SCHEMA).parquet(out)
                  .groupBy("__fid__")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
    return {rel_by_fid[fid]: {"scp": rel_dir, "f": fid, "n": n}
            for fid, n in counts.items() if fid in rel_by_fid}


def _carry_dv(parent_manifest: dict | None, surviving_files) -> dict:
    """Parent DV entries restricted to the surviving files."""
    keep = set(surviving_files)
    pd_ = (parent_manifest or {}).get("dv") or {}
    return {f: e for f, e in pd_.items() if f in keep}


def _read_files_renamed(spark: SparkSession, table_dir: str,
                        files: list[str], manifest: dict,
                        merge_schema: bool = False,
                        with_pos: bool = False) -> DataFrame:
    """Read manifest files applying each file's RENAME CHAIN (Iceberg's
    column-mapping idea reduced to its portable core): files written
    before a ``snapshot_rename_column`` keep their original physical
    column names on disk; the manifest records, per file, the renames
    to apply at read time. Files are grouped by identical chain (one
    Spark scan per era — almost always 1 or 2 groups) and unioned by
    name into the table's current logical schema.

    Files with a DELETION VECTOR (manifest ``dv``, written by small
    row-level DELETE/UPDATEs) are filtered by a broadcast anti-join on
    (file identity, ``_metadata.row_index``) — merge-on-read, the
    Delta/Iceberg v2 position-delete model. ``with_pos=True`` keeps
    the ``__fid__``/``__pos__`` identity columns in the result (the
    DML write path uses them to build new vectors)."""
    from pyspark.sql.types import StructType
    rmap = manifest.get("renamed_files") or {}
    fset = set(files)
    dv = {f: e for f, e in (manifest.get("dv") or {}).items()
          if f in fset}
    need_meta = bool(dv) or with_pos
    groups: dict[tuple, list[str]] = {}
    for f in files:
        chain = tuple(tuple(p) for p in rmap.get(f, []))
        groups.setdefault(chain, []).append(f)
    from pyspark.sql.types import StructField
    fields = StructType.fromJson(json.loads(manifest["schema"])).fields
    parts = []
    for chain, fs in groups.items():
        paths = [os.path.join(table_dir, f) for f in fs]
        if merge_schema:
            sdf = spark.read.option("mergeSchema", "true") \
                .parquet(*paths)
            for old, new in chain:
                sdf = sdf.withColumnRenamed(old, new)
            # a DROPPED column's rename chain maps it to a tombstone
            # name; the merged footer schema still carries the physical
            # column, so project it away here — otherwise the stale
            # bytes resurface under __dropped_v*__ in the merged view,
            # breaking drop_column's never-resurface contract
            tomb = [c for c in sdf.columns
                    if c.startswith("__dropped_v")]
            if tomb:
                sdf = sdf.drop(*tomb)
            if need_meta:
                sdf = sdf.selectExpr("*", *_DV_META_COLS)
            parts.append(sdf)
            continue
        # a version's read surface IS its manifest schema: read with
        # an EXPLICIT per-era schema (each logical field's physical
        # name = the chain walked backwards), so the parquet reader
        # resolves by name — files that predate a merge-schema-added
        # column surface NULLs for it, physically-present-but-dropped
        # columns are never read, NO footer inference or merge runs
        # (a plain inferred read could take one era's schema and
        # silently NULL the other era's real values; mergeSchema
        # would pay a footer scan per file on a 100k-file table)
        def physical(name):
            for old, new in reversed(chain):
                if name == new:
                    name = old
            return name

        def forward(name):
            for old, new in chain:
                if name == old:
                    name = new
            return name
        # a physical candidate is GENUINE iff the chain walked forward
        # from it lands back on the logical name: an undone rename
        # (v->v2->v) round-trips and reads normally, while a name the
        # chain carried elsewhere — a rename's source or a drop's
        # tombstoned column, later RE-ADDED via merge_schema — does
        # not, and must read as an absent placeholder so the parquet
        # reader yields NULLs instead of another field's stale bytes
        era_names = []
        for f in fields:
            p = physical(f.name)
            if forward(p) != f.name:
                p = f"__absent_{f.name}__"
            era_names.append(p)
        era = StructType([StructField(p, f.dataType, True)
                          for p, f in zip(era_names, fields)])
        sdf = spark.read.schema(era).parquet(*paths)
        # positional aliasing back to the logical schema (name-based
        # renames would be ambiguous exactly in the claimed case), as
        # one parsed projection: a Column per field costs a py4j round
        # trip per name and alias
        sel = [f"{sql_ident(p)} AS {sql_ident(f.name)}"
               for p, f in zip(era_names, fields)]
        if need_meta:
            sel += _DV_META_COLS
        sdf = sdf.selectExpr(*sel)
        parts.append(sdf)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=merge_schema)
    if dv:
        pos_df = _dv_pos_df(spark, table_dir, dv)
        if _dv_total_positions(dv) <= _DV_BROADCAST_MAX:
            pos_df = F.broadcast(pos_df)
        # above the gate: no hint — AQE picks the join strategy (a
        # table carrying 100M+ accumulated DV positions between
        # OPTIMIZE runs must not force-broadcast them; the manifest's
        # recorded per-file counts make the gate O(#files) metadata)
        out = out.join(pos_df,
                       on=["__fid__", "__pos__"], how="left_anti")
    if need_meta and not with_pos:
        out = out.drop("__fid__", "__pos__")
    return out


def snapshot_rename_column(table_dir: str, old: str, new: str,
                           max_retries: int = 5) -> int:
    """RENAME COLUMN as a METADATA-ONLY commit (Iceberg's column
    mapping / Delta's column-mapping mode): no data file is read or
    rewritten — the new manifest keeps the same file list, records the
    rename in each existing file's read-time rename chain, rewrites the
    schema JSON, and remaps per-file stats/bloom entries to the new
    logical name (so predicated reads keep pruning). Appends after the
    rename write the new physical name; reads union the eras by name.
    A zero-cost rename on a 100 TB table — the whole point.

    Metadata-only, so a lost publish race is settled by recomputing
    against the new latest and retrying (same class as ``restore``).
    Renaming to an existing column raises; chains compose (a->b then
    b->c reads old files as c)."""
    def mutate(m):
        schema = json.loads(m["schema"])
        names = [f["name"] for f in schema["fields"]]
        if old not in names:
            raise KeyError(
                f"column {old!r} not in table schema {names}")
        if new in names:
            raise ValueError(
                f"column {new!r} already exists in {names}")
        _reject_reserved_column_names([new])
        ref = _constraints_referencing(m, old)
        if ref:
            raise ValueError(
                f"cannot rename column {old!r}: referenced by CHECK "
                f"constraint(s) {ref} — drop the constraint(s) first "
                f"and re-add against the new name")
        gref = _generated_referencing(m, old)
        if gref:
            raise ValueError(
                f"cannot rename column {old!r}: it participates in "
                f"generated declaration(s) {gref} — drop the "
                f"declaration(s) first (snapshot_drop_generated_"
                f"column) and re-declare against the new name")
        if _is_partition_source(m, old):
            raise ValueError(
                f"cannot rename column {old!r}: it is a partition "
                f"column of live files (identity or transform — "
                f"rewrite via overwrite first)")
        for fld in schema["fields"]:
            if fld["name"] == old:
                fld["name"] = new
        rmap = {f: [list(p) for p in ch] for f, ch in
                (m.get("renamed_files") or {}).items()}
        for f in m["files"]:
            rmap.setdefault(f, []).append([old, new])
        out = {"schema": json.dumps(schema), "renamed_files": rmap}
        if m.get("stats"):
            out["stats"] = {f: {(new if c == old else c): st
                                for c, st in sd.items()}
                            for f, sd in m["stats"].items()}
        if m.get("bloom"):
            out["bloom"] = {f: {(new if c == old else c): e
                                for c, e in b.items()}
                            for f, b in m["bloom"].items()}
        # compact commit record: the delta log replays this one pair
        # instead of storing every file's rewritten chain/stats keys
        out["__delta_ops__"] = {"op_rename": [old, new]}
        return out
    return _metadata_commit(table_dir, "rename", mutate, max_retries)


#: legal metadata-only type widenings (Delta 3.x type widening /
#: Iceberg type promotion): strictly the set Spark 4's parquet reader
#: upcasts natively under an explicit schema — verified by
#: TestSnapshotWidenColumn against real files.
_WIDEN_OK = {
    "tinyint": {"smallint", "int", "bigint", "double"},
    "smallint": {"int", "bigint", "double"},
    "int": {"bigint", "double"},
    "float": {"double"},
    # Delta's type-widening set includes date -> timestampNTZ; Spark's
    # vectorized parquet reader upcasts INT32/DATE to timestamp_ntz
    # natively (midnight, no zone shift — verified against real
    # files). date -> timestamp (WITH zone) is NOT lossless (it takes
    # a session-zone interpretation) and stays blocked. Stored date
    # stats keep pruning through the exact comparator's sound
    # incomparable-types fallback; files rewritten after the widen
    # carry ntz stats and prune tightly again.
    "date": {"timestamp_ntz"},
}


def _is_widening(old_t: str, new_t: str) -> bool:
    if new_t in _WIDEN_OK.get(old_t, ()):
        return True
    if old_t.startswith("decimal(") and new_t.startswith("decimal("):
        po, so = map(int, old_t[8:-1].split(","))
        pn, sn = map(int, new_t[8:-1].split(","))
        # scale may grow only with enough new precision to keep every
        # old value representable: integer digits (p-s) never shrink
        return pn >= po and sn >= so and pn - sn >= po - so
    if new_t.startswith("decimal("):
        pn, sn = map(int, new_t[8:-1].split(","))
        # int -> decimal, exactly as far as the parquet reader's
        # native upcast goes (verified against real files): an
        # int32-physical column (tinyint/smallint/int) reads only as
        # decimal(p, 0) with p >= 10; int64 (bigint) reads as
        # decimal(p, s) with p - s >= 20
        if old_t in ("tinyint", "smallint", "int"):
            return sn == 0 and pn >= 10
        if old_t == "bigint":
            return pn - sn >= 20
    return False


def _is_partition_source(m: dict, col: str) -> bool:
    """True iff *col* is the SOURCE column of any live file's
    partition-tuple key — exact parse via the transform-tag grammar
    (the spec round-trip's), so an unrelated identity column literally
    named ``<col>__<x>`` never matches ``<col>``."""
    for pt in (m.get("partitions") or {}).values():
        for k in pt:
            src = k
            if "__" in k:
                head, tag = k.rsplit("__", 1)
                if _is_transform_tag(tag):
                    src = head
            if src == col:
                return True
    return False


def snapshot_widen_column(table_dir: str, col: str, new_type: str,
                          max_retries: int = 5,
                          rewrite: bool = False,
                          spark: SparkSession | None = None) -> int:
    """WIDEN a column's type as a METADATA-ONLY commit (Delta's type
    widening / Iceberg's type promotion): no data file is read or
    rewritten — the manifest's schema records the wider type and
    every read resolves old files through Spark's native parquet
    upcast (the era read already applies the FINAL schema's types
    per file). Legal widenings: tinyint->smallint/int/bigint,
    smallint->int/bigint, int->bigint, float->double,
    date->timestamp_ntz, and decimal(p,s)->decimal(p',s') with
    p'>=p, s'>=s and non-shrinking integer digits (p'-s' >= p-s).
    Anything else raises — narrowing or cross-family changes need a
    rewrite (overwrite), never a silent cast.

    ``rewrite=True`` (requires *spark*) is the explicit ESCAPE for
    type changes outside the metadata-safe lattice: the table is
    read at its latest version, the column CAST to *new_type* (Spark
    CAST semantics — the caller opts into any lossiness, e.g. bigint
    -> int overflow becoming NULL under ANSI-off), and published as
    ONE retrying overwrite commit; a
    lost publish race re-reads the new latest and recomputes, so no
    interleaved commit's rows are dropped. Per-file stats and bloom
    columns recorded in the old manifest are re-established on the
    new files. Metadata-safe changes take the metadata path even
    when ``rewrite=True`` — the escape never rewrites for free wins.

    Stored file statistics stay valid verbatim on the metadata path
    (the VALUES don't change; predicate coercion compares through
    exact decimals — a widened date column's date-typed stats stop
    pruning until files rewrite, conservatively, never wrongly), and
    integer-family bloom filters keep firing (the canonical hash
    string of an integer is width-independent). Widening a partition
    column of live files is blocked like rename — transform hashes
    (``bucket``) are width-sensitive."""
    def mutate(m):
        schema = json.loads(m["schema"])
        fld = next((f for f in schema["fields"]
                    if f["name"] == col), None)
        if fld is None:
            names = [f["name"] for f in schema["fields"]]
            raise KeyError(
                f"column {col!r} not in table schema {names}")

        from pyspark.sql.types import (StructField,
                                       _parse_datatype_string)
        old_s = StructField.fromJson(
            {"name": col, "type": fld["type"], "nullable": True,
             "metadata": {}}).dataType.simpleString()
        new_dt = _parse_datatype_string(str(new_type))
        new_s = new_dt.simpleString()
        if old_s == new_s:
            raise ValueError(
                f"column {col!r} already has type {old_s}")
        if not _is_widening(old_s, new_s):
            raise ValueError(
                f"cannot widen {col!r} from {old_s} to {new_s}: not "
                f"a lossless widening (supported: int family upward, "
                f"float->double, decimal growth with non-shrinking "
                f"integer digits) — rewrite via mode='overwrite' for "
                f"anything else")
        if _is_partition_source(m, col):
            raise ValueError(
                f"cannot widen column {col!r}: it is a partition "
                f"column of live files (transform hashes are "
                f"width-sensitive — rewrite via overwrite first)")
        fld["type"] = json.loads(new_dt.json())
        return {"schema": json.dumps(schema)}
    if rewrite:
        from pyspark.sql.types import (StructField,
                                       _parse_datatype_string)
        v = _latest_version(table_dir)
        if v is None:
            raise FileNotFoundError(
                f"no snapshot versions in {table_dir}")
        m = _read_manifest(table_dir, v)
        fld = next((f for f in json.loads(m["schema"])["fields"]
                    if f["name"] == col), None)
        if fld is not None:
            old_s = StructField.fromJson(
                {"name": col, "type": fld["type"], "nullable": True,
                 "metadata": {}}).dataType.simpleString()
            if _is_widening(
                    old_s,
                    _parse_datatype_string(str(new_type))
                    .simpleString()):
                # metadata-safe after all: never rewrite for free wins
                return _metadata_commit(table_dir, "widen", mutate,
                                        max_retries)
        if spark is None:
            raise ValueError(
                "snapshot_widen_column(rewrite=True) needs the "
                "SparkSession to read and rewrite the table — pass "
                "spark=")
        return _widen_rewrite(spark, table_dir, col, str(new_type),
                              max_retries)
    return _metadata_commit(table_dir, "widen", mutate, max_retries)


def _widen_rewrite(spark: SparkSession, table_dir: str, col: str,
                   new_type: str, max_retries: int = 5) -> int:
    """The ``rewrite=True`` escape: read-latest -> CAST -> ONE
    overwrite commit, retried against the NEW latest on a lost
    publish race (each attempt re-reads, so an interleaved commit's
    rows are never dropped). Stats/bloom coverage recorded in the old
    manifest is re-established on the new files."""
    last: FileExistsError | None = None
    for _ in range(max_retries + 1):
        v = _latest_version(table_dir)
        if v is None:
            raise FileNotFoundError(
                f"no snapshot versions in {table_dir}")
        m = _read_manifest(table_dir, v)
        names = [f["name"] for f in json.loads(m["schema"])["fields"]]
        if col not in names:
            raise KeyError(
                f"column {col!r} not in table schema {names}")
        stats_cols = sorted({c for sd in (m.get("stats") or {})
                             .values() for c in sd if c in names})
        bloom_cols = sorted({c for b in (m.get("bloom") or {})
                             .values() for c in b if c in names})
        sdf = _plain(snapshot_read(spark, table_dir, version=v)) \
            .withColumn(col, F.col(col).cast(new_type))
        try:
            return snapshot_write(sdf, table_dir, mode="overwrite",
                                  stats_cols=stats_cols or None,
                                  bloom_cols=bloom_cols or None)
        except FileExistsError as exc:
            last = exc
    raise FileExistsError(
        f"widen rewrite lost the publish race {max_retries + 1} "
        f"times in {table_dir} (pathological contention): {last}")


def _metadata_commit(table_dir: str, operation: str, mutate,
                     max_retries: int = 5) -> int:
    """Shared retry loop for metadata-only commits: *mutate* receives
    the latest manifest and returns the child manifest's extra/changed
    fields (schema, constraints, ...); files/stats/bloom/renames/txn
    carry verbatim unless overridden. A lost race re-reads and
    recomputes (metadata-only, trivially safe)."""
    last: FileExistsError | None = None
    for _ in range(max_retries + 1):
        base_v = _latest_version(table_dir)
        if base_v is None:
            raise FileNotFoundError(
                f"no snapshot versions in {table_dir}")
        m = _read_manifest(table_dir, base_v)
        manifest = {
            "version": base_v + 1,
            "parent": base_v,
            "operation": operation,
            "schema": m["schema"],
            "files": m["files"],
        }
        for key in ("stats", "bloom", "renamed_files", "dv",
                    "partitions", "txn", "constraints", "generated",
                    "cluster_by"):
            if m.get(key):
                manifest[key] = m[key]
        manifest.update(mutate(m))
        for key in ("stats", "bloom", "renamed_files", "dv",
                    "partitions", "constraints", "generated"):
            if key in manifest and not manifest[key]:
                del manifest[key]
        try:
            _publish(table_dir, manifest)
            return base_v + 1
        except FileExistsError as exc:
            last = exc
    raise FileExistsError(
        f"{operation} lost the publish race {max_retries + 1} times "
        f"in {table_dir}: {last}")


def snapshot_set_txn(table_dir: str, txn,
                     txn_expect=None, max_retries: int = 5) -> int:
    """Advance one or more idempotent-writer watermarks with a
    METADATA-ONLY commit — no data file is read or written (Delta's
    ``txnAppId``/``txnVersion`` carried by an otherwise-empty commit).
    The primitive an incremental maintainer needs when an interval is
    EMPTY for it: committing "I consumed up to v, nothing to apply"
    costs one manifest write instead of an empty merge's table scan,
    and keeps the watermark from pinning while the source grows.

    *txn* is ``(app_id, v)`` or a list of such tuples; *txn_expect*
    adds the same CAS semantics as ``snapshot_write``/``snapshot_merge``
    (int for a single tuple, or ``{app_id: expected}``). Raises
    ``SnapshotTxnConflict`` on a lost CAS or a non-advancing
    watermark — never silently replays."""
    def mutate(m):
        _txn_guard(m.get("txn"), txn, txn_expect)
        txns = dict(m.get("txn") or {})
        for app, v in _txn_entries(txn):
            txns[app] = v
        return {"txn": txns}
    return _metadata_commit(table_dir, "set_txn", mutate, max_retries)


def snapshot_add_constraint(table_dir: str, name: str,
                            sql_predicate: str,
                            max_retries: int = 5) -> int:
    """ADD a CHECK constraint (Delta's ``ALTER TABLE ADD CONSTRAINT``)
    as a metadata-only commit: the SQL predicate is stored in the
    manifest (carried by every later commit) and ENFORCED by
    ``snapshot_write`` — an append/overwrite whose batch holds any
    violating row raises before publishing, so bad data fails loudly
    at the writer. Existing rows are NOT retro-checked (Delta's
    semantics: adding a constraint validates the table first in Delta;
    here the caller runs the one-scan check via ``expect`` if wanted —
    documented difference, kept cheap)."""
    def mutate(m):
        cons = dict(m.get("constraints") or {})
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        cons[name] = sql_predicate
        return {"constraints": cons}
    return _metadata_commit(table_dir, "add_constraint", mutate,
                            max_retries)


def snapshot_drop_constraint(table_dir: str, name: str,
                             max_retries: int = 5) -> int:
    """DROP a CHECK constraint (metadata-only commit)."""
    def mutate(m):
        cons = dict(m.get("constraints") or {})
        if name not in cons:
            raise KeyError(f"no constraint {name!r} "
                           f"(have: {sorted(cons)})")
        del cons[name]
        out = {"constraints": cons}
        if not cons:
            out["constraints"] = {}
        return out
    v = _metadata_commit(table_dir, "drop_constraint", mutate,
                         max_retries)
    return v


def _enforce_constraints(sdf: DataFrame, constraints: dict) -> None:
    """One pass over the batch: any row violating any CHECK predicate
    aborts the write (NULL predicate results count as violations,
    matching SQL CHECK's spirit of failing loudly at the writer)."""
    if not constraints:
        return
    bad = None
    for name, pred in constraints.items():
        term = ~F.coalesce(F.expr(pred), F.lit(False))
        bad = term if bad is None else (bad | term)
    hit = sdf.filter(bad).limit(1).collect()
    if hit:
        raise ValueError(
            f"CHECK constraint violation: batch row {hit[0].asDict()} "
            f"fails one of {sorted(constraints)} — write aborted")


def _constraints_referencing(manifest: dict, col: str) -> list[str]:
    """Names of stored CHECK constraints whose predicate references
    *col* as an identifier (word-boundary match, so ``v`` matches in
    ``v >= 0`` but not in ``level`` or ``'v'``-adjacent words).
    Rename/drop of a constrained column is blocked — Delta's rule —
    because the stored predicate would otherwise go UNRESOLVED and
    brick every later write until the constraint is dropped."""
    import re
    pat = re.compile(r"(?<![A-Za-z0-9_`])" + re.escape(col)
                     + r"(?![A-Za-z0-9_`])", re.IGNORECASE)
    return sorted(name for name, pred in
                  (manifest.get("constraints") or {}).items()
                  if pat.search(pred))


# ---------------------------------------------------------------------------
# GENERATED / IDENTITY columns (Delta's GENERATED ALWAYS AS (expr) /
# GENERATED ALWAYS|BY DEFAULT AS IDENTITY): table-level declarations in
# the manifest; snapshot_write computes absent declared columns,
# enforces provided expression columns, and assigns identity values
# from a commit-carried high-water mark.
# ---------------------------------------------------------------------------

def _norm_generated_decls(generated: dict) -> dict:
    """User declarations to the stored manifest shape: a string value
    is an expression column; ``{"identity": {...}}`` an identity
    column (``start``/``step`` default 1, ``always`` default True; the
    stored ``high`` water mark starts one step before ``start``)."""
    out: dict = {}
    for name, g in generated.items():
        if isinstance(g, str):
            out[str(name)] = {"expr": g}
            continue
        if isinstance(g, dict) and "expr" in g:
            out[str(name)] = {"expr": str(g["expr"])}
            continue
        if isinstance(g, dict) and "identity" in g:
            ident = dict(g["identity"] or {})
            start = int(ident.get("start", 1))
            step = int(ident.get("step", 1))
            if step == 0:
                raise ValueError(
                    f"identity column {name!r}: step must be nonzero")
            out[str(name)] = {"identity": {
                "start": start, "step": step,
                "always": bool(ident.get("always", True)),
                "high": start - step}}
            continue
        raise ValueError(
            f"generated column {name!r}: declare a SQL expression "
            f"string or {{'identity': {{'start', 'step', 'always'}}}}")
    return out


def _generated_referencing(manifest: dict, col: str) -> list[str]:
    """Generated-column declarations that *col* participates in —
    as the generated column itself or as an identifier its expression
    references. Rename/drop of either is blocked, like constraints:
    the stored expression would go unresolved and brick every later
    write."""
    import re
    pat = re.compile(r"(?<![A-Za-z0-9_`])" + re.escape(col)
                     + r"(?![A-Za-z0-9_`])", re.IGNORECASE)
    out = []
    for name, g in (manifest.get("generated") or {}).items():
        if name == col or ("expr" in g and pat.search(g["expr"])):
            out.append(name)
    return sorted(out)


def _apply_generated(sdf: DataFrame, gen: dict
                     ) -> tuple[DataFrame, dict]:
    """Apply a table's generated-column declarations to one write
    batch: absent expression columns are COMPUTED (row-local
    ``F.expr``), present ones are ENFORCED (any row whose stored value
    differs from the expression aborts the write — Delta's rule);
    absent identity columns are ASSIGNED dense values continuing the
    commit-carried high-water mark (per-partition offsets + the
    row-in-partition index ``monotonically_increasing_id`` encodes —
    one tiny counts job, no window, no shuffle), present ones raise
    under GENERATED ALWAYS and advance the mark under BY DEFAULT.
    Returns ``(batch, updated declarations)`` — the caller records the
    updated map in the SAME commit, so a lost publish race re-runs the
    whole write against the winner's mark (no duplicate ids)."""
    if not gen:
        return sdf, gen
    new_gen = {k: {**v, "identity": dict(v["identity"])}
               if "identity" in v else dict(v) for k, v in gen.items()}
    checks: dict[str, str] = {}
    assign: list[str] = []
    for name, g in gen.items():
        if "expr" in g:
            if name in sdf.columns:
                checks[name] = g["expr"]
            else:
                try:
                    sdf = sdf.withColumn(name, F.expr(g["expr"]))
                except Exception as exc:
                    raise ValueError(
                        f"generated column {name} = {g['expr']!r} "
                        f"does not evaluate against the batch "
                        f"(schema drift?) — drop the declaration or "
                        f"fix the batch: {exc}") from exc
        else:
            ident = g["identity"]
            if name in sdf.columns:
                if ident.get("always", True):
                    raise ValueError(
                        f"identity column {name!r} is GENERATED "
                        f"ALWAYS — writes must not provide it "
                        f"(declare always=False for BY DEFAULT)")
                # BY DEFAULT: explicit values are accepted at the
                # identity column's declared type; pin one
                # materialization so the mark-advance agg and the
                # parquet write see identical rows
                sdf = sdf.withColumn(name,
                                     F.col(name).cast("bigint")) \
                    .localCheckpoint(eager=True)
                mx = sdf.agg(
                    F.max(F.col(name)) if ident["step"] > 0
                    else F.min(F.col(name))).collect()[0][0]
                if mx is not None:
                    h = new_gen[name]["identity"]["high"]
                    new_gen[name]["identity"]["high"] = (
                        max(h, int(mx)) if ident["step"] > 0
                        else min(h, int(mx)))
            else:
                assign.append(name)
    if assign or checks:
        # one materialization: the counts/enforcement jobs and the
        # parquet write must see identical rows and partitioning
        sdf = sdf.localCheckpoint(eager=True)
    for name in assign:
        ident = gen[name]["identity"]
        step, high = int(ident["step"]), int(ident["high"])
        sizes = sorted(
            (int(r["p"]), int(r["c"])) for r in
            sdf.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)).alias("c")).collect())
        offs, acc = [], 0
        for p, c in sizes:
            offs.append((p, acc))
            acc += c
        if not acc:
            # empty batch: the column still joins the schema (no rows,
            # no mark advance)
            sdf = sdf.withColumn(name, F.lit(None).cast("bigint"))
            continue
        off_map = F.create_map(*[F.lit(x) for p, o in offs
                                 for x in (p, o)])
        mid = F.monotonically_increasing_id()
        pid = F.shiftright(mid, 33).cast("int")
        row = mid.bitwiseAND(F.lit((1 << 33) - 1))
        sdf = sdf.withColumn(
            name,
            (F.lit(high) + (off_map[pid] + row + F.lit(1))
             * F.lit(step)).cast("bigint"))
        new_gen[name]["identity"]["high"] = high + step * acc
    if checks:
        bad = None
        for name, expr in checks.items():
            term = ~F.col(name).eqNullSafe(F.expr(expr))
            bad = term if bad is None else (bad | term)
        hit = sdf.filter(bad).limit(1).collect()
        if hit:
            raise ValueError(
                f"generated-column violation: batch row "
                f"{hit[0].asDict()} disagrees with the declared "
                f"expression for one of {sorted(checks)} — omit the "
                f"column (it is computed) or write matching values")
    return sdf, new_gen


def snapshot_add_generated_column(table_dir: str, name: str,
                                  expr: str,
                                  max_retries: int = 5) -> int:
    """Declare an EXPRESSION-generated column on an existing table as
    a metadata-only commit (Delta's ``GENERATED ALWAYS AS (expr)``):
    from the next write on, a batch that omits *name* gets it computed
    row-locally from *expr*, and a batch that provides it is checked
    against the expression (mismatches abort the write). The column
    must already exist in the table schema; existing rows are NOT
    retro-checked (same contract as ``snapshot_add_constraint`` —
    run the one-scan audit yourself if wanted)."""
    def mutate(m):
        names = [f["name"] for f in json.loads(m["schema"])["fields"]]
        if name not in names:
            raise KeyError(
                f"column {name!r} not in table schema {names} — "
                f"generated declarations cover existing columns "
                f"(declare at creation via snapshot_write(generated=) "
                f"for new tables)")
        gen = dict(m.get("generated") or {})
        if name in gen:
            raise ValueError(
                f"column {name!r} already has a generated "
                f"declaration")
        gen[name] = {"expr": str(expr)}
        return {"generated": gen}
    return _metadata_commit(table_dir, "add_generated", mutate,
                            max_retries)


def snapshot_drop_generated_column(table_dir: str, name: str,
                                   max_retries: int = 5) -> int:
    """Remove a generated/identity declaration (metadata-only; the
    column and its data stay — only the write-time rule goes)."""
    def mutate(m):
        gen = dict(m.get("generated") or {})
        if name not in gen:
            raise KeyError(
                f"no generated declaration for {name!r} "
                f"(has {sorted(gen)})")
        del gen[name]
        return {"generated": gen}
    return _metadata_commit(table_dir, "drop_generated", mutate,
                            max_retries)


def snapshot_clone(src_table_dir: str, dst_table_dir: str,
                   version: int | None = None) -> int:
    """Shallow CLONE (Delta's ``CREATE TABLE ... SHALLOW CLONE``): a
    new table whose first version REFERENCES the source version's data
    files in place — zero bytes copied, metadata only. Stats, blooms,
    rename chains, and constraints carry (file keys remapped to the
    clone-relative paths). The clone then evolves independently
    (appends/merges land in ITS data dir).

    The documented shallow-clone trade (same as Delta's): a VACUUM of
    the SOURCE can delete files the clone still references — vacuum of
    the clone itself never touches them (it only walks the clone's own
    data dir)."""
    if version is None:
        version = _latest_version(src_table_dir)
        if version is None:
            raise FileNotFoundError(
                f"no snapshot versions in {src_table_dir}")
    m = _read_manifest(src_table_dir, version)
    if _latest_version(dst_table_dir) is not None:
        raise FileExistsError(
            f"clone target {dst_table_dir} already has versions")
    os.makedirs(dst_table_dir, exist_ok=True)

    def remap(rel: str) -> str:
        return os.path.relpath(
            os.path.join(src_table_dir, rel), dst_table_dir)

    files = [remap(f) for f in m["files"]]
    manifest = {
        "version": 1,
        "parent": None,
        "operation": "clone",
        "schema": m["schema"],
        "files": files,
    }
    for key in ("stats", "renamed_files", "partitions"):
        if m.get(key):
            manifest[key] = {remap(f): v for f, v in m[key].items()}
    if m.get("bloom"):
        # file keys become clone-relative; sidecar refs too (entry
        # "f"/"c" keys stay as-written — they index INTO the source
        # sidecar's content, which is shared, not copied)
        manifest["bloom"] = {
            remap(f): {c: {**e, "sc": remap(e["sc"])}
                       for c, e in b.items()}
            for f, b in m["bloom"].items()}
    if m.get("dv"):
        manifest["dv"] = {remap(f): {**e, "scp": remap(e["scp"])}
                          for f, e in m["dv"].items()}
    if m.get("constraints"):
        manifest["constraints"] = m["constraints"]
    if m.get("generated"):
        manifest["generated"] = m["generated"]
    if m.get("cluster_by"):
        manifest["cluster_by"] = m["cluster_by"]
    _publish(dst_table_dir, manifest)
    return 1


def snapshot_drop_column(table_dir: str, col: str,
                         max_retries: int = 5) -> int:
    """DROP COLUMN as a METADATA-ONLY commit (the column-mapping twin
    of ``snapshot_rename_column``): no file is rewritten — the new
    manifest's schema loses the field, reads project it away, and each
    existing file's rename chain maps the physical column to a
    version-unique TOMBSTONE name so a later ``merge_schema`` re-add
    of the same name can never resurface the stale bytes. Per-file
    stats/bloom entries for the column are removed. Time travel to
    pre-drop versions still shows the column."""
    def mutate(m):
        schema = json.loads(m["schema"])
        names = [f["name"] for f in schema["fields"]]
        if col not in names:
            raise KeyError(
                f"column {col!r} not in table schema {names}")
        if len(names) == 1:
            raise ValueError("cannot drop a table's only column")
        ref = _constraints_referencing(m, col)
        if ref:
            raise ValueError(
                f"cannot drop column {col!r}: referenced by CHECK "
                f"constraint(s) {ref} — drop the constraint(s) first")
        gref = _generated_referencing(m, col)
        if gref:
            raise ValueError(
                f"cannot drop column {col!r}: it participates in "
                f"generated declaration(s) {gref} — drop the "
                f"declaration(s) first (snapshot_drop_generated_"
                f"column)")
        if _is_partition_source(m, col):
            raise ValueError(
                f"cannot drop column {col!r}: it is a partition "
                f"column of live files (identity or transform — "
                f"rewrite via overwrite first)")
        schema["fields"] = [f for f in schema["fields"]
                            if f["name"] != col]
        tomb = f"__dropped_v{m['version'] + 1}__{col}"
        rmap = {f: [list(p) for p in ch] for f, ch in
                (m.get("renamed_files") or {}).items()}
        for f in m["files"]:
            rmap.setdefault(f, []).append([col, tomb])
        out = {"schema": json.dumps(schema), "renamed_files": rmap}
        stats = {f: {c: st for c, st in sd.items() if c != col}
                 for f, sd in (m.get("stats") or {}).items()}
        stats = {f: sd for f, sd in stats.items() if sd}
        bloom = {f: {c: e for c, e in b.items() if c != col}
                 for f, b in (m.get("bloom") or {}).items()}
        bloom = {f: b for f, b in bloom.items() if b}
        out["stats"] = stats
        out["bloom"] = bloom
        out["__delta_ops__"] = {"op_drop": [col, tomb]}
        return out
    return _metadata_commit(table_dir, "drop_column", mutate,
                            max_retries)


def _carry_renames(parent_manifest: dict | None,
                   surviving_files) -> dict:
    """Rename chains for a child manifest: they follow the files that
    survive verbatim; rewritten files are written with the CURRENT
    logical schema, so they need no chain."""
    rm = (parent_manifest or {}).get("renamed_files") or {}
    keep = set(surviving_files)
    return {f: rm[f] for f in rm if f in keep}


def _carry_bloom(parent_manifest: dict | None,
                 surviving_files, new_blooms: dict | None = None) -> dict:
    """Bloom entries for a child manifest: parent filters follow the
    files that survive verbatim (their content is unchanged); rewritten
    files get fresh entries from *new_blooms* or none (sound — a file
    without a filter is never pruned)."""
    pb = (parent_manifest or {}).get("bloom") or {}
    keep = set(surviving_files)
    return {**{f: pb[f] for f in pb if f in keep}, **(new_blooms or {})}


class _micros_timestamps:
    """Write-scope override to TIMESTAMP_MICROS parquet timestamps:
    Spark's INT96 default (legacy Hive compatibility) carries NO
    footer min/max statistics, which would silently disable data
    skipping on timestamp columns — the modern INT64 micros encoding
    has full stats and is what the public lakehouse formats write."""

    _KEY = "spark.sql.parquet.outputTimestampType"

    def __init__(self, spark: SparkSession):
        self._spark = spark

    def __enter__(self):
        try:
            self._prev = self._spark.conf.get(self._KEY)
        except Exception:
            self._prev = None
        self._spark.conf.set(self._KEY, "TIMESTAMP_MICROS")

    def __exit__(self, *exc):
        if self._prev is None:
            self._spark.conf.unset(self._KEY)
        else:
            self._spark.conf.set(self._KEY, self._prev)


def _prune_stats(stats: dict | None, pt: dict | None) -> dict:
    """Effective stats for pruning from ONE file's entries: footer
    min/max merged with its partition tuple's synthesized exact
    min==max stats (the per-row twin of ``_stats_for_prune``, shared
    with the streamed checkpoint scan)."""
    stats = stats or {}
    if not pt:
        return stats
    synth = {c: {"min": v, "max": v, "null_count": 0}
             for c, v in pt.items() if v is not None}
    return {**stats, **synth}


def _stats_for_prune(m: dict, f: str) -> dict:
    """Effective per-file stats for pruning: footer min/max merged
    with the file's PARTITION TUPLE (Iceberg's partition values),
    which synthesizes an EXACT min==max stat per partition column —
    the most common prune (date= on a date-partitioned table) becomes
    metadata-exact instead of stats-dependent, and composes with
    footer stats and blooms through the same _file_may_match gate."""
    return _prune_stats((m.get("stats") or {}).get(f),
                        (m.get("partitions") or {}).get(f))


def _parse_partition_values(rel_file: str, schema_fields: dict) -> dict:
    """Decode Hive-style ``__part_<col>=<value>`` path segments into
    typed, ``_enc_stat``-encoded manifest values. Unparseable or NULL
    segments record None (present in the tuple, never pruned on)."""
    import urllib.parse
    out = {}
    for seg in rel_file.split("/")[:-1]:
        if "=" not in seg or not seg.startswith("__part_"):
            continue
        k, raw = seg.split("=", 1)
        col = k[len("__part_"):]
        raw = urllib.parse.unquote(raw)
        t = schema_fields.get(col)
        if raw == "__HIVE_DEFAULT_PARTITION__":
            out[col] = None
            continue
        if t is None and "__" in col:
            # hidden-partitioning transform value: typed by the tag
            src, tag = col.rsplit("__", 1)
            if _is_transform_tag(tag):
                try:
                    if tag.startswith("bucket_"):
                        out[col] = _enc_stat(int(raw))
                    elif tag.startswith("trunc_"):
                        st = schema_fields.get(src)
                        out[col] = _enc_stat(
                            int(raw) if st in _INT_TYPES else raw)
                    else:               # year/month/day/hour strings
                        out[col] = _enc_stat(raw)
                except ValueError:
                    out[col] = None
                continue
        if t is None:
            out[col] = None
            continue
        try:
            if t in ("tinyint", "smallint", "int", "bigint"):
                out[col] = _enc_stat(int(raw))
            elif t in ("float", "double"):
                v = float(raw)
                # NaN would poison the synthesized min==max stats
                # into pruning files wrongly; record a no-prune entry
                out[col] = _enc_stat(v) if v == v else None
            elif t == "date":
                out[col] = _enc_stat(
                    datetime.date.fromisoformat(raw))
            elif t == "boolean":
                out[col] = _enc_stat(raw.lower() == "true")
            elif t == "string":
                out[col] = _enc_stat(raw)
            else:
                out[col] = None    # timestamp/decimal path encodings
                # are ambiguous: keep the tuple entry, skip pruning
        except ValueError:
            out[col] = None
    return out


def _carry_partitions(parent_manifest: dict | None,
                      surviving_files) -> dict:
    keep = set(surviving_files)
    pp = (parent_manifest or {}).get("partitions") or {}
    return {f: pp[f] for f in pp if f in keep}


# --- hidden partitioning (Iceberg partition transforms) -------------
#
# ``partition_by`` accepts, besides identity column names, transform
# strings in Iceberg's spec syntax: ``days(ts)`` / ``months(ts)`` /
# ``years(ts)`` / ``hours(ts)`` over timestamp/date columns,
# ``bucket(N, col)`` over int/string columns (CRC-32 of the UTF-8
# string form, mod N — the same bytes hash on the Spark write side
# and the Python prune side), and ``truncate(W, col)`` over
# int/string columns (floor-to-multiple / prefix). The DERIVED value
# exists only in the file path and the manifest's partition tuple —
# the base column stays in the data files, queries keep predicating
# on the BASE column, and the prune maps each base-column predicate
# through the transform (Iceberg's hidden-partitioning contract:
# users never filter on a partition-derived column).
#
# Soundness of the mapping: the time and truncate transforms are
# MONOTONIC (x <= y implies T(x) <= T(y), with the time buckets
# rendered zero-padded so string order equals time order), so a file
# whose bucket p satisfies p < T(X) can hold no row with c >= X, etc.
# bucket() is not monotonic and prunes only on == / IN. Time
# transforms render in UTC — the engine pins
# ``spark.sql.session.timeZone`` to UTC (session.py), and the Python
# side mirrors ``_coerce_pred``'s naive-datetime convention (OS-zone
# localize, then convert) so the prune agrees with the row filter.

_TIME_TRANSFORMS = {
    "years": ("year", "yyyy", "%Y"),
    "months": ("month", "yyyy-MM", "%Y-%m"),
    "days": ("day", "yyyy-MM-dd", "%Y-%m-%d"),
    "hours": ("hour", "yyyy-MM-dd-HH", "%Y-%m-%d-%H"),
}

_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def _parse_partition_entry(entry: str, ftypes: dict):
    """One ``partition_by`` entry -> ``(pname, src, expr)`` where
    *pname* is the transform-tagged tuple key (``ts__day``,
    ``user_id__bucket_16``, ``url__trunc_4``; identity entries return
    ``(col, col, None)``) and *expr* derives the partition value."""
    e = entry.strip()
    if "(" not in e:
        if e not in ftypes:
            raise ValueError(f"partition_by column not in schema: {e}")
        return e, e, None
    if not e.endswith(")"):
        raise ValueError(f"malformed partition transform: {entry!r}")
    name, inner = e[:-1].split("(", 1)
    name = name.strip().lower()
    args = [a.strip() for a in inner.split(",")]
    if name in _TIME_TRANSFORMS:
        if len(args) != 1:
            raise ValueError(f"{name}() takes one column: {entry!r}")
        src = args[0]
        t = ftypes.get(src)
        if t not in ("timestamp", "timestamp_ntz", "date"):
            raise ValueError(
                f"{name}() needs a timestamp/date column, {src!r} "
                f"is {t!r}")
        tag, spark_fmt, _py = _TIME_TRANSFORMS[name]
        if t != "timestamp":
            # WALL-rendered sources (timestamp_ntz, date): a naive
            # predicate literal compares as a wall value on these
            # columns, so the prune-side rendering must be direct —
            # the 'w' tag records that at write time
            tag += "w"
        return (f"{src}__{tag}", src,
                F.date_format(F.col(src), spark_fmt))
    if name == "bucket":
        if len(args) != 2:
            raise ValueError(f"bucket(N, col) expected: {entry!r}")
        n, src = int(args[0]), args[1]
        if n <= 0:
            raise ValueError(f"bucket count must be positive: {entry!r}")
        t = ftypes.get(src)
        if t not in (*_INT_TYPES, "string"):
            raise ValueError(
                f"bucket() needs an int/string column, {src!r} is "
                f"{t!r} (other types have no canonical cross-engine "
                f"string form)")
        return (f"{src}__bucket_{n}", src,
                F.pmod(F.crc32(F.col(src).cast("string")
                               .cast("binary")), F.lit(n)))
    if name == "truncate":
        if len(args) != 2:
            raise ValueError(f"truncate(W, col) expected: {entry!r}")
        w, src = int(args[0]), args[1]
        if w <= 0:
            raise ValueError(f"truncate width must be positive: {entry!r}")
        t = ftypes.get(src)
        if t == "string":
            expr = F.substring(F.col(src), 1, w)
        elif t in _INT_TYPES:
            expr = F.col(src) - F.pmod(F.col(src), F.lit(w))
        else:
            raise ValueError(
                f"truncate() needs an int/string column, {src!r} "
                f"is {t!r}")
        return f"{src}__trunc_{w}", src, expr
    raise ValueError(
        f"unknown partition transform {name!r} in {entry!r} "
        f"(supported: years/months/days/hours, bucket, truncate)")


def _spec_from_tuple_key(key: str) -> str:
    """A manifest partition-tuple key back to its ``partition_by``
    spec string — so a partition-preserving OPTIMIZE can re-lay files
    out under the SAME transform (``ts__dayw`` -> ``days(ts)``; the
    wall/instant tag re-derives from the source column's type)."""
    if "__" not in key:
        return key
    src, tag = key.rsplit("__", 1)
    if not _is_transform_tag(tag):
        return key            # a column literally named like a tuple
    base = tag[:-1] if tag.endswith("w") else tag
    if base in ("year", "month", "day", "hour"):
        return f"{base}s({src})"
    if tag.startswith("bucket_"):
        return f"bucket({tag[len('bucket_'):]}, {src})"
    return f"truncate({tag[len('trunc_'):]}, {src})"


def _transform_pred_value(tag: str, value):
    """The Python-side twin of the write expressions: T(value) for a
    predicate constant, or None when the value can't be mapped (the
    caller keeps the file — sound)."""
    wall = tag.endswith("w")
    base = tag[:-1] if wall else tag
    if base in ("year", "month", "day", "hour"):
        fmt = {"year": "%Y", "month": "%Y-%m", "day": "%Y-%m-%d",
               "hour": "%Y-%m-%d-%H"}[base]
        v = value
        if isinstance(v, str):
            try:
                v = datetime.datetime.fromisoformat(v)
            except ValueError:
                return None
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            v = datetime.datetime.fromtimestamp(
                v, tz=datetime.timezone.utc)
        if isinstance(v, datetime.date) \
                and not isinstance(v, datetime.datetime):
            # a plain date is a CALENDAR value on both sides: the
            # write side's date_format renders a DateType as-is, and
            # a date literal against a timestamp column casts to
            # midnight in the pinned-UTC session
            return v.strftime(fmt)
        if not isinstance(v, datetime.datetime):
            return None
        if wall:
            # timestamp_ntz/date source: a naive literal compares as
            # a WALL value on the column, matching date_format's
            # direct rendering of no-zone values; an aware literal
            # best-efforts through UTC (the pinned session zone)
            if v.tzinfo is not None:
                v = v.astimezone(
                    datetime.timezone.utc).replace(tzinfo=None)
            return v.strftime(fmt)
        # timestamp (instant) column: naive predicates follow
        # _coerce_pred's convention (OS-zone instant), then render in
        # the session's pinned UTC like the write side's date_format
        if v.tzinfo is None:
            v = v.astimezone()
        return v.astimezone(datetime.timezone.utc).strftime(fmt)
    if tag.startswith("bucket_"):
        n = int(tag[len("bucket_"):])
        if isinstance(v := value, bool) or not isinstance(
                v, (int, str)):
            return None
        return zlib.crc32(str(v).encode("utf-8")) % n
    if tag.startswith("trunc_"):
        w = int(tag[len("trunc_"):])
        if isinstance(value, str):
            return value[:w]
        if isinstance(value, int) and not isinstance(value, bool):
            return value - (value % w)
        return None
    return None


_TAG_RE = None  # compiled lazily in _is_transform_tag


def _reject_reserved_column_names(names) -> None:
    """``<src>__<transform tag>`` is the RESERVED namespace for
    hidden-partition tuple keys in per-file stats: a real data column
    named e.g. ``x__day`` with constant footer stats would be
    indistinguishable from a days() partition value for predicates on
    ``x`` and could prune files wrongly. Writers reject such names
    loudly (Iceberg reserves its metadata namespace the same way)."""
    for n in names:
        if "__" not in n:
            continue
        src, _, tag = n.rpartition("__")
        if src and _is_transform_tag(tag):
            raise ValueError(
                f"column name {n!r} is reserved: '<col>__<transform>'"
                " is the hidden-partition stats namespace (transform "
                f"tag {tag!r} on base column {src!r}) — rename the "
                "column")


def _is_transform_tag(tag: str) -> bool:
    global _TAG_RE
    if _TAG_RE is None:
        import re
        _TAG_RE = re.compile(
            r"^(year|month|day|hour)w?$|^(bucket_|trunc_)\d+$")
    return bool(_TAG_RE.match(tag))


def _at_bucket_start(tag: str, value) -> bool:
    """True when *value* sits EXACTLY at the start of its transform
    bucket — then ``c < value`` implies ``T(c) < T(value)`` and the
    strict-< prune can drop the boundary bucket itself."""
    base = tag[:-1] if tag.endswith("w") else tag
    if tag.startswith("trunc_"):
        w = int(tag[len("trunc_"):])
        return isinstance(value, int) and not isinstance(value, bool) \
            and value % w == 0
    if base not in ("year", "month", "day", "hour"):
        return False
    v = value
    if isinstance(v, str):
        try:
            v = datetime.datetime.fromisoformat(v)
        except ValueError:
            return False
    if isinstance(v, datetime.date) \
            and not isinstance(v, datetime.datetime):
        v = datetime.datetime(v.year, v.month, v.day)
    if not isinstance(v, datetime.datetime):
        return False
    if not tag.endswith("w"):
        # instant rendering: the boundary must hold in the UTC frame
        # the bucket was rendered in (a naive OS-zone midnight is not
        # a UTC bucket start under a non-UTC OS zone)
        if v.tzinfo is None:
            v = v.astimezone()
        v = v.astimezone(datetime.timezone.utc)
    if (v.minute, v.second, v.microsecond) != (0, 0, 0):
        return False
    if base == "hour":
        return True
    if v.hour != 0:
        return False
    if base == "day":
        return True
    if v.day != 1:
        return False
    if base == "month":
        return True
    return v.month == 1


def _transform_admits(tag: str, op: str, value, p) -> bool:
    """False ONLY when partition value *p* provably excludes every row
    matching ``(src, op, value)`` under transform *tag*."""
    monotonic = not tag.startswith("bucket_")
    if op == "in":
        vals = [t for t in (_transform_pred_value(tag, x)
                            for x in value) if t is not None]
        if len(vals) != len(list(value)):
            return True   # an unmappable value: keep (sound)
        return p in vals if vals else False   # IN () matches no row
    t = _transform_pred_value(tag, value)
    if t is None:
        return True
    try:
        if op in ("==", "="):
            return p == t
        if not monotonic:
            return True          # bucket: only equality prunes
        if op == "<":
            # rows < X all have T(row) <= T(X); when X is exactly a
            # bucket start they have T(row) < T(X), so the boundary
            # bucket itself drops too
            return p < t or (p == t and not _at_bucket_start(
                tag, value))
        if op == "<=":
            return p <= t
        if op in (">", ">="):
            return p >= t
    except TypeError:
        return True
    return True


def _write_partitioned(sdf: DataFrame, table_dir: str, out_dir: str,
                       partition_by, num_files: int | None,
                       order_expr=None) -> tuple[list[str], dict]:
    """Hive-layout write via ``__part_<pname>=`` shadow columns (the
    real columns stay IN the data files); returns (relative file
    list, per-file partition tuples) for the manifest. Entries are
    identity column names or hidden-partitioning transform strings
    (``days(ts)`` / ``bucket(16, user_id)`` / ``truncate(4, url)`` —
    see ``_parse_partition_entry``).

    ``order_expr`` clusters WITHIN the partition layout (the
    spec-aware sticky-clustering path): rows range-partition on
    (partition tuple, curve index) and sort within tasks, so a hive
    directory's files carry tight, disjoint curve-column footer
    ranges — tuple pruning AND z-order stats pruning both survive
    the rewrite."""
    ftypes = {f.name: f.dataType.simpleString() for f in sdf.schema}
    spec = [_parse_partition_entry(e, ftypes) for e in partition_by]
    w = sdf
    pcols, srcs = [], []
    for pname, src, expr in spec:
        pc = f"__part_{pname}"
        w = w.withColumn(pc, F.col(src) if expr is None else expr)
        pcols.append(pc)
        srcs.append(src)
    if order_expr is not None:
        # num_files=None means natural parallelism, same as the
        # unordered branch — never collapse the write to ONE range
        # partition just because clustering is on
        if num_files is None:
            from cl_data_frame_spark.partitioning import \
                default_parallelism
            num_files = default_parallelism(sdf)
        w = w.withColumn("__zk__", order_expr) \
            .repartitionByRange(max(num_files, 1),
                                *pcols, F.col("__zk__")) \
            .sortWithinPartitions(*pcols, "__zk__") \
            .drop("__zk__")
    elif num_files:
        w = w.repartition(num_files, *pcols)
    with _micros_timestamps(w.sparkSession):
        w.write.partitionBy(*pcols).mode("error").parquet(out_dir)
    new_files = sorted(
        os.path.relpath(os.path.join(root, name), table_dir)
        for root, _d, names in os.walk(out_dir)
        for name in names if name.endswith(".parquet"))
    return new_files, {f: _parse_partition_values(f, ftypes)
                       for f in new_files}


def _streamed_scan_files(table_dir: str, version: int,
                         branches) -> tuple[list, dict] | None:
    """Predicated file listing that never materializes the O(#files)
    state dict: stream the nearest PARQUET checkpoint's record
    batches (bounded by one 64k-row batch at a time), prune each row
    against stats + partition tuple + bloom, and overlay the O(delta)
    commits since. *branches* is the normalized DNF
    (OR-of-conjunctions): the vectorized envelope prefilter evaluates
    each branch's AND-mask and ORs them, and the exact decoded check
    admits a row when ANY branch does — OR-shaped predicates keep the
    streamed path instead of falling back to the O(#files) dict
    reconstruction. Returns ``(files, slim_manifest)`` where the slim
    manifest carries the schema and ONLY the survivors' chains / DVs
    / partition tuples — exactly what ``_read_files_renamed`` needs —
    so a point lookup on a million-file table allocates proportional
    to the batch size + the matches, not the manifest.

    Returns None (callers fall back to the exact
    ``_read_manifest``-based prune) when the version's state is
    already cached, when no parquet checkpoint serves it, or when a
    metadata op (``op_rename``/``op_drop``, which rewrites every
    row's stats keys) sits in the delta chain."""
    import pyarrow.parquet as pq
    if (os.path.abspath(table_dir), version) in _STATE_CACHE:
        return None
    deltas: list[dict] = []
    v = version
    while True:
        pqp = _ckpt_pq_path(table_dir, v)
        if os.path.exists(pqp):
            break
        if len(deltas) > 2 * _CHECKPOINT_EVERY:
            return None   # no reachable checkpoint at the cadence:
            # stop paying chain I/O twice, take the exact path
        try:
            with open(_manifest_path(table_dir, v)) as f:
                raw = json.load(f)
        except (OSError, json.JSONDecodeError):
            return None
        if not raw.get("delta") or raw.get("op_rename") \
                or raw.get("op_drop"):
            return None
        deltas.append(raw)
        v = raw["parent"]
    deltas.reverse()
    # sequential overlay: per-file status (False = dead) and per-key
    # value overrides, exactly mirroring _apply_delta's replay — a
    # remove tombstones the carried values, a later add may re-set
    status: dict[str, bool] = {}
    added_order: list[str] = []
    over: dict[str, dict] = {key: {} for key, _c in _CKPT_FILE_COLS}
    for d in deltas:
        for f in d.get("remove") or []:
            status[f] = False
            for key, _c in _CKPT_FILE_COLS:
                over[key][f] = None
        for f in d.get("add") or []:
            status[f] = True
            added_order.append(f)
        for key, add_k, del_k in (
                ("stats", "stats_add", "stats_del"),
                ("bloom", "bloom_add", "bloom_del"),
                ("dv", "dv_add", "dv_del"),
                ("partitions", "parts_add", "parts_del"),
                ("renamed_files", "renames_add", "renames_del")):
            for f in d.get(del_k) or []:
                over[key][f] = None
            for f, val in (d.get(add_k) or {}).items():
                over[key][f] = val
    last = deltas[-1] if deltas else None
    try:
        meta_src = last if last is not None \
            else _read_ckpt_meta(_ckpt_pq_path(table_dir, v))
        pf = pq.ParquetFile(_ckpt_pq_path(table_dir, v))
    except (OSError, ValueError, KeyError):
        return None   # unreadable/corrupt checkpoint (ArrowInvalid
        # is a ValueError): decline — the exact path replays the
        # delta chain past it and stays correct
    eq_or_in = any(op in ("==", "=", "in")
                   for b in branches for _c, op, _v in b)

    def keep(f, stats_entry, bloom_entry, pt_entry):
        st = over["stats"].get(f, stats_entry)
        pt = over["partitions"].get(f, pt_entry)
        eff = _prune_stats(st, pt)
        bl = over["bloom"].get(f, bloom_entry) if eq_or_in else None
        for b in branches:
            if not _file_may_match(eff, b):
                continue
            if bl and any(op in ("==", "=", "in")
                          for _c, op, _v in b) \
                    and not _bloom_preds_may_match(bl, b, table_dir):
                continue
            return True
        return False

    survivors: list[str] = []
    chains: dict = {}
    dvs: dict = {}
    parts_: dict = {}
    stats_out: dict = {}

    def admit(f, stats_entry, chain_entry, dv_entry, pt_entry):
        survivors.append(f)
        st = over["stats"].get(f, stats_entry)
        ch = over["renamed_files"].get(f, chain_entry)
        dv = over["dv"].get(f, dv_entry)
        pt = over["partitions"].get(f, pt_entry)
        if st:
            stats_out[f] = st
        if ch:
            chains[f] = ch
        if dv:
            dvs[f] = dv
        if pt:
            parts_[f] = pt
    names = set(pf.schema_arrow.names)
    md = pf.schema_arrow.metadata or {}
    kinds = json.loads(md.get(b"cdf.statkinds", b"{}") or b"{}")
    # vectorized prefilter setup, PER DNF BRANCH: predicates whose
    # column carries a float envelope in this checkpoint, with the
    # predicate value widened the OPPOSITE way (soundness: a true
    # match can never be excluded; candidates still pass the exact
    # decoded check below). The batch mask is OR over branches of
    # each branch's AND.
    branch_vecs = []
    for b in branches:
        vec_preds = []
        for colp, op, val in b:
            k = kinds.get(colp)
            if k is None or f"smin:{colp}" not in names:
                continue
            if op == "in":
                pairs = []
                ok = True
                for x in val:
                    vlo = _pred_float(x, k, up=False)
                    vhi = _pred_float(x, k, up=True)
                    if vlo is None or vhi is None:
                        ok = False
                        break
                    pairs.append((vlo, vhi))
                if ok and pairs:
                    vec_preds.append((colp, "in", pairs))
                continue
            vlo = _pred_float(val, k, up=False)
            vhi = _pred_float(val, k, up=True)
            if vlo is None or vhi is None:
                continue
            vec_preds.append((colp, op, (vlo, vhi)))
        branch_vecs.append(vec_preds)
    # files whose stats/partition entries were overridden by a delta
    # have a stale envelope row: always treat them as candidates
    over_files = set(over["stats"]) | set(over["partitions"])
    want = ["file"] + [c for _k, c in _CKPT_FILE_COLS]
    have = [c for c in want if c in names] \
        + [f"s{e}:{c}" for vp in branch_vecs for c, _o, _v in vp
           for e in ("min", "max")]
    added_set = set(added_order)
    in_ckpt_added: set = set()
    import numpy as np
    for batch in pf.iter_batches(columns=sorted(set(have))):
        cand = np.zeros(batch.num_rows, dtype=bool)
        col_np: dict = {}

        def _np(name):
            if name not in col_np:
                col_np[name] = batch.column(name) \
                    .to_numpy(zero_copy_only=False)
            return col_np[name]
        for vec_preds in branch_vecs:
            bm = np.ones(batch.num_rows, dtype=bool)
            for colp, op, vv in vec_preds:
                lo = _np(f"smin:{colp}")
                hi = _np(f"smax:{colp}")
                has = ~(np.isnan(lo) | np.isnan(hi))
                if op in ("==", "="):
                    vlo, vhi = vv
                    excl = (lo > vhi) | (hi < vlo)
                elif op == "<":
                    excl = lo >= vv[1]
                elif op == "<=":
                    excl = lo > vv[1]
                elif op == ">":
                    excl = hi <= vv[0]
                elif op == ">=":
                    excl = hi < vv[0]
                else:      # "in": outside EVERY listed value's band
                    excl = np.ones(batch.num_rows, dtype=bool)
                    for vlo, vhi in vv:
                        excl &= (lo > vhi) | (hi < vlo)
                bm &= ~(has & excl)
            cand |= bm
            if cand.all():
                break
        files_b = batch.column("file").to_pylist()
        if added_set:
            # re-added ckpt files: these rows are their authority,
            # skip them in the adds pass below
            in_ckpt_added.update(added_set.intersection(files_b))
        if status or over_files:
            idx = [i for i, f in enumerate(files_b)
                   if status.get(f, True)
                   and (cand[i] or f in over_files)]
        else:   # ckpt-aligned read: pure numpy candidate selection
            idx = np.nonzero(cand)[0].tolist()
        if not idx:
            continue
        sub = {c: (batch.column(c).take(idx).to_pylist()
                   if c in names else [None] * len(idx))
               for _k, c in _CKPT_FILE_COLS}
        for j, i in enumerate(idx):
            f = files_b[i]
            se = sub["stats"][j]
            be = sub["bloom"][j]
            se = json.loads(se) if se is not None else None
            be = json.loads(be) if be is not None else None
            pe = sub["part"][j]
            if not keep(f, se, be, pe and json.loads(pe)):
                continue
            ce = sub["chain"][j]
            de = sub["dv"][j]
            admit(f, se,
                  json.loads(ce) if ce is not None else None,
                  json.loads(de) if de is not None else None,
                  json.loads(pe) if pe is not None else None)
    done: set = set()
    for f in added_order:
        if not status.get(f, True) or f in in_ckpt_added \
                or f in done:
            continue   # dead, ckpt-authoritative, or added twice
        done.add(f)    # (add+remove+re-add across deltas)
        if keep(f, None, None, None):
            admit(f, None, None, None, None)
    slim = {"version": version,
            "parent": meta_src.get("parent"),
            "operation": meta_src.get("operation"),
            "schema": meta_src["schema"],
            "files": survivors}
    if stats_out:
        slim["stats"] = stats_out
    if chains:
        slim["renamed_files"] = chains
    if dvs:
        slim["dv"] = dvs
    if parts_:
        slim["partitions"] = parts_
    for k in ("constraints", "txn", "cluster_by"):
        if meta_src.get(k):
            slim[k] = meta_src[k]
    return survivors, slim


def snapshot_scan_files(table_dir: str, version: int | None = None,
                        where=None) -> list[str]:
    """The file list a ``snapshot_read`` with the same arguments will
    hand Spark — *where* (list of ``(col, op, value)`` triples, ops
    ``== < <= > >= in``) prunes via the manifest's per-file min/max
    stats (``in`` takes a value list — the OR-of-equalities disjunct).
    Exposed so tests and capacity planning can assert skip
    effectiveness without running the scan. Naive datetime predicate
    values are localized in the driver's OS zone (see
    ``_coerce_pred``)."""
    if version is None:
        version = _latest_version(table_dir)
        if version is None:
            raise FileNotFoundError(
                f"no snapshot versions in {table_dir}")
    return _scan_with_state(table_dir, version, where)[0]


def _scan_with_state(table_dir: str, version: int,
                     where) -> tuple[list, dict]:
    """``(pruned file list, manifest-like state)`` for one version —
    the shared core of ``snapshot_scan_files`` and ``snapshot_read``.
    With a predicate and a parquet checkpoint available, the listing
    STREAMS the checkpoint (``_streamed_scan_files``: driver
    allocation bounded by batch + matches, and the returned state is
    SLIM — survivors only); otherwise the exact
    ``_read_manifest``-based prune runs, returning the full state."""
    branches = _norm_dnf(where)
    if branches:
        # the vectorized checkpoint-streaming listing evaluates the
        # whole DNF (per-branch AND masks, ORed) — OR shapes keep the
        # bounded-memory path too
        streamed = _streamed_scan_files(table_dir, version, branches)
        if streamed is not None:
            return streamed
    m = _read_manifest(table_dir, version)
    files = m["files"]
    if branches:
        blooms = m.get("bloom") or {}

        def admits(f):
            st = _stats_for_prune(m, f)
            bl = blooms.get(f) or {}
            for b in branches:
                if not _file_may_match(st, b):
                    continue
                if bl and any(op in ("==", "=", "in")
                              for _c, op, _v in b) \
                        and not _bloom_preds_may_match(bl, b,
                                                       table_dir):
                    continue
                return True
            return False

        files = [f for f in files if admits(f)]
    return files, m


class SnapshotTxnConflict(RuntimeError):
    """A commit carrying a ``txn=(app_id, v)`` watermark found the
    parent manifest's watermark for *app_id* already at or past *v*
    (another instance of the writer landed first), or — when the
    caller passed ``txn_expect`` — not exactly the value the caller
    computed its work against. Never retried by the publish loops:
    the caller must re-read the watermark and recompute (or conclude
    its work is already applied)."""


def _txn_entries(txn) -> list[tuple[str, int]]:
    """Normalize the ``txn`` argument: a single ``(app_id, v)`` tuple
    or a LIST of such tuples (a commit may advance several writers'
    watermarks at once — e.g. a join-view refresh consuming two
    sources' change feeds records both consumed versions)."""
    if txn is None:
        return []
    if isinstance(txn, (list, tuple)) and txn \
            and isinstance(txn[0], (list, tuple)):
        return [(str(a), int(v)) for a, v in txn]
    return [(str(txn[0]), int(txn[1]))]


def _txn_guard(parent_txns: dict | None, txn, txn_expect) -> None:
    """Commit-time enforcement of the idempotent-writer protocol.
    Monotonicity always holds (a commit may only ADVANCE its app's
    watermark); ``txn_expect`` adds compare-and-swap semantics — the
    parent watermark must be exactly the value the writer planned
    from, which closes the concurrent-maintainer double-apply race
    (two refreshers that both computed deltas from watermark W: the
    loser's commit sees W already advanced and aborts instead of
    re-applying its now-overlapping delta on top).

    ``txn_expect`` is an int (CAS for a single-tuple ``txn``) or a
    dict ``{app_id: expected}`` — dict keys need not appear in
    ``txn``: a writer can assert "this watermark did NOT move" for a
    source it consumed but is not advancing this commit."""
    entries = _txn_entries(txn)
    parent = parent_txns or {}
    if isinstance(txn_expect, dict):
        for app, exp in txn_expect.items():
            cur = parent.get(app)
            if cur != (int(exp) if exp is not None else None):
                raise SnapshotTxnConflict(
                    f"txn watermark for {app!r} is {cur}, writer "
                    f"expected {exp} (a concurrent instance "
                    f"committed) — re-read and recompute")
    elif txn_expect is not None and entries:
        cur = parent.get(entries[0][0])
        if cur != int(txn_expect):
            raise SnapshotTxnConflict(
                f"txn watermark for {entries[0][0]!r} is {cur}, "
                f"writer expected {txn_expect} (a concurrent "
                f"instance committed) — re-read and recompute")
    for app, v in entries:
        cur = parent.get(app)
        if cur is not None and v <= int(cur):
            raise SnapshotTxnConflict(
                f"txn ({app!r}, {v}) does not advance the recorded "
                f"watermark {cur} — this transaction already "
                f"committed (replay) or a newer one superseded it")


def snapshot_write(frame, table_dir: str, mode: str = "append",
                   num_files: int | None = None,
                   stats_cols: Sequence[str] | None = None,
                   bloom_cols: Sequence[str] | None = None,
                   txn: tuple[str, int] | None = None,
                   merge_schema: bool = False,
                   partition_by: Sequence[str] | None = None,
                   txn_expect: int | None = None,
                   txn_reset: bool = False,
                   generated: dict | None = None) -> int:
    """Publish a new table version; returns the version number.

    ``generated`` (creation-time only: the first write, or an
    overwrite) declares GENERATED columns — Delta's ``GENERATED
    ALWAYS AS (expr)`` / ``AS IDENTITY``: ``{"day":
    "date_trunc('day', ts)"}`` or ``{"id": {"identity": {"start": 1,
    "step": 1, "always": True}}}``. From then on EVERY
    ``snapshot_write`` computes absent declared columns (expression
    columns row-locally; identity columns as DENSE values continuing
    a commit-carried high-water mark — per-partition offsets, no
    window, no shuffle), enforces provided expression columns
    (mismatch aborts), and rejects provided GENERATED ALWAYS identity
    values (``always=False`` = BY DEFAULT: explicit values accepted
    and the mark advances past them). Declarations carry across
    commits like constraints; a lost publish race re-runs the write
    against the winner's mark, so concurrent appenders never mint
    duplicate ids. Row-level DML (merge/update) carries declarations
    but does not recompute them — the writer path is the enforcement
    point, as with CHECK constraints at Delta.

    ``partition_by`` lays the new files out Hive-style by the given
    columns and records each file's PARTITION TUPLE in the manifest
    (Iceberg's partition values): a predicated read prunes on the
    tuple with metadata-EXACT min==max stats before footer stats and
    blooms even load — the date= prune on a date-partitioned 100 TB
    table. The partition columns stay present IN the data files (the
    path carries a ``__part_<col>=`` shadow copy), so explicit-schema
    reads need no basePath reconstruction and renames/era unions work
    unchanged. Renaming or dropping a partition column is blocked
    while partitioned files are live.

    ``mode='append'`` adds this DataFrame's rows to the current
    version's file set; ``'overwrite'`` starts the version from only
    the new files (old versions stay readable until ``vacuum``).

    ``stats_cols`` names columns whose per-file min/max/null_count are
    read from the new files' parquet FOOTERS (no data scan) and stored
    in the manifest; a later ``snapshot_read(..., where=...)`` prunes
    files against them before the scan — the public Delta/Iceberg
    data-skipping model. Appends inherit the parent's stats for the
    files they carry forward.

    ``bloom_cols`` names point-lookup key columns (int/string) that
    additionally get a per-file BLOOM filter (built distributed, one
    column-pruned scan over the new files; ~10 bits/key, ~1% FPP):
    an ``==`` predicate then prunes files whose filter proves the key
    absent — the complement to min/max stats for hash-scattered keys
    whose per-file range spans the whole domain. No false negatives:
    a fired filter only ever ADMITS a file.

    ``txn=(app_id, txn_version)`` records an idempotent-writer
    watermark in the manifest (Delta's ``txnAppId``/``txnVersion``
    protocol): every publish carries the parent's ``txn`` map forward,
    so ``snapshot_txn_version(table_dir, app_id)`` answers "which was
    the last transaction this writer committed?" from the latest
    manifest alone — the exactly-once hook the streaming snapshot
    sink replays against.

    **Schema enforcement** (the public formats' default): an append
    whose schema differs from the table's current schema raises
    instead of silently publishing a mixed-schema file set — schema
    drift in an ingest pipeline should fail loudly at the writer, not
    surface as reader errors months later. ``merge_schema=True`` is
    the explicit evolution opt-in (additive columns; read the unified
    view via ``snapshot_read_merged``); the manifest then records the
    APPENDING frame's schema as the version's schema.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append/overwrite, got {mode!r}")
    sdf = _plain(frame)
    _reject_reserved_column_names(sdf.columns)
    parent = _latest_version(table_dir)
    pm = _read_manifest(table_dir, parent) if parent is not None \
        else None
    gen = dict((pm.get("generated") or {})) if pm is not None else {}
    if generated is not None:
        if mode == "append" and pm is not None:
            raise ValueError(
                "generated= declares at table creation (first write "
                "or overwrite) — use snapshot_add_generated_column "
                "on an existing table")
        gen = _norm_generated_decls(generated)   # overwrite: replaces
    if gen:
        sdf, gen = _apply_generated(sdf, gen)
        if mode == "append" and pm is not None:
            # computed columns append at the END of the frame; align
            # to the table's column order so the shape check compares
            # content, not the computation order
            from pyspark.sql.types import StructType
            cur_names = [f.name for f in StructType.fromJson(
                json.loads(pm["schema"]))]
            if set(cur_names) == set(sdf.columns):
                sdf = sdf.select(*cur_names)
    if mode == "append" and pm is not None and not merge_schema:
        from pyspark.sql.types import StructType
        cur = StructType.fromJson(json.loads(pm["schema"]))

        def shape(st):
            # names + types in order; nullability and metadata are
            # not enforced (nullable-into-nullable widening is fine)
            return [(f.name, f.dataType.simpleString()) for f in st]
        if shape(cur) != shape(sdf.schema):
            raise ValueError(
                "append schema does not match the table schema "
                f"(table: {shape(cur)}, append: {shape(sdf.schema)}); "
                "pass merge_schema=True to evolve the schema "
                "explicitly")
    if mode == "append" and pm is not None and merge_schema:
        # merge_schema evolution is strictly ADDITIVE: an append whose
        # frame lacks an existing column would narrow the manifest
        # schema with no tombstone chain, and a later merge_schema
        # re-add of that name would pass the forward-chain genuineness
        # check and resurface old files' stale bytes — exactly the
        # hazard snapshot_drop_column tombstones against. Removals
        # must go through overwrite or snapshot_drop_column.
        from pyspark.sql.types import StructType
        cur_names = [f.name for f in
                     StructType.fromJson(json.loads(pm["schema"]))]
        dropped = [n for n in cur_names if n not in
                   set(sdf.schema.fieldNames())]
        if dropped:
            raise ValueError(
                f"merge_schema append drops existing column(s) "
                f"{dropped}: schema evolution is additive-only — use "
                f"mode='overwrite' or snapshot_drop_column instead")
    constraints = dict(pm.get("constraints") or {}) \
        if pm is not None else {}
    if constraints:
        # pin ONE materialization: the enforcement scan and the
        # parquet write must see identical rows even for
        # non-deterministic inputs (rand()-derived columns, re-run
        # samples) — localCheckpoint computes once, both consume it
        sdf = sdf.localCheckpoint(eager=False)
        _enforce_constraints(sdf, constraints)
    version = (parent or 0) + 1
    token = uuid.uuid4().hex[:12]
    rel_dir = os.path.join(_DATA_DIR, f"v{version:08d}-{token}")
    out_dir = os.path.join(table_dir, rel_dir)
    partitions: dict = {}
    if partition_by:
        new_files, partitions = _write_partitioned(
            sdf, table_dir, out_dir, partition_by, num_files)
    else:
        writer = sdf.coalesce(num_files) if num_files else sdf
        with _micros_timestamps(writer.sparkSession):
            writer.write.mode("error").parquet(out_dir)
        new_files = sorted(
            os.path.join(rel_dir, f) for f in os.listdir(out_dir)
            if f.endswith(".parquet"))
    files = list(new_files)
    stats = _collect_file_stats(table_dir, new_files,
                                stats_cols or (), rows=True)
    bloom = (_collect_file_blooms(sdf.sparkSession, table_dir,
                                  new_files, bloom_cols)
             if bloom_cols else {})
    renames: dict = {}
    dv: dict = {}
    if mode == "append" and pm is not None:
        files = pm["files"] + files
        stats = {**(pm.get("stats") or {}), **stats}
        bloom = {**(pm.get("bloom") or {}), **bloom}
        renames = pm.get("renamed_files") or {}
        dv = pm.get("dv") or {}
        partitions = {**(pm.get("partitions") or {}), **partitions}
    manifest = {
        "version": version,
        "parent": parent,
        "operation": mode,
        "schema": sdf.schema.json(),
        "files": files,
    }
    if stats:
        manifest["stats"] = stats
    if bloom:
        manifest["bloom"] = bloom
    if renames:
        manifest["renamed_files"] = renames
    if dv:
        manifest["dv"] = dv
    if partitions:
        manifest["partitions"] = partitions
    if constraints:
        manifest["constraints"] = constraints
    if gen:
        manifest["generated"] = gen
    if pm is not None and pm.get("cluster_by"):
        # sticky clustering survives appends/overwrites (an OPTIMIZE
        # re-clusters on it; clear with snapshot_optimize(
        # zorder_by=[]))
        manifest["cluster_by"] = pm["cluster_by"]
    if txn_reset:
        # a RECREATE (overwrite that starts a new consumer lineage):
        # the commit's own watermarks replace the parent map outright
        # — no monotonic guard, no carry (the old lineage's versions
        # are meaningless against the new state)
        txns = dict(_txn_entries(txn))
    else:
        _txn_guard(pm.get("txn") if pm is not None else None,
                   txn, txn_expect)
        txns = dict(pm.get("txn") or {}) if pm is not None else {}
        for _a, _v in _txn_entries(txn):
            txns[_a] = _v
    if txns:
        manifest["txn"] = txns
    _publish(table_dir, manifest)
    return version


def snapshot_write_retrying(frame, table_dir: str,
                            mode: str = "append",
                            num_files: int | None = None,
                            stats_cols: Sequence[str] | None = None,
                            bloom_cols: Sequence[str] | None = None,
                            max_retries: int = 5,
                            txn: tuple[str, int] | None = None) -> int:
    """``snapshot_write`` with the standard optimistic-concurrency
    retry loop: a writer that loses the atomic publish race re-reads
    the version listing and retries at the next number. Each attempt
    is a full ``snapshot_write`` (the retry re-runs the Spark write —
    callers with expensive inputs should persist them first; the
    loser's orphaned data directory is reclaimed by ``vacuum``). For
    ``append`` the result is equivalent under any interleaving; an
    ``overwrite`` retry supersedes whatever the interleaved winner
    wrote — the documented last-writer-wins overwrite semantics.
    Raises after *max_retries* consecutive lost races (pathological
    contention)."""
    last: FileExistsError | None = None
    for _ in range(max_retries):
        try:
            return snapshot_write(frame, table_dir, mode=mode,
                                  num_files=num_files,
                                  stats_cols=stats_cols,
                                  bloom_cols=bloom_cols, txn=txn)
        except FileExistsError as exc:
            last = exc
    raise FileExistsError(
        f"lost the publish race {max_retries} times in {table_dir} "
        f"(pathological contention): {last}")


def _try_rebase_publish(table_dir: str, base_version: int,
                        replaced: set[str], new_files: list[str],
                        new_stats: dict, operation: str,
                        schema_json: str, keys=None, preds=None,
                        max_attempts: int = 5,
                        dv_add: dict | None = None,
                        parts_add: dict | None = None,
                        cdc: dict | None = None,
                        op_info: dict | None = None,
                        txn_add: tuple[str, int] | None = None,
                        txn_expect: int | None = None
                        ) -> int | None:
    """After losing the publish race: if every interleaved winner was
    a pure APPEND on top of our base version (all base files still
    live, same schema) whose ADDED files provably don't overlap our
    operation's key envelope, the operation COMMUTES with the appends —
    publish a rebased manifest on the new latest, reusing our
    already-written data files (no recompute). The file stats needed
    for the disjointness proof are already in the winner's manifest.

    *keys*/*preds*: for MERGE, the merge keys and the source key
    envelope — an added file lacking stats for any key, or whose range
    may overlap the envelope, is a TRUE conflict (its rows could have
    matched the source). Pass ``keys=None`` for OPTIMIZE: a compaction
    rewrites identical rows, so ANY appended file commutes (it is
    simply carried into the rebased version uncompacted).

    Returns the published version, or None on a true conflict (caller
    recomputes against the new latest). Retries internally when yet
    another writer lands mid-rebase."""
    base = _read_manifest(table_dir, base_version)
    base_files = set(base["files"])
    for _ in range(max_attempts):
        latest = _latest_version(table_dir)
        lm = _read_manifest(table_dir, latest)
        if lm["schema"] != schema_json:
            return None            # interleaved schema evolution
        if (lm.get("generated") or {}) != \
                (base.get("generated") or {}):
            # an interleaved generated/identity commit (declaration
            # change OR an identity mark advance) does not commute:
            # a rebased publish would clobber the winner's high-water
            # mark — recompute against the new latest instead
            return None
        if (lm.get("constraints") or {}) != \
                (base.get("constraints") or {}):
            # an interleaved ADD/DROP CONSTRAINT does NOT commute: our
            # already-written files were validated against the BASE
            # constraints, so a rebased publish would claim constraints
            # the rows were never checked against — recompute instead
            return None
        if (lm.get("dv") or {}) != (base.get("dv") or {}):
            # an interleaved deletion-vector commit changed row
            # visibility under us (our DV union was computed against
            # the BASE vectors) — true conflict, recompute
            return None
        lfiles = lm["files"]
        if not base_files <= set(lfiles):
            return None            # winner rewrote/removed base files
        added = [f for f in lfiles if f not in base_files]
        lstats = lm.get("stats") or {}
        preds_b = _norm_dnf(preds)
        if keys is not None:
            for f in added:
                st = lstats.get(f) or {}
                if any((st.get(k) or {}).get("min") is None
                       for k in keys):
                    return None    # can't prove disjoint: conflict
                if preds_b and _dnf_may_match(st, preds_b):
                    return None    # may hold matching keys: conflict
            if added and not preds_b:
                return None        # no envelope to prove with
        files = [f for f in lfiles if f not in replaced] + new_files
        stats = {**{f: lstats[f] for f in lfiles
                    if f not in replaced and f in lstats},
                 **new_stats}
        surviving = [f for f in lfiles if f not in replaced]
        bloom = _carry_bloom(lm, surviving)
        renames = _carry_renames(lm, surviving)
        dv = {**_carry_dv(lm, surviving), **(dv_add or {})}
        parts_ = {**_carry_partitions(lm, surviving),
                  **(parts_add or {})}
        manifest = {
            "version": latest + 1,
            "parent": latest,
            "operation": operation,
            "schema": schema_json,
            "files": files,
        }
        if stats:
            manifest["stats"] = stats
        if bloom:
            manifest["bloom"] = bloom
        if renames:
            manifest["renamed_files"] = renames
        if dv:
            manifest["dv"] = dv
        if parts_:
            manifest["partitions"] = parts_
        if lm.get("constraints"):
            manifest["constraints"] = lm["constraints"]
        if lm.get("generated"):
            manifest["generated"] = lm["generated"]
        if lm.get("cluster_by"):
            manifest["cluster_by"] = lm["cluster_by"]
        _txn_guard(lm.get("txn"), txn_add, txn_expect)
        txns_ = dict(lm.get("txn") or {})
        for _a, _v in _txn_entries(txn_add):
            txns_[_a] = _v
        if txns_:
            manifest["txn"] = txns_
        if op_info is not None:
            manifest["op_info"] = op_info
        if cdc is not None:
            # the materialized change rows are commit-content: under
            # a commutable-append rebase the diff vs the new parent
            # is IDENTICAL (interleaved appended files sit on both
            # sides and cancel), so the already-written files carry
            manifest["cdc"] = cdc
        try:
            _publish(table_dir, manifest)
            return latest + 1
        except FileExistsError:
            continue               # another racer: re-check new latest
    return None


def snapshot_txn_version(table_dir: str, app_id: str) -> int | None:
    """The last transaction version writer *app_id* committed to this
    table, or None — read from the LATEST manifest's carried-forward
    ``txn`` map (O(1); Delta's ``txnAppId``/``txnVersion`` idempotence
    protocol). An idempotent writer (the streaming snapshot sink)
    checks this before publishing a replayed batch."""
    latest = _latest_version(table_dir)
    if latest is None:
        return None
    txns = _read_manifest(table_dir, latest).get("txn") or {}
    v = txns.get(app_id)
    return int(v) if v is not None else None


def snapshot_read(spark: SparkSession, table_dir: str,
                  version: int | None = None,
                  where=None, timestamp=None,
                  tag: str | None = None) -> SparkFrame:
    """Read a table snapshot — the latest version, time-travel to a
    pinned ``version=``, or to ``timestamp=`` (Delta's
    ``timestampAsOf``: the latest version committed at or before that
    instant — epoch float, datetime, or ISO string). The scan lists
    EXACTLY the manifest's files, so a concurrent writer (or later
    vacuum of newer versions) cannot change what this read sees.

    ``where`` is a list of ``(col, op, value)`` triples (ops ``==``,
    ``<``, ``<=``, ``>``, ``>=``, and ``in`` over a value list — the
    OR-of-equalities disjunct) ANDed together, or a LIST OF SUCH
    LISTS for an OR of conjunctions (disjunctive normal form:
    ``[[(date,==,d1),(t,==,'a')], [(date,==,d2)]]`` — a file is
    listed iff ANY branch admits it, the row filter is the OR of the
    branch ANDs; the same shape works for DELETE/UPDATE/OPTIMIZE
    WHERE and metadata counts). Files whose
    manifest min/max stats provably exclude every matching row are
    SKIPPED before Spark lists them (data skipping — a point lookup on
    a 100 TB table touches only the files whose range covers the key),
    and the same predicates are applied as a row filter so the result
    is exactly the predicated snapshot regardless of stats coverage."""
    if tag is not None:
        if version is not None or timestamp is not None:
            raise ValueError(
                "pass exactly one of version= / timestamp= / tag=")
        version = snapshot_tag_version(table_dir, tag)
    if timestamp is not None:
        if version is not None:
            raise ValueError(
                "pass version= or timestamp=, not both")
        version = snapshot_version_at(table_dir, timestamp)
    if version is None:
        version = _latest_version(table_dir)
        if version is None:
            raise FileNotFoundError(
                f"no snapshot versions in {table_dir}")
    elif not os.path.exists(_manifest_path(table_dir, version)):
        raise FileNotFoundError(
            f"version {version} not in {table_dir} "
            f"(available: {_versions(table_dir)})")
    files, state = _scan_with_state(table_dir, version, where)
    if not files:  # every file pruned: empty frame with the schema
        from pyspark.sql.types import StructType
        schema = StructType.fromJson(json.loads(state["schema"]))
        return SparkFrame(local_frame(spark, [], schema))
    sdf = _read_files_renamed(spark, table_dir, files, state)
    branches = _norm_dnf(where)
    if branches:
        sdf = sdf.filter(_dnf_column(branches))
    return SparkFrame(sdf)


def snapshot_register(spark: SparkSession, table_dir: str,
                      name: str, version: int | None = None,
                      where=None, timestamp=None) -> str:
    """Register a snapshot (optionally pinned to ``version=`` /
    ``timestamp=``, optionally predicated) as a TEMP VIEW so plain
    ``spark.sql`` queries run over it — the SQL surface of the
    manifest format. The view is bound to the manifest's exact file
    list at registration time (the same pinning contract as
    ``snapshot_read``), so later commits or vacuums of newer versions
    don't change what the SQL sees; re-register to follow the head.
    Returns *name* for call chaining."""
    snapshot_read(spark, table_dir, version=version, where=where,
                  timestamp=timestamp).spark_df \
        .createOrReplaceTempView(name)
    return name


def snapshot_optimize(spark: SparkSession, table_dir: str,
                      target_file_mb: int = 128,
                      zorder_by: Sequence[str] | None = None,
                      num_files: int | None = None,
                      where=None,
                      max_retries: int = 5) -> int:
    """OPTIMIZE the current version: bin-pack its (typically many
    small) files into ~*target_file_mb* files and publish the result
    as a new version with identical rows — the public Delta OPTIMIZE
    maintenance op on the manifest format. ``zorder_by`` additionally
    range-clusters the rewrite on a Morton key over the given columns
    (locality for later predicate pruning) and RECORDS the clustering
    in the manifest (Delta liquid-clustering shape): appends/DML
    carry it forward, and a later plain OPTIMIZE re-clusters on the
    recorded columns; pass ``zorder_by=[]`` to clear it. Clustering
    is SPEC-AWARE (round 13): each partition-spec era clusters
    within its own layout — partitioned eras keep their tuples and
    range-split on (tuple, curve), so the tuple prune AND the
    z-order stats prune both survive, on every side of a spec
    change. File statistics are
    recollected for whatever columns the old manifest tracked, so
    data skipping keeps working across compactions. Readers pinned to
    older versions are untouched; ``vacuum`` reclaims the small files
    once their versions age out.

    Losing the publish race to a concurrent APPEND doesn't abandon the
    compaction (a nightly OPTIMIZE racing an ingest writer used to
    lose its work): a compaction rewrites identical rows, so it
    commutes with ANY append — the rebased manifest carries the
    winner's new files uncompacted alongside our compacted rewrite.
    A winner that rewrote files (merge/overwrite/another optimize)
    forces a recompute against the new state, up to *max_retries*
    times.

    ``where`` (Delta's ``OPTIMIZE ... WHERE``): compact ONLY the files
    whose stats/bloom may hold matching rows — the hot-partition
    maintenance pattern (yesterday's ingest gets compacted, the cold
    99% of a 100 TB table is untouched metadata). Predicates use the
    same ``(col, op, value)`` triples as reads/DML; files outside the
    selection carry verbatim with their stats/blooms/chains."""
    last: FileExistsError | None = None
    for _ in range(max_retries + 1):
        try:
            return _optimize_once(spark, table_dir, target_file_mb,
                                  zorder_by, num_files, where)
        except FileExistsError as exc:
            last = exc
    raise FileExistsError(
        f"optimize lost the publish race {max_retries + 1} times in "
        f"{table_dir} (pathological contention): {last}")


def _optimize_once(spark: SparkSession, table_dir: str,
                   target_file_mb: int,
                   zorder_by: Sequence[str] | None,
                   num_files: int | None, where=None) -> int:
    base_v = _latest_version(table_dir)
    if base_v is None:
        raise FileNotFoundError(f"no snapshot versions in {table_dir}")
    m = _read_manifest(table_dir, base_v)
    selected = list(m["files"])
    if where:
        preds = _norm_dnf(where)
        stats = m.get("stats") or {}
        blooms = m.get("bloom") or {}
        dvm = m.get("dv") or {}
        selected = [f for f in selected
                    if any(_file_may_match(_stats_for_prune(m, f), b)
                           and _bloom_preds_may_match(
                               blooms.get(f) or {}, b, table_dir)
                           for b in preds)
                    or f in dvm]   # DV'd files always compact: an
        # OPTIMIZE (even a predicated one) materializes merge-on-read
        # debt away — Delta's PURGE semantics
    selected_set = set(selected)
    carried = [f for f in m["files"] if f not in selected_set]
    if not selected:
        return base_v                  # nothing to compact: no-op
    paths = [os.path.join(table_dir, f) for f in selected]
    total_bytes = sum(os.path.getsize(p) for p in paths)
    n_files = num_files or max(
        1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    version = base_v + 1
    token = uuid.uuid4().hex[:12]
    rel_dir = os.path.join(_DATA_DIR, f"v{version:08d}-{token}")
    out_dir = os.path.join(table_dir, rel_dir)
    # partition-PRESERVING compaction under SPEC EVOLUTION (Iceberg's
    # per-file partition spec): selected files group by their tuple
    # KEY SET — one era per spec the table has been partitioned under
    # (files with no tuple form the unpartitioned era) — and each era
    # rewrites under ITS OWN layout, so a nightly OPTIMIZE never
    # destroys metadata-exact pruning for either side of a spec
    # change (clustering COMPOSES with the layout — see the
    # spec-aware note below)
    new_parts: dict = {}
    new_files: list[str] = []
    pts = m.get("partitions") or {}
    # STICKY clustering (Delta liquid-clustering shape): an explicit
    # zorder_by records itself in the manifest and later plain
    # OPTIMIZEs keep re-clustering on it (appends/DML carry the
    # field forward); zorder_by=[] explicitly CLEARS it
    if zorder_by is not None and len(list(zorder_by)) == 0:
        eff_zorder = None
        sticky = None
    elif zorder_by:
        eff_zorder = list(zorder_by)
        sticky = eff_zorder
    else:
        sticky = m.get("cluster_by") or None
        eff_zorder = list(sticky) if sticky else None
    # SPEC-AWARE clustering (round 13): z-order no longer flattens a
    # partitioned table — every era (one per partition-spec the table
    # has lived under) rewrites under ITS OWN layout, and when
    # clustering is in effect the era's files additionally carry
    # tight curve-column footer ranges (partitioned eras range-split
    # on (tuple, curve) inside _write_partitioned; the unpartitioned
    # era is the plain z-ordered write). A spec change therefore
    # never degrades z-order pruning, and OPTIMIZE after it keeps
    # BOTH the tuple prune and the stats prune per era.
    by_spec: dict[tuple, list[str]] = {}
    for f in selected:
        ks = tuple(sorted(pts[f])) if pts.get(f) else ()
        by_spec.setdefault(ks, []).append(f)
    multi = len(by_spec) > 1
    for gi, ks in enumerate(sorted(by_spec)):
        gfiles = by_spec[ks]
        gbytes = sum(os.path.getsize(
            os.path.join(table_dir, f)) for f in gfiles)
        if multi:
            gn = max(1, round(n_files * gbytes
                              / max(1, total_bytes)))
            grel = os.path.join(rel_dir, f"spec-{gi}")
        else:
            gn, grel = n_files, rel_dir
        gdir = os.path.join(table_dir, grel)
        gsdf = _read_files_renamed(spark, table_dir, gfiles, m)
        if eff_zorder and not ks:
            from cl_data_frame_spark.sources import (
                write_parquet_zordered)
            write_parquet_zordered(gsdf, gdir, list(eff_zorder),
                                   num_files=gn, mode="error")
            new_files += sorted(
                os.path.join(grel, f) for f in os.listdir(gdir)
                if f.endswith(".parquet"))
        elif ks:
            pcols = [_spec_from_tuple_key(k) for k in ks]
            zk = None
            if eff_zorder:
                from cl_data_frame_spark.sources import curve_column
                zk = curve_column(gsdf, list(eff_zorder))
            gf, gparts = _write_partitioned(
                gsdf, table_dir, gdir, pcols, gn, order_expr=zk)
            new_files += gf
            new_parts.update(gparts)
        else:
            with _micros_timestamps(spark):
                gsdf.coalesce(gn).write.mode("error") \
                    .parquet(gdir)
            new_files += sorted(
                os.path.join(grel, f) for f in os.listdir(gdir)
                if f.endswith(".parquet"))
    stats_cols = sorted({c for f in m["files"]
                         for c in (m.get("stats") or {}).get(f, {})})
    old_stats = m.get("stats") or {}
    manifest = {
        "version": version,
        "parent": base_v,
        "operation": "optimize",
        "schema": m["schema"],
        "files": carried + new_files,
    }
    if m.get("constraints"):
        manifest["constraints"] = m["constraints"]
    if m.get("generated"):
        manifest["generated"] = m["generated"]
    if sticky:
        manifest["cluster_by"] = list(sticky)
    if m.get("txn"):
        manifest["txn"] = m["txn"]
    new_stats = _collect_file_stats(
        table_dir, new_files, stats_cols or (), rows=True)
    stats_all = {**{f: old_stats[f] for f in carried
                    if f in old_stats}, **new_stats}
    if stats_all:
        manifest["stats"] = stats_all
    bloom = _carry_bloom(m, carried)
    if bloom:
        manifest["bloom"] = bloom
    renames = _carry_renames(m, carried)
    if renames:
        manifest["renamed_files"] = renames
    # compacted files had their DVs APPLIED during the read above, so
    # their vectors are materialized away; carried files keep theirs
    dv = _carry_dv(m, carried)
    if dv:
        manifest["dv"] = dv
    parts_ = {**_carry_partitions(m, carried), **new_parts}
    if parts_:
        manifest["partitions"] = parts_
    try:
        _publish(table_dir, manifest)
        return version
    except FileExistsError:
        # compaction commutes with any append (identical rows):
        # rebase carries the winner's new files uncompacted
        rebased = _try_rebase_publish(
            table_dir, base_v, set(selected), new_files,
            new_stats, "optimize", m["schema"], keys=None,
            parts_add=new_parts)
        if rebased is not None:
            return rebased
        raise


def snapshot_diff(spark: SparkSession, table_dir: str,
                  key_cols, from_version: int,
                  to_version: int | None = None,
                  compare_cols=None) -> SparkFrame:
    """Row-level diff between two table VERSIONS (Delta's
    `table_changes` shape on the manifest format): every key classified
    ``insert`` / ``delete`` / ``update`` between *from_version* and
    *to_version* (default: latest), unchanged keys dropped — the audit
    answer to "what did that merge/overwrite actually change?".

    Delegates to ``relational.table_diff`` (one co-partitioned
    full-outer join on the key over per-side md5 fingerprints — the
    shuffle carries keys + two digests, never whole rows). Files shared
    by both versions (row-level merge carries untouched files forward
    verbatim) still scan twice in this correct-first formulation; a
    manifest-aware refinement could diff only the file sets' symmetric
    difference, at the cost of missing nothing only for append-style
    histories."""
    from cl_data_frame_spark.operators.relational import table_diff
    old = snapshot_read(spark, table_dir, version=from_version)
    new = snapshot_read(spark, table_dir, version=to_version)
    return table_diff(old, new, key_cols, compare_cols=compare_cols)


def _version_change_rows(spark: SparkSession, table_dir: str,
                         m: dict, pm: dict | None,
                         hidden: DataFrame | None = None
                         ) -> DataFrame | None:
    """One version's row-level change set, RECOMPUTED from its
    manifest diff against the parent. Two live callers: (a) DML
    commits (delete/update/merge) run it once at commit time to
    produce their ``_change_data`` files, passing as *hidden* the
    rows their new deletion vectors hide — the vector slice the
    commit already checkpointed (``_dv_split``), so no DV position is
    re-read and no row is fetched back from the touched files;
    (b) ``snapshot_changes`` runs it at read time for every commit
    WITHOUT a ``cdc`` key — appends, clones, non-initial overwrites,
    restores and ``snapshot_widen_column(rewrite=True)`` commits — so
    this is not a legacy path. Returns a DataFrame with
    ``_change_type`` and ``_commit_version`` appended, or None for a
    no-change version:

    - appends/clones (and the initial version) emit their added
      files' rows as inserts;
    - OPTIMIZE emits nothing (compaction and DV materialization
      rewrite identical live rows);
    - everything else diffs its old side (removed files read under
      the PARENT manifest — its deletion vectors apply — plus rows
      newly hidden by DV growth) against its new side (added files
      under the child manifest, plus rows a shrunk vector
      re-exposed): with the commit's recorded merge keys the diff is
      a keyed full-outer join emitting update pre/post-image pairs;
      otherwise a full-row multiset diff cancels the carried rows of
      rewritten files with multiplicity. With *hidden* given, it IS
      the DV-growth part of the old side."""
    v = m["version"]
    op = m.get("operation", "append")
    parent = m.get("parent")
    pfiles = pm["files"] if pm else []
    cset, pset = set(m["files"]), set(pfiles)
    added = [f for f in m["files"] if f not in pset]
    removed = [f for f in pfiles if f not in cset]
    pdv = (pm.get("dv") or {}) if pm else {}
    cdv = m.get("dv") or {}
    if parent is None or op in ("append", "clone"):
        if not added:
            return None
        return (_read_files_renamed(spark, table_dir, added, m)
                .select("*", F.lit("insert").alias("_change_type"),
                        F.lit(v).cast("long")
                        .alias("_commit_version")))
    if op == "optimize":
        return None
    old_side = None
    if removed:
        old_side = _read_files_renamed(spark, table_dir, removed, pm)
    new_side = _read_files_renamed(spark, table_dir, added, m) \
        if added else None

    def rows_at(manifest, f, positions):
        # broadcast-semi-join the wanted (fid, pos) pairs instead of
        # an isin literal list: a DV can hold up to _DV_MAX_ROWS
        # positions, and 100k literals inflate the plan/codegen and
        # driver memory (same shape as the scan path's DV anti-join)
        pos_df = local_frame(
            spark, [(_dv_fid(f), int(p)) for p in positions], _DV_SCHEMA)
        return (_read_files_renamed(
            spark, table_dir, [f],
            {**manifest, "dv": {}}, with_pos=True)
            .join(F.broadcast(pos_df),
                  on=["__fid__", "__pos__"], how="left_semi")
            .drop("__fid__", "__pos__"))
    # vector GROWTH hides rows (old side); vector SHRINKAGE — a
    # restore to a pre-delete version — re-exposes rows (new side);
    # both on files present in BOTH versions
    if hidden is not None:
        old_side = hidden if old_side is None \
            else old_side.unionByName(hidden)
        dv_changed = set()   # the caller's rows ARE the growth
    else:
        dv_changed = (set(cdv) | set(pdv)) & pset & cset
    for f in dv_changed:
        old_pos = set(_dv_positions(table_dir, pdv[f])) \
            if f in pdv else set()
        new_pos = set(_dv_positions(table_dir, cdv[f])) \
            if f in cdv else set()
        if new_pos - old_pos:
            grown = rows_at(pm, f, new_pos - old_pos)
            old_side = grown if old_side is None \
                else old_side.unionByName(grown)
        if old_pos - new_pos:
            unhidden = rows_at(m, f, old_pos - new_pos)
            new_side = unhidden if new_side is None \
                else new_side.unionByName(unhidden)
    return _classify_changes(
        old_side, new_side, op,
        (m.get("op_info") or {}).get("keys"), v,
        json.loads(m["schema"]))


def _read_cdc_files(spark: SparkSession, table_dir: str,
                    m: dict) -> DataFrame | None:
    """A materialized commit's change rows: plain scan of its
    ``_change_data`` files (data columns + ``_change_type``), with
    ``_commit_version`` attached from the manifest — NOT stored in
    the files, so a publish-race rebase that renumbers the commit
    never bakes a stale version into immutable data."""
    files = (m.get("cdc") or {}).get("files") or []
    if not files:
        return None
    from pyspark.sql.types import StringType, StructField, StructType
    base = StructType.fromJson(json.loads(m["schema"]))
    sch = StructType(list(base.fields)
                     + [StructField("_change_type", StringType(),
                                    True)])
    sdf = spark.read.schema(sch).parquet(
        *[os.path.join(table_dir, f) for f in files])
    return sdf.select("*", F.lit(m["version"]).cast("long")
                      .alias("_commit_version"))


def _materialize_cdc(spark: SparkSession, table_dir: str,
                     manifest: dict, parent_manifest: dict,
                     hidden: DataFrame | None = None) -> None:
    """Delta's ``_change_data``: compute a DML commit's row-level
    change set ONCE, distributed, at commit time — the same
    ``_version_change_rows`` classification both feeds would
    recompute — and land it under ``_change_data/``, recorded in the
    manifest's commit-scoped ``cdc`` key. *hidden* is the rows the
    commit's new deletion vectors hide, handed over from the
    commit's checkpointed vector slice (``_dv_split``): the old side
    reuses them instead of re-reading the vectors' positions and
    fetching those rows back from the touched files. Both
    ``snapshot_changes`` and the streaming change feed then read plain file scans: no
    per-read rediff, and the streaming path's task memory is bounded
    by ONE FILE instead of one commit's rewritten volume. Runs BEFORE
    the manifest publish, so a lost publish race leaves only orphan
    files for ``vacuum`` (exactly like data files); the change rows
    are commit-content, identical under any rebase over commutable
    appends (interleaved appended files sit on both diff sides and
    cancel)."""
    chg = _version_change_rows(spark, table_dir, manifest,
                               parent_manifest, hidden=hidden)
    if chg is None:
        manifest["cdc"] = {"files": []}   # materialized: no changes
        return
    token = uuid.uuid4().hex[:12]
    rel_dir = os.path.join(
        _CDC_DIR, f"v{manifest['version']:08d}-{token}")
    out_dir = os.path.join(table_dir, rel_dir)
    with _micros_timestamps(spark):
        chg.drop("_commit_version").write.mode("error") \
            .parquet(out_dir)
    manifest["cdc"] = {"files": sorted(
        os.path.join(rel_dir, f) for f in os.listdir(out_dir)
        if f.endswith(".parquet"))}


def _era_align_map(era_fields: list, final_fields: list) -> dict:
    """Column mapping from an older schema era to the final era, for
    the change feed's auto-split union: a name present in the final
    schema maps to itself; a vanished name whose POSITION in the
    final schema holds a same-typed field not present in the era is a
    rename slot (``snapshot_rename_column`` is metadata-only, so
    position and type survive) and maps old -> new; anything else
    keeps its era name and surfaces as a NULL-filled extra column in
    the other eras (the ``snapshot_read_merged`` unify-by-name
    rule).

    Name-match takes PRECEDENCE over position: a pathological column
    SWAP (x->tmp, y->x, tmp->y — both names survive with exchanged
    positions) therefore aligns by NAME, the semantics a format
    without per-column IDs can promise (Delta behaves the same
    without column mapping); plain renames, adds, and drops — the
    cases schema evolution actually produces — align exactly."""
    final_names = {f["name"] for f in final_fields}
    era_names = {f["name"] for f in era_fields}

    def tkey(f):
        return json.dumps(f["type"], sort_keys=True)
    out: dict[str, str] = {}
    for i, f in enumerate(era_fields):
        if f["name"] in final_names:
            continue
        if i < len(final_fields):
            g = final_fields[i]
            if tkey(g) == tkey(f) and g["name"] not in era_names:
                out[f["name"]] = g["name"]
    return out


def snapshot_changes(spark: SparkSession, table_dir: str,
                     from_version: int | None = None,
                     to_version: int | None = None,
                     from_timestamp=None,
                     to_timestamp=None) -> SparkFrame:
    """Batch CDC (Delta's ``table_changes``): every row-level change
    committed in versions (*from_version*, *to_version*], as one
    DataFrame with ``_change_type`` (insert / delete /
    update_preimage / update_postimage) and ``_commit_version``.

    Commits whose manifest references MATERIALIZED change files
    (``_change_data``, written at DML commit time) are plain parquet
    scans; every other commit (appends, clones, non-initial
    overwrites, restores, widen-rewrites) is recomputed from its
    manifest diff (``_version_change_rows`` — the same classification
    that produced the materialized files, so both paths agree
    bit-for-bit).

    A schema change inside the range no longer raises: the range is
    split at each schema-change commit and the eras are unified to
    the FINAL era's naming — a pure rename is aligned positionally
    (rename commits are metadata-only, so position and type survive),
    added/dropped columns NULL-fill by name (the
    ``snapshot_read_merged`` rule). Column order: final-era columns,
    then dropped-era extras, then the CDC metadata columns.

    Timestamp bounds (Delta's ``table_changes(tbl, ts, ts)`` form):
    ``from_timestamp`` includes every commit AT or after that instant
    (``snapshot_version_since``), ``to_timestamp`` ends at the last
    commit at or before it (``snapshot_version_at``) — each mutually
    exclusive with its version twin. A ``from_timestamp`` newer than
    all history yields an empty feed.

    The whole range plans as ONE DataFrame; for a long interval on a
    big table use ``snapshot_changes_paged`` — the same feed as
    version-aligned, file-count-bounded chunks."""
    if from_timestamp is not None:
        if from_version is not None:
            raise ValueError(
                "pass from_version or from_timestamp, not both")
        since = snapshot_version_since(table_dir, from_timestamp)
        from_version = since - 1 if since is not None \
            else _latest_version(table_dir)   # nothing that new:
        # empty range (from == to), matching the streaming resolver
    if from_version is None:
        raise ValueError(
            "snapshot_changes requires from_version or "
            "from_timestamp")
    if to_timestamp is not None:
        if to_version is not None:
            raise ValueError(
                "pass to_version or to_timestamp, not both")
        to_version = snapshot_version_at(table_dir, to_timestamp)
    if to_version is None:
        to_version = _latest_version(table_dir)
        if to_version is None:
            raise FileNotFoundError(
                f"no snapshot versions in {table_dir}")
    final_fields = json.loads(
        _read_manifest(table_dir, to_version)["schema"])["fields"]
    final_names = [f["name"] for f in final_fields]
    out: DataFrame | None = None
    final_set = set(final_names)
    extra_names: list[str] = []
    extra_set: set[str] = set()
    for v in range(from_version + 1, to_version + 1):
        m = _read_manifest(table_dir, v)
        if "cdc" in m:
            part = _read_cdc_files(spark, table_dir, m)
        else:
            parent = m.get("parent")
            pm = _read_manifest(table_dir, parent) \
                if parent is not None else None
            part = _version_change_rows(spark, table_dir, m, pm)
        if part is None:
            continue
        era_fields = json.loads(m["schema"])["fields"]
        ren = _era_align_map(era_fields, final_fields)
        if ren:
            part = part.withColumnsRenamed(ren)
        for f in era_fields:
            name = ren.get(f["name"], f["name"])
            if name not in final_set and name not in extra_set:
                extra_set.add(name)
                extra_names.append(name)   # dropped-era column
        out = part if out is None \
            else out.unionByName(part, allowMissingColumns=True)
    if out is None:
        from pyspark.sql.types import StructType
        schema = StructType.fromJson(
            {"type": "struct", "fields": list(final_fields)}) \
            .add("_change_type", "string") \
            .add("_commit_version", "long")
        return SparkFrame(local_frame(spark, [], schema))
    ordered = [c for c in final_names if c in out.columns] \
        + [c for c in extra_names if c in out.columns] \
        + ["_change_type", "_commit_version"]
    return SparkFrame(out.select(*ordered))


def snapshot_changes_paged(spark: SparkSession, table_dir: str,
                           from_version: int | None = None,
                           to_version: int | None = None,
                           max_files: int = 1000,
                           from_timestamp=None,
                           to_timestamp=None):
    """The (*from*, *to*] change feed as a GENERATOR of
    VERSION-ALIGNED chunks, each planning at most ~*max_files*
    change/data files — the batch twin of the streaming source's
    ``maxFilesPerBatch`` admission rule: walk the versions in order,
    admit each version's files (added data files + materialized
    change files, O(#versions) manifest metadata) while the running
    total stays under the cap, and never split a version (a single
    giant commit still arrives whole — the VERSION is the
    consistency unit, exactly as in the streaming source). Each
    chunk is the exact ``snapshot_changes`` frame for its sub-range,
    so concatenating every chunk reproduces the unchunked feed
    row-for-row — but a year of commits on a 100 TB table plans as
    bounded jobs instead of one giant union.

    Same bound resolution as ``snapshot_changes`` (version ints or
    timestamp twins, mutually exclusive)."""
    if max_files < 1:
        raise ValueError("max_files must be >= 1")
    if from_timestamp is not None:
        if from_version is not None:
            raise ValueError(
                "pass from_version or from_timestamp, not both")
        since = snapshot_version_since(table_dir, from_timestamp)
        from_version = since - 1 if since is not None \
            else _latest_version(table_dir)
    if from_version is None:
        raise ValueError(
            "snapshot_changes_paged requires from_version or "
            "from_timestamp")
    if to_timestamp is not None:
        if to_version is not None:
            raise ValueError(
                "pass to_version or to_timestamp, not both")
        to_version = snapshot_version_at(table_dir, to_timestamp)
    if to_version is None:
        to_version = _latest_version(table_dir)
        if to_version is None:
            raise FileNotFoundError(
                f"no snapshot versions in {table_dir}")
    bounds = snapshot_change_chunks(table_dir, from_version,
                                    to_version, max_files)
    v = int(from_version)
    for end in bounds:
        yield snapshot_changes(spark, table_dir, from_version=v,
                               to_version=end)
        v = end


def _version_new_file_count(table_dir: str, v: int) -> int:
    """A version's ADDED data files + materialized change files,
    counted from its COMMIT RECORD: a delta commit's ``add``/``cdc``
    lists answer this in O(changed files) — no full state is
    reconstructed (a view a year behind on a million-file table must
    not pay O(#versions) uncached state rebuilds just to plan its
    chunks). Only the rare full-state commit (v0, or a commit whose
    delta verification failed) falls back to diffing against its
    parent's reconstructed file set."""
    try:
        with open(_manifest_path(table_dir, v)) as f:
            d = json.load(f)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"version {v} of {table_dir} is gone (vacuumed, or never "
            f"existed) — change intervals must stay within the vacuum "
            f"retention window") from None
    n_cdc = len((d.get("cdc") or {}).get("files") or ())
    if d.get("delta"):
        return len(d.get("add") or ()) + n_cdc
    parent = d.get("parent")
    pfiles = set(_read_manifest(table_dir, parent)["files"]) \
        if parent is not None else set()
    return sum(1 for f in d["files"] if f not in pfiles) + n_cdc


def snapshot_change_chunks(table_dir: str, from_version: int,
                           to_version: int,
                           max_files: int) -> list[int]:
    """Version-aligned chunk END boundaries for the (*from*, *to*]
    change interval under the *max_files* admission rule (added data
    files + materialized change files per version; a version is never
    split). One forward walk over the interval's COMMIT RECORDS —
    O(changed files) per version via ``_version_new_file_count``,
    never a full state reconstruction. The shared walk behind
    ``snapshot_changes_paged`` and the chunked matview catch-up."""
    if max_files < 1:
        raise ValueError("max_files must be >= 1")
    bounds: list[int] = []
    total = 0
    end: int | None = None
    for w in range(int(from_version) + 1, int(to_version) + 1):
        n_new = _version_new_file_count(table_dir, w)
        if total and total + n_new > max_files:
            bounds.append(end)       # close the running chunk
            total = 0
        total += n_new
        end = w
        if total >= max_files:
            bounds.append(end)
            total, end = 0, None
    if end is not None:
        bounds.append(end)
    return bounds


def _classify_changes(old_side: DataFrame | None,
                      new_side: DataFrame | None, op: str,
                      keys, v: int, schema_json_obj: dict
                      ) -> DataFrame | None:
    """Distributed old-vs-new diff for one DML commit (see
    ``snapshot_changes``). Rows identical on both sides — the bulk of
    a rewritten file — cancel and emit nothing.

    Every projection and condition is one parsed SQL expression: a
    Column chain per field would cost a py4j round trip per column,
    literal and alias, and the feed is built on every DML commit."""
    cols = [f["name"] for f in schema_json_obj["fields"]]
    q = sql_ident
    pre_t = "update_preimage" if op == "update" else "delete"
    post_t = "update_postimage" if op == "update" else "insert"
    ver = f"CAST({v} AS BIGINT) AS _commit_version"
    if old_side is None and new_side is None:
        return None
    if new_side is None:
        return old_side.selectExpr(
            *map(q, cols), f"'{pre_t}' AS _change_type", ver)
    if old_side is None:
        return new_side.selectExpr(
            *map(q, cols), f"'{post_t}' AS _change_type", ver)

    def side(sdf, prefix, *extra):
        return sdf.selectExpr(
            *[f"{q(c)} AS {q(prefix + c)}" for c in cols], *extra)

    def null_safe_eq(names):
        """``__o_c <=> __n_c`` for every name, AND-ed left to right;
        None for no names."""
        cond = None
        for c in names:
            t = f"({q('__o_' + c)} <=> {q('__n_' + c)})"
            cond = t if cond is None else f"({cond} AND {t})"
        return cond

    keyed_ok = False
    if keys and all(k in cols for k in keys):
        # the keyed full-outer join is only sound when the merge keys
        # are UNIQUE on both sides — duplicate keys (legal in the
        # target: MERGE only requires the SOURCE to be unique) would
        # cross-product into phantom update pre/post-image rows. Same
        # guard the streaming _read_diff applies: verify uniqueness
        # (null-safe: groupBy, not countDistinct) and fall back to the
        # full-row multiset diff otherwise. One tiny aggregate over
        # the commit's changed slice, both sides tagged by side.
        tagged = old_side.selectExpr(*map(q, keys), "0 AS __side__") \
            .unionByName(new_side.selectExpr(*map(q, keys),
                                             "1 AS __side__"))
        r = (tagged.groupBy("__side__", *keys)
             .agg(F.count(F.lit(1)).alias("c"))
             .agg(F.max("c").alias("m")).collect()[0]["m"])
        keyed_ok = (r or 0) <= 1
    if keyed_ok:
        key_set = set(keys)
        # explicit presence markers: testing the key for NULL would
        # misread a genuinely-NULL key value as an absent row
        o = side(old_side, "__o_", "1 AS __op__")
        n = side(new_side, "__n_", "1 AS __np__")
        j = o.join(n, on=F.expr(null_safe_eq(keys)), how="full_outer")
        same = null_safe_eq([c for c in cols if c not in key_set]) \
            or "true"
        pre = (j.filter(f"((__op__ IS NOT NULL) AND "
                        f"((NOT (__np__ IS NOT NULL)) OR (NOT {same})))")
               .selectExpr(*[f"{q('__o_' + c)} AS {q(c)}" for c in cols],
                           "CASE WHEN (__np__ IS NOT NULL) THEN "
                           "'update_preimage' ELSE 'delete' END "
                           "AS _change_type", ver))
        post = (j.filter(f"((__np__ IS NOT NULL) AND "
                         f"((NOT (__op__ IS NOT NULL)) OR (NOT {same})))")
                .selectExpr(*[f"{q('__n_' + c)} AS {q(c)}" for c in cols],
                            "CASE WHEN (__op__ IS NOT NULL) THEN "
                            "'update_postimage' ELSE 'insert' END "
                            "AS _change_type", ver))
        return pre.unionByName(post)
    # no keys: full-row multiset diff — group both sides by every
    # column (groupBy is null-safe), join the count tables null-SAFELY
    # on every column, subtract counts, re-expand the surplus
    o = side(old_side.groupBy(*cols).agg(F.expr("count(1) AS __oc__")),
             "__o_", "__oc__")
    n = side(new_side.groupBy(*cols).agg(F.expr("count(1) AS __nc__")),
             "__n_", "__nc__")
    j = o.join(n, on=F.expr(null_safe_eq(cols)), how="full_outer")
    ocnt = "coalesce(__oc__, 0)"
    ncnt = "coalesce(__nc__, 0)"

    def expand(side_prefix, count_expr, label):
        return (j.filter(f"({count_expr} > 0)")
                .selectExpr(*[f"{q(side_prefix + c)} AS {q(c)}"
                              for c in cols],
                            f"{count_expr} AS __k__")
                .selectExpr(*map(q, cols),
                            "explode(sequence(1, __k__)) AS __i__")
                .selectExpr(*map(q, cols), f"'{label}' AS _change_type",
                            ver))
    return expand("__o_", f"({ocnt} - {ncnt})", pre_t) \
        .unionByName(expand("__n_", f"({ncnt} - {ocnt})", post_t))


def _nulls_of(entry: dict):
    # footer stats store "nulls"; synthesized partition stats store
    # "null_count" — both mean the same thing
    n = entry.get("nulls")
    return entry.get("null_count") if n is None else n


def _file_count_verdict(stats: dict, predicates) -> str:
    """Per-file decidability of a predicated COUNT from metadata:
    ``all`` (every live row provably matches), ``none`` (no row can),
    ``some`` (mixed/undecidable). The NONE side reuses the prune
    gate; the ALL side needs the complement proofs — a constant
    column (min==max, zero nulls), a whole [min,max] range inside the
    predicate, or a transform bucket entirely on one side of the
    mapped constant."""
    if not _file_may_match(stats, predicates):
        return "none"
    for col, op, val in predicates:
        ok = False       # proven ALL for this predicate?
        prefix = col + "__"
        for key, st2 in stats.items():
            if not key.startswith(prefix) \
                    or not _is_transform_tag(key[len(prefix):]):
                continue
            pv = st2.get("min")
            if pv is None or st2.get("max") != pv \
                    or _nulls_of(st2) != 0:
                continue
            tag = key[len(prefix):]
            if tag.startswith("bucket_"):
                # hash buckets are not monotonic in the base value —
                # a range proof on the bucket id says nothing about
                # the rows' order (mirrors _transform_admits' guard)
                continue
            p = _dec_stat(pv)
            t = _transform_pred_value(tag, val) \
                if op != "in" else None
            if t is None and op != "in":
                continue
            boundary = _at_bucket_start(tag, val) \
                if op != "in" else False
            try:
                if op in (">", ">=") and (
                        p > t or (p == t and boundary
                                  and op == ">=")):
                    ok = True       # bucket entirely at/after X
                elif op in ("<", "<=") and p < t:
                    ok = True       # bucket entirely before X
            except TypeError:
                pass
            if ok:
                break
        if ok:
            continue
        st = stats.get(col)
        if not st or st.get("min") is None or st.get("max") is None \
                or _nulls_of(st) != 0:
            return "some"
        mn, mx = _dec_stat(st["min"]), _dec_stat(st["max"])
        try:
            if op == "in":
                vals = [_coerce_pred(mn, x) for x in val]
                ok = mn == mx and mn in vals
            else:
                v = _coerce_pred(mn, val)
                ok = {"==": mn == mx == v, "=": mn == mx == v,
                      "<": mx < v, "<=": mx <= v,
                      ">": mn > v, ">=": mn >= v}[op]
        except TypeError:
            return "some"
        if not ok:
            return "some"
    return "all"


def _rowgroup_count(table_dir: str, rel: str, branches,
                    pt: dict | None) -> int | None:
    """COUNT of *rel*'s rows matching the DNF from ROW-GROUP footer
    statistics alone — the refinement between file-level metadata and
    a scan: each row group gets the same ALL/NONE verdict the file
    got, over its own (sound, possibly truncated-widened) min/max
    bounds merged with the file's partition tuple. Returns None when
    any row group is itself mixed (the caller scans the file). One
    footer read per call; no data pages."""
    import pyarrow.parquet as pq
    cols = {c for b in branches for c, _o, _v in b}
    md = pq.ParquetFile(os.path.join(table_dir, rel)).metadata
    synth = {c: {"min": v, "max": v, "null_count": 0}
             for c, v in (pt or {}).items() if v is not None}
    total = 0
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        per: dict = {}
        for j in range(rg.num_columns):
            c = rg.column(j)
            name = c.path_in_schema
            if name not in cols:
                continue
            st = c.statistics
            if st is None or not st.has_min_max:
                continue     # absent stats -> that branch reads SOME
            per[name] = {
                "min": _enc_stat(st.min), "max": _enc_stat(st.max),
                # unknown null count can't prove ALL (sound), and
                # NONE proofs never look at nulls
                "nulls": (st.null_count
                          if st.null_count is not None else -1)}
        stats = {**per, **synth}
        verdicts = [_file_count_verdict(stats, b) for b in branches]
        if all(v == "none" for v in verdicts):
            continue
        if "all" in verdicts:
            total += rg.num_rows
            continue
        return None
    return total


def snapshot_count(table_dir: str, version: int | None = None,
                   where=None, spark: SparkSession | None = None
                   ) -> int:
    """Exact COUNT(*) of a snapshot version from METADATA alone — no
    data scan (Delta answers ``SELECT COUNT(*)`` from the log's
    numRecords the same way). Every write/merge/DML/optimize records
    each new file's exact row count in its stats entry (the
    ``__rows__`` pseudo-column, from the parquet footer the stats
    pass already opens); deletion vectors subtract their recorded
    position counts. Raises with a remedy if some live file predates
    row-count recording — correctness never degrades to a guess.

    ``where`` (the usual ``(col, op, value)`` triples) stays
    metadata-only when every live file is DECIDABLE: provably-none
    files contribute 0, provably-all files contribute their full
    live count (a file's DV'd rows share its partition values, so
    they subtract cleanly). Mixed (SOME-verdict) files raise with a
    remedy by default; pass ``spark=`` for the HYBRID count — the
    decidable files still sum from metadata and ONE pruned scan
    counts only the mixed files' matching rows (a boundary-cutting
    predicate on a 100 TB table scans the boundary files, not the
    table)."""
    if version is None:
        version = _latest_version(table_dir)
        if version is None:
            raise FileNotFoundError(
                f"no snapshot versions in {table_dir}")
    m = _read_manifest(table_dir, version)
    stats = m.get("stats") or {}
    dv = m.get("dv") or {}
    total = 0
    branches = _norm_dnf(where) if where else None
    some: list[str] = []
    for f in m["files"]:
        if where:
            sts = _stats_for_prune(m, f)
            verdicts = [_file_count_verdict(sts, b)
                        for b in branches]
            if all(v == "none" for v in verdicts):
                continue
            if "all" not in verdicts:
                # not decidable at FILE level — try the row-group
                # refinement (DV'd files skip it: deleted positions
                # don't localize to row groups in the manifest;
                # rename-chained files skip it too — footer
                # path_in_schema names are PHYSICAL, and attributing
                # a stale physical column's stats to a re-added
                # logical namesake would count the wrong bytes, the
                # exact case the row read path voids via __absent_
                # placeholders)
                rgc = None
                if f not in dv and \
                        f not in (m.get("renamed_files") or {}):
                    try:
                        rgc = _rowgroup_count(
                            table_dir, f, branches,
                            (m.get("partitions") or {}).get(f))
                    except OSError:
                        rgc = None
                if rgc is not None:
                    total += rgc
                    continue
                if spark is None:
                    raise ValueError(
                        f"file {f} is not metadata-decidable for "
                        f"{where!r} (rows may match partially) — "
                        f"pass spark= for the hybrid count, or "
                        f"count with snapshot_read(..., "
                        f"where=...).count()")
                some.append(f)
                continue
        e = (stats.get(f) or {}).get(_ROWS_KEY) or {}
        n = e.get("min")
        if n is None:
            raise ValueError(
                f"file {f} carries no row count (written before "
                f"row-count recording) — OPTIMIZE the table once, or "
                f"count with snapshot_read(...).count()")
        total += int(n)
        if f in dv:
            total -= int(dv[f]["n"])
    if some:
        # hybrid tail: one pruned scan over ONLY the mixed files
        # (DV-filtered by _read_files_renamed), exact row predicate
        total += _read_files_renamed(spark, table_dir, some, m) \
            .filter(_dnf_column(branches)).count()
    return total


def snapshot_history(table_dir: str,
                     limit: int | None = None) -> list[dict]:
    """Version log, oldest first: (version, parent, operation,
    n_files, timestamp) — metadata only, no data scan. The timestamp
    is the commit file's mtime (the atomic link instant), the same
    clock ``timestamp=`` time travel resolves against. ``limit``
    returns only the NEWEST n entries (still oldest-first) in
    O(limit) manifest reads — the shape a UI or a retention job wants
    against a 100k-commit log.

    Bound: the log itself resolves in O(log #versions) stats
    (``_version_range``: O(1) latest hint + existence binary search —
    versions are contiguous), so only producing the ENTRIES is
    O(#versions) — output-sized, irreducible for a full-log API.
    Point lookups stay sub-linear: ``_latest_version`` /
    ``snapshot_txn_version`` are O(1), ``snapshot_version_at`` /
    ``snapshot_version_since`` binary-search the commit mtimes
    (tools/version_bench.py records the measured curve at 100k
    versions)."""
    return [{"version": v,
             "parent": (m := _read_manifest(table_dir, v))["parent"],
             "operation": m["operation"],
             "n_files": len(m["files"]),
             "timestamp": os.path.getmtime(
                 _manifest_path(table_dir, v)),
             # Delta's operationMetrics (commits published before the
             # metrics era report {})
             "operation_metrics": dict(m.get("op_metrics") or {})}
            for v in (_versions(table_dir) if limit is None
                      else _versions(table_dir)[-int(limit):]
                      if int(limit) > 0 else [])]


def snapshot_version_at(table_dir: str, timestamp) -> int:
    """Delta's ``timestampAsOf``: the latest version committed AT OR
    BEFORE *timestamp* (a unix epoch float, a ``datetime``, or an ISO
    string; naive datetimes read in the driver's OS zone, like
    predicate localization). Commit instants are the manifest files'
    mtimes — set atomically by the publish link. Raises if the table's
    first commit is later than the timestamp.

    Instants compare at MICROsecond resolution (both sides rounded):
    filesystem mtimes carry nanoseconds but ``datetime`` only micros,
    so an un-rounded compare would make ``fromtimestamp(mtime)`` of a
    commit's own instant resolve to the version BEFORE it."""
    if isinstance(timestamp, str):
        timestamp = datetime.datetime.fromisoformat(timestamp)
    if isinstance(timestamp, datetime.datetime):
        timestamp = timestamp.timestamp()
    ts = round(float(timestamp), 6)
    rng = _version_range(table_dir)
    best = None
    if rng is not None:
        lo, hi = rng

        def _mt(v):
            return round(os.path.getmtime(
                _manifest_path(table_dir, v)), 6)
        # commit mtimes are monotone in version (sequential atomic
        # links): binary-search the at-or-before boundary in
        # O(log #versions) stats instead of walking the whole log
        # INVARIANT the O(log N) search rests on: commit mtimes are
        # monotone in version (sequential atomic publish links). A
        # table copied without mtime preservation or a clock
        # regression breaks it SILENTLY — two cheap detections guard
        # it: (a) endpoints out of order (the realistic newest-first
        # copy) and (b) the resolved boundary failing its one-stat
        # bracket. Either falls back to the exact O(N) scan.
        # Detection is best-effort: a scramble monotone around every
        # probed point can still mislead — preserve mtimes on copies.
        if lo < hi and _mt(lo) > _mt(hi):
            best = max((v for v in _versions(table_dir)
                        if _mt(v) <= ts), default=None)
        elif _mt(lo) <= ts:
            while lo < hi:
                mid = (lo + hi + 1) // 2
                if _mt(mid) <= ts:
                    lo = mid
                else:
                    hi = mid - 1
            best = lo
            if best < rng[1] and _mt(best + 1) <= ts:
                best = max((v for v in _versions(table_dir)
                            if _mt(v) <= ts), default=None)
    if best is None:
        raise ValueError(
            f"no version in {table_dir} committed at or before "
            f"{timestamp} (the table's history starts later, or it "
            f"was vacuumed past that point)")
    return best


def snapshot_version_since(table_dir: str, timestamp) -> int | None:
    """The EARLIEST version committed at or after *timestamp* (same
    clock and value coercions as ``snapshot_version_at``), or None if
    every commit predates it — Delta's ``startingTimestamp`` resolver:
    a commit landing at exactly the instant is INCLUDED (the
    at-or-after contract), which ``snapshot_version_at(ts) + 1`` would
    wrongly exclude. Micro-rounded compare, like
    ``snapshot_version_at``."""
    if isinstance(timestamp, str):
        timestamp = datetime.datetime.fromisoformat(timestamp)
    if isinstance(timestamp, datetime.datetime):
        timestamp = timestamp.timestamp()
    ts = round(float(timestamp), 6)
    rng = _version_range(table_dir)
    if rng is None:
        return None
    lo, hi = rng

    def _mt(v):
        return round(os.path.getmtime(
            _manifest_path(table_dir, v)), 6)
    # same monotone-mtime invariant checks as snapshot_version_at:
    # endpoint orientation up front, boundary bracket after — O(N)
    # exact fallback on violation (best-effort detection; see there)
    if lo < hi and _mt(lo) > _mt(hi):
        return min((v for v in _versions(table_dir)
                    if _mt(v) >= ts), default=None)
    if _mt(hi) < ts:
        return None
    # earliest at-or-after boundary, O(log #versions) stats
    while lo < hi:
        mid = (lo + hi) // 2
        if _mt(mid) >= ts:
            hi = mid
        else:
            lo = mid + 1
    if _mt(lo) < ts or (lo > rng[0] and _mt(lo - 1) >= ts):
        return min((v for v in _versions(table_dir)
                    if _mt(v) >= ts), default=None)
    return lo


# ---------------------------------------------------------------------------
# SNAPSHOT TAGS (Iceberg's named refs, the tag flavor): a tag is a
# named, immutable pointer to one committed version, stored as one
# file per tag under _manifests/refs/ — created with the same atomic
# create-exclusive os.link the commit protocol uses (two racers for
# one name: exactly one wins), deleted by untag. Tagged versions are
# PINNED: vacuum keeps them (and every file they reference) alive
# regardless of age or keep_last, so "the audited training-data
# snapshot" stays time-travelable forever at the cost of exactly its
# own files.
# ---------------------------------------------------------------------------

_REFS_DIR = "refs"


def _refs_dir(table_dir: str) -> str:
    return os.path.join(table_dir, _MANIFEST_DIR, _REFS_DIR)


def _ref_path(table_dir: str, name: str) -> str:
    if not name or "/" in name or "\\" in name or name.startswith("."):
        raise ValueError(
            f"invalid tag name {name!r} (no path separators, no "
            f"leading dot, nonempty)")
    return os.path.join(_refs_dir(table_dir), f"{name}.json")


def snapshot_tag(table_dir: str, name: str,
                 version: int | None = None) -> int:
    """TAG a committed version (default: the latest) under *name*.
    Atomic create-exclusive — re-tagging an existing name raises
    (delete it first with ``snapshot_untag``; tags are immutable
    pointers, never silently moved). Returns the tagged version."""
    if version is None:
        version = _latest_version(table_dir)
        if version is None:
            raise FileNotFoundError(
                f"no snapshot versions in {table_dir}")
    if not os.path.exists(_manifest_path(table_dir, version)):
        raise FileNotFoundError(
            f"version {version} not in {table_dir} "
            f"(available: {_versions(table_dir)})")
    path = _ref_path(table_dir, name)
    os.makedirs(_refs_dir(table_dir), exist_ok=True)
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump({"version": int(version)}, f)
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise FileExistsError(
            f"tag {name!r} already exists in {table_dir} (at version "
            f"{snapshot_tag_version(table_dir, name)}) — tags are "
            f"immutable; snapshot_untag first") from None
    finally:
        os.unlink(tmp)
    return int(version)


def snapshot_untag(table_dir: str, name: str) -> int:
    """Delete a tag (the version becomes vacuumable again once it
    falls outside the ordinary retention rules). Returns the version
    the tag pointed at."""
    path = _ref_path(table_dir, name)
    try:
        with open(path) as f:
            v = int(json.load(f)["version"])
    except FileNotFoundError:
        raise KeyError(
            f"no tag {name!r} in {table_dir} "
            f"(has {sorted(snapshot_tags(table_dir))})") from None
    os.unlink(path)
    return v


def snapshot_tags(table_dir: str) -> dict:
    """All tags as ``{name: version}``."""
    try:
        names = os.listdir(_refs_dir(table_dir))
    except FileNotFoundError:
        return {}
    out = {}
    for n in names:
        if not n.endswith(".json") or n.startswith("."):
            continue
        try:
            with open(os.path.join(_refs_dir(table_dir), n)) as f:
                out[n[:-5]] = int(json.load(f)["version"])
        except (OSError, ValueError, KeyError,
                json.JSONDecodeError):
            continue        # a racing tagger's tmp or a torn file
    return out


def snapshot_tag_version(table_dir: str, name: str) -> int:
    """Resolve a tag to its version (KeyError when absent)."""
    try:
        with open(_ref_path(table_dir, name)) as f:
            return int(json.load(f)["version"])
    except FileNotFoundError:
        raise KeyError(
            f"no tag {name!r} in {table_dir} "
            f"(has {sorted(snapshot_tags(table_dir))})") from None


def snapshot_vacuum(table_dir: str, keep_last: int = 1,
                    retain_hours: float = 168.0,
                    force: bool = False,
                    dry_run: bool = False) -> int:
    """Drop old versions and delete every data file no surviving
    manifest references (including orphans from crashed writes).
    Returns the number of files deleted. Time travel to dropped
    versions stops working — exactly the retention trade the public
    formats expose.

    **Age floor** (Delta's default-retention guard): nothing younger
    than *retain_hours* (default 7 days, Delta's default) is deleted
    unless ``force=True`` — a version outside the newest *keep_last*
    is dropped only once its manifest has aged past the floor, and a
    candidate data file is likewise spared while young. This protects
    (a) a reader pinned to a recent version (``snapshot_read(version=
    v)``) whose files a concurrent ``vacuum(keep_last=1)`` would
    otherwise delete mid-scan, and (b) an in-flight writer's data
    files, which land BEFORE its manifest publishes and would look
    like orphans to an agefloor-less vacuum. ``force=True`` is the
    documented I-know-nothing-is-reading-this override (tests,
    teardown of abandoned tables).

    ``dry_run=True`` (Delta's ``VACUUM ... DRY RUN``): count what a
    real run would delete — data files, unreferenced sidecars — and
    change NOTHING (no deletions, no checkpoint materialization, no
    cache purge).

    TAGS (``snapshot_tag``) bound the vacuum horizon: the OLDEST
    tagged version and everything after it survive — neither age,
    ``keep_last``, nor ``force`` crosses a tag. The suffix (not just
    the tagged version) is kept deliberately: the version log stays
    CONTIGUOUS, the invariant every O(log N) lookup rests on — so an
    old tag's storage cost is the history since it; untag (or
    re-tag a newer audited version) when the window closes."""
    import time
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    if retain_hours < 0:
        raise ValueError("retain_hours must be >= 0")
    cutoff = time.time() - retain_hours * 3600.0

    def _old_enough(path: str) -> bool:
        return force or os.path.getmtime(path) <= cutoff

    versions = _versions(table_dir)
    keep = set(versions[-keep_last:])
    # TAGS bound the vacuum horizon: the oldest tagged version and
    # everything AFTER it survive — age, keep_last, and even force
    # never cross a tag (delete the tag to release the pin). Keeping
    # the suffix — not just the tagged version — preserves the
    # CONTIGUOUS-log invariant every O(log N) version lookup rests on
    # (vacuum only ever drops a prefix).
    tags = snapshot_tags(table_dir)
    if tags:
        pin = min(tags.values())
        keep |= {v for v in versions if v >= pin}
    # versions outside the keep window survive while young (age floor)
    surviving = [v for v in versions
                 if v in keep or not _old_enough(_manifest_path(
                     table_dir, v))]
    survset = set(surviving)
    referenced: set[str] = set()
    sidecars: set[str] = set()
    states: dict[int, dict] = {}
    for v in surviving:
        states[v] = m = _read_manifest(table_dir, v)
        referenced.update(m["files"])
        referenced.update((m.get("cdc") or {}).get("files") or [])
        for b in (m.get("bloom") or {}).values():
            for e in b.values():
                if e.get("sc"):
                    sidecars.add(os.path.normpath(e["sc"]))
        for e in (m.get("dv") or {}).values():
            sidecars.add(os.path.normpath(e["scp"]))
    # a surviving DELTA commit whose replay base is being dropped must
    # be materialized as a checkpoint first, or it becomes unreadable
    if not dry_run:
        for v in surviving:
            if v - 1 in survset \
                    or os.path.exists(_ckpt_pq_path(table_dir, v)):
                continue
            try:
                with open(_manifest_path(table_dir, v)) as f:
                    on_disk = json.load(f)
            except (OSError, json.JSONDecodeError):
                on_disk = {"delta": 1}
            if on_disk.get("delta"):
                _write_checkpoint(table_dir, states[v])
    deleted = 0
    for sub in (_DATA_DIR, _CDC_DIR):
        ddir = os.path.join(table_dir, sub)
        for root, _dirs, names in os.walk(ddir, topdown=False):
            for name in names:
                full = os.path.join(root, name)
                rel = os.path.relpath(full, table_dir)
                if rel not in referenced \
                        and name.endswith(".parquet") \
                        and _old_enough(full):
                    if not dry_run:
                        os.remove(full)
                    deleted += 1
            if not dry_run and not os.listdir(root):
                os.rmdir(root)
    # bloom/DV sidecars no surviving version references
    scdir = os.path.join(table_dir, _MANIFEST_DIR, _SIDECAR_DIR)
    if os.path.isdir(scdir):
        for name in os.listdir(scdir):
            full = os.path.join(scdir, name)
            rel = os.path.normpath(os.path.relpath(full, table_dir))
            if rel not in sidecars and _old_enough(full):
                if not dry_run:
                    if os.path.isdir(full):  # DV sidecar directory
                        import shutil
                        shutil.rmtree(full, ignore_errors=True)
                    else:
                        os.remove(full)
                deleted += 1
    if dry_run:
        return deleted
    for v in versions:
        if v not in surviving:
            os.remove(_manifest_path(table_dir, v))
            try:
                os.remove(_ckpt_pq_path(table_dir, v))
            except FileNotFoundError:
                pass
    _cache_drop_table(os.path.abspath(table_dir))
    return deleted


def snapshot_read_merged(spark: SparkSession, table_dir: str,
                         version: int | None = None) -> SparkFrame:
    """Schema-evolution read: like ``snapshot_read`` but with parquet
    ``mergeSchema`` across the version's file set, so an append that
    ADDED columns reads as one unified schema (old files surface NULLs
    for the new columns) — the additive-evolution contract the public
    formats guarantee. Column REMOVALS/renames are an overwrite, not an
    append (the manifest keeps each version's own schema JSON for
    audits)."""
    if version is None:
        version = _latest_version(table_dir)
        if version is None:
            raise FileNotFoundError(
                f"no snapshot versions in {table_dir}")
    m = _read_manifest(table_dir, version)
    return SparkFrame(_read_files_renamed(spark, table_dir,
                                          m["files"], m,
                                          merge_schema=True))


def snapshot_merge(spark: SparkSession, table_dir: str, source,
                   on, update_cols=None, insert_unmatched: bool = True,
                   num_files: int | None = None,
                   max_retries: int = 5, dv: bool = True,
                   change_data: bool = True,
                   txn: tuple[str, int] | None = None,
                   txn_expect: int | None = None) -> int:
    """MERGE INTO a snapshot table: apply the relational MERGE rewrite
    (``relational.merge_into`` — WHEN MATCHED update / WHEN NOT MATCHED
    insert) and publish the result as a new version. Returns the new
    version number. Readers pinned to older versions keep their
    snapshot.

    When the current manifest carries file statistics for a join-key
    column (``snapshot_write(stats_cols=...)``), the merge is
    ROW-LEVEL: one tiny aggregation finds the source's key range,
    files whose stats prove no key overlap are carried into the new
    version UNCHANGED (same physical files — no read, no write), and
    only the overlapping files are merge-rewritten. That is the
    Delta-style data-skipping merge: a 100-row upsert against a
    100 TB table rewrites a handful of files instead of the table.
    Without usable stats it falls back to the whole-table rewrite
    (correct at any stats coverage, since skipping is conservative).

    With ``dv=True`` (default) one aggregate counts the overlapping
    files' key-matched rows (live totals come from the manifest);
    only the small-match files' matched rows are then read, once,
    into a local checkpoint that their deletion vectors, the rows
    re-entering the merge and the change feed's pre-images all read
    (see ``_dv_split``).

    Losing the atomic publish race no longer abandons the computed
    merge (the public Delta commit protocol retries): if every
    interleaved winner was an append whose files provably can't hold
    matching keys (disjoint stats envelopes), the already-written
    result is REBASED onto the new latest — same data files, new
    manifest; on a true conflict the merge recomputes against the new
    table state, up to *max_retries* times.

    ``txn=(app_id, txn_version)`` rides the merge commit itself (the
    same idempotent-writer watermark ``snapshot_write`` records —
    Delta's ``txnAppId``/``txnVersion`` on MERGE): an incremental
    maintainer that crashes between its commit and its own bookkeeping
    can ask ``snapshot_txn_version`` whether the merge already landed
    instead of double-applying its delta.
    """
    keys = [on] if isinstance(on, str) else list(on)
    src = _plain(source)
    last: FileExistsError | None = None
    for _ in range(max_retries + 1):
        try:
            return _merge_once(spark, table_dir, src, keys, on,
                               update_cols, insert_unmatched,
                               num_files, use_dv=dv,
                               change_data=change_data, txn=txn,
                               txn_expect=txn_expect)
        except FileExistsError as exc:
            last = exc
    raise FileExistsError(
        f"merge lost the publish race {max_retries + 1} times in "
        f"{table_dir} (pathological contention): {last}")


def _merge_once(spark: SparkSession, table_dir: str, src, keys, on,
                update_cols, insert_unmatched,
                num_files: int | None, use_dv: bool = True,
                change_data: bool = True,
                txn: tuple[str, int] | None = None,
                txn_expect: int | None = None) -> int:
    """One optimistic MERGE attempt against the current latest version
    (see ``snapshot_merge``). Raises FileExistsError only on a TRUE
    commit conflict (commutable appends are absorbed by rebasing)."""
    from pyspark.sql.types import StructType

    from cl_data_frame_spark.operators.relational import merge_into
    base_v = _latest_version(table_dir)
    if base_v is None:
        raise FileNotFoundError(f"no snapshot versions in {table_dir}")
    m = _read_manifest(table_dir, base_v)
    stats = m.get("stats") or {}
    # a 0-row part file (a small write spread over more tasks than
    # rows) records __rows__ but no column bounds: it matches nothing
    nonempty = [f for f in m["files"]
                if ((stats.get(f) or {}).get(_ROWS_KEY) or {}).get("min")
                != 0]
    # key columns whose stats EVERY non-empty live file carries (partial
    # coverage would make skipped-vs-kept asymmetric; fall back
    # instead)
    usable = [k for k in keys
              if all(f in stats and stats[f].get(k, {}).get("min")
                     is not None for f in nonempty)]
    if not usable:
        target = snapshot_read(spark, table_dir)
        merged = merge_into(target, src, on, update_cols=update_cols,
                            insert_unmatched=insert_unmatched)
        return snapshot_write(merged, table_dir, mode="overwrite",
                              num_files=num_files, txn=txn,
                              txn_expect=txn_expect)
    # source key envelope: one k-sized aggregate row. Collected
    # TimestampType values come back as NAIVE datetimes in the
    # driver's OS zone — _coerce_pred localizes them (.astimezone())
    # before comparing against the UTC-aware parquet footer bounds
    # (an unlocalized compare under a non-UTC OS zone shifts the
    # envelope by the zone offset and silently mis-classifies
    # overlapping files as untouched: missed updates + duplicate
    # inserted keys).
    bounds = src.agg(*[f(c).alias(f"{t}_{c}")
                       for c in usable
                       for t, f in (("lo", F.min), ("hi", F.max))]) \
        .collect()[0]
    preds = []
    for c in usable:
        lo, hi = bounds[f"lo_{c}"], bounds[f"hi_{c}"]
        if lo is not None:
            preds += [(c, ">=", lo), (c, "<=", hi)]
    touched = [f for f in nonempty
               if _file_may_match(_stats_for_prune(m, f), preds)] \
        if preds else nonempty
    touched_set = set(touched)
    untouched = [f for f in m["files"] if f not in touched_set]
    schema = StructType.fromJson(json.loads(m["schema"]))
    # --- deletion-vector merge (Delta's DV merge shape) -------------
    # the touched files' KEY-matched rows are counted, and the
    # vector files' slice is read once (see _dv_split); small-match
    # files are NOT rewritten: their matched positions take a DV and
    # only those rows re-enter the merge target (so merge_into
    # updates them and appends the result next to the vector), their
    # unmatched rows stay in the original file.
    # Zero-match files (stats false positives) carry verbatim.
    # Big-match files keep the classic whole-file rewrite.
    new_dv_entries: dict = {}
    rewrite_files = list(touched)
    hidden = None
    try:
        if touched and use_dv:
            src_keys = _plain(src).select(*keys)
            rewrite_files, new_dv_entries, hidden = _dv_split(
                spark, table_dir, m, touched,
                lambda t: t.join(src_keys, on=list(keys), how="left_semi"))
            rewrite_set = set(rewrite_files)
            untouched = [f for f in m["files"] if f not in rewrite_set]
        if rewrite_files:
            t_df = _read_files_renamed(spark, table_dir, rewrite_files, m)
        else:
            t_df = local_frame(spark, [], schema)
        if hidden is not None:
            t_df = t_df.unionByName(hidden)
        merged = _plain(merge_into(t_df, src, on, update_cols=update_cols,
                                   insert_unmatched=insert_unmatched)) \
            .select(*[f.name for f in schema.fields])
        if m.get("constraints"):
            # MERGE mints new values exactly like UPDATE does — the
            # file-skipping path must enforce what the whole-table
            # fallback (via snapshot_write) already enforces
            merged = merged.localCheckpoint(eager=False)
            _enforce_constraints(merged, m["constraints"])
        # publish: untouched files carried over verbatim (stats included),
        # rewritten rows land in a fresh data dir with fresh stats
        version = base_v + 1
        token = uuid.uuid4().hex[:12]
        rel_dir = os.path.join(_DATA_DIR, f"v{version:08d}-{token}")
        out_dir = os.path.join(table_dir, rel_dir)
        writer = merged.coalesce(num_files) if num_files else merged
        with _micros_timestamps(writer.sparkSession):
            writer.write.mode("error").parquet(out_dir)
        new_files = sorted(
            os.path.join(rel_dir, f) for f in os.listdir(out_dir)
            if f.endswith(".parquet"))
        stats_cols = sorted({c for f in m["files"]
                             for c in (stats.get(f) or {})} - {_ROWS_KEY})
        new_stats = _collect_file_stats(
            table_dir, new_files, stats_cols, rows=True)
        try:
            manifest = {
                "version": version,
                "parent": base_v,
                "operation": "merge",
                "schema": m["schema"],
                "files": untouched + new_files,
                "stats": {**{f: stats[f] for f in untouched}, **new_stats},
            }
            bloom = _carry_bloom(m, untouched)
            if bloom:
                manifest["bloom"] = bloom
            renames = _carry_renames(m, untouched)
            if renames:
                manifest["renamed_files"] = renames
            dv = {**_carry_dv(m, untouched), **new_dv_entries}
            if dv:
                manifest["dv"] = dv
            parts_ = _carry_partitions(m, untouched)
            if parts_:
                manifest["partitions"] = parts_
            if m.get("constraints"):
                manifest["constraints"] = m["constraints"]
            if m.get("generated"):
                manifest["generated"] = m["generated"]
            if m.get("cluster_by"):
                manifest["cluster_by"] = m["cluster_by"]
            _txn_guard(m.get("txn"), txn, txn_expect)
            txns = dict(m.get("txn") or {})
            for _a, _v in _txn_entries(txn):
                txns[_a] = _v
            if txns:
                manifest["txn"] = txns
            # commit-scoped (never carried): lets the CDC change feed
            # classify this commit's diff into update pre/post-images by
            # joining old and new rows on the merge keys
            manifest["op_info"] = {"keys": [str(k) for k in keys]}
            if change_data:
                _materialize_cdc(spark, table_dir, manifest, m,
                                 hidden=hidden)
            _publish(table_dir, manifest)
            return version
        except FileExistsError:
            # lost the race — absorb commutable interleaved appends by
            # rebasing the already-written result; true conflicts
            # propagate to snapshot_merge's recompute loop
            rebased = _try_rebase_publish(
                table_dir, base_v, set(rewrite_files), new_files,
                new_stats, "merge", m["schema"], keys=usable, preds=preds,
                dv_add=new_dv_entries, cdc=manifest.get("cdc"),
                op_info=manifest.get("op_info"), txn_add=txn,
                txn_expect=txn_expect)
            if rebased is not None:
                return rebased
            raise
    finally:
        _release_checkpoint(hidden)


def snapshot_restore(table_dir: str, version: int) -> int:
    """RESTORE: republish an old version's exact file set (and stats,
    schema, txn watermarks) as the NEW latest — Delta's ``RESTORE
    TABLE ... TO VERSION`` as a metadata-only commit. Nothing is
    copied or rewritten: the manifest points at the old files, which
    the age-floor vacuum has kept alive. Raises if any restored file
    has already been vacuumed (the retention trade, surfaced instead
    of published as a broken table)."""
    m = _read_manifest(table_dir, version)
    missing = [f for f in m["files"]
               if not os.path.exists(os.path.join(table_dir, f))]
    if missing:
        raise FileNotFoundError(
            f"cannot restore version {version}: {len(missing)} of its "
            f"files were vacuumed (first: {missing[0]})")
    last: FileExistsError | None = None
    for _ in range(6):
        latest = _latest_version(table_dir)
        lm = _read_manifest(table_dir, latest)
        manifest = {
            "version": latest + 1,
            "parent": latest,
            "operation": "restore",
            "schema": m["schema"],
            "files": m["files"],
        }
        if m.get("stats"):
            manifest["stats"] = m["stats"]
        if m.get("bloom"):
            manifest["bloom"] = m["bloom"]
        if m.get("renamed_files"):
            manifest["renamed_files"] = m["renamed_files"]
        if m.get("dv"):
            manifest["dv"] = m["dv"]
        if m.get("partitions"):
            manifest["partitions"] = m["partitions"]
        if m.get("constraints"):
            manifest["constraints"] = m["constraints"]
        if m.get("generated"):
            manifest["generated"] = m["generated"]
        if m.get("cluster_by"):
            manifest["cluster_by"] = m["cluster_by"]
        if lm.get("txn"):
            manifest["txn"] = lm["txn"]  # idempotence watermarks are
            # writer-progress, not data state: they survive a restore
        try:
            _publish(table_dir, manifest)
            return latest + 1
        except FileExistsError as exc:
            last = exc          # metadata-only: retrying at the new
            # latest is trivially safe (last-writer-wins, like
            # overwrite) — a racing ingest must not abandon a restore
    raise FileExistsError(
        f"restore lost the publish race 6 times in {table_dir} "
        f"(pathological contention): {last}")


def snapshot_delete(spark: SparkSession, table_dir: str, where,
                    dv: bool = True,
                    num_files: int | None = None,
                    max_retries: int = 5,
                    change_data: bool = True,
                    txn: tuple[str, int] | None = None) -> int:
    """Row-level DELETE: remove every row matching *where* (a list of
    ``(col, op, value)`` triples ANDed together, ops ``== < <= > >= in``
    — the same predicate shape ``snapshot_read`` prunes with; a
    ``("id", "in", ids)`` triple forgets k ids in ONE commit) and
    publish the result as a new version.

    Plan mirrors the row-level MERGE: files whose manifest stats PROVE
    no row matches are carried into the new version untouched (same
    physical files — no read, no write); only files that may hold
    matching rows are rewritten with the inverted filter. A 100-row
    delete against a 100 TB table rewrites a handful of files. Files
    without usable stats are conservatively rewritten (correct at any
    stats coverage). Publish-race handling matches MERGE: interleaved
    appends whose files provably can't match the predicate commute
    (rebase, reusing the written files); true conflicts recompute.

    **Deletion vectors** (``dv=True``, the default): a touched file
    whose matching rows are a small fraction of its live rows is NOT
    rewritten — the matched positions land in a tiny positional
    sidecar (Delta/Iceberg v2's position deletes) and reads filter
    them at scan. A 1-row delete in a 1 GB file writes bytes
    proportional to 1 row instead of rewriting the gigabyte.
    ``snapshot_optimize`` materializes vectors away; ``dv=False``
    forces the classic rewrite."""
    last: FileExistsError | None = None
    for _ in range(max_retries + 1):
        try:
            return _delete_once(spark, table_dir, where, num_files,
                                dv, change_data, txn=txn)
        except FileExistsError as exc:
            last = exc
    raise FileExistsError(
        f"delete lost the publish race {max_retries + 1} times in "
        f"{table_dir} (pathological contention): {last}")


def _delete_once(spark: SparkSession, table_dir: str, where,
                 num_files: int | None, use_dv: bool = True,
                 change_data: bool = True,
                 txn: tuple[str, int] | None = None) -> int:
    def rewrite(t_df, match_cond, schema, _m):
        # keep rows NOT matching the conjunction (NULLs never match a
        # comparison predicate, so they are kept — SQL DELETE WHERE
        # semantics)
        return t_df.filter(~F.coalesce(match_cond, F.lit(False))) \
            .select(*[f.name for f in schema.fields])
    return _dml_rewrite_once(spark, table_dir, where, num_files,
                             "delete", rewrite, use_dv=use_dv,
                             change_data=change_data, txn=txn)


def snapshot_update(spark: SparkSession, table_dir: str, where,
                    set_exprs: dict, num_files: int | None = None,
                    max_retries: int = 5, dv: bool = True,
                    change_data: bool = True,
                    txn: tuple[str, int] | None = None) -> int:
    """Row-level UPDATE ... SET: rewrite matching rows' columns to the
    given expressions (strings or Columns; non-matching rows pass
    through verbatim) and publish a new version — the third leg of the
    MERGE/DELETE/UPDATE DML triad, with the same file-skipping plan:
    files whose stats/bloom prove no row matches are carried verbatim,
    only possibly-matching files rewrite. CHECK constraints are
    enforced on the rewritten rows (an UPDATE can create new values;
    DELETE cannot). Publish races rebase like DELETE's.

    With ``dv=True`` (default) a small-match file is not rewritten:
    its matched positions take a deletion vector and the UPDATED rows
    append as a new file (Delta's DV update shape) — write bytes
    proportional to the matched rows, not the touched files."""
    last: FileExistsError | None = None

    def rewrite(t_df, match_cond, schema, m):
        names = [f.name for f in schema.fields]
        bad = [c for c in set_exprs if c not in names]
        if bad:
            raise KeyError(f"SET columns not in schema: {bad}")
        cond = F.coalesce(match_cond, F.lit(False))
        out = t_df.select(*[
            (F.when(cond, F.expr(set_exprs[n])
                    if isinstance(set_exprs[n], str) else set_exprs[n])
             .otherwise(F.col(n)).cast(schema[n].dataType).alias(n))
            if n in set_exprs else F.col(n)
            for n in names])
        if m.get("constraints"):
            out = out.localCheckpoint(eager=False)
            _enforce_constraints(out, m["constraints"])
        return out

    for _ in range(max_retries + 1):
        try:
            return _dml_rewrite_once(spark, table_dir, where,
                                     num_files, "update", rewrite,
                                     use_dv=dv,
                                     change_data=change_data,
                                     txn=txn)
        except FileExistsError as exc:
            last = exc
    raise FileExistsError(
        f"update lost the publish race {max_retries + 1} times in "
        f"{table_dir} (pathological contention): {last}")


#: DV eligibility: a touched file takes a deletion vector instead of a
#: rewrite when its matching rows are at most this fraction of its
#: live rows AND at most this many — beyond that, merge-on-read debt
#: costs more than the rewrite (the Delta/Iceberg tuning intuition).
_DV_MAX_FRACTION = 0.2
_DV_MAX_ROWS = 100_000


def _dv_split(spark: SparkSession, table_dir: str, m: dict,
              touched: list[str], match
              ) -> tuple[list[str], dict, DataFrame | None]:
    """Split a row-level DML's *touched* files into rewrites and
    deletion vectors. *match* maps live rows (with
    ``__fid__``/``__pos__``) to the matched slice — MERGE's semi-join
    with the source keys, DELETE/UPDATE's predicate filter. One
    aggregate over the touched files counts each file's matches and
    stores nothing; per-file live totals come from the manifest
    (``snapshot_count``'s rule: the recorded ``__rows__`` minus the
    file's DV ``n``). Only the vector files' slice is then read, into
    a local checkpoint that its first consumer (``_write_dv_dir``)
    materializes, so what is stored is exactly the rows the new
    vectors hide — never a bulk DML's heavy files, which rewrite from
    their data files anyway. Every later consumer reads that
    checkpoint: the rows that re-enter the rewrite and the change
    feed's old side (returned as *hidden*). The caller releases it
    (``_release_checkpoint``) once its commit has published or given
    up.

    A file with no match carries verbatim; one whose matches are at
    most ``_DV_MAX_ROWS`` and ``_DV_MAX_FRACTION`` of its live rows
    takes a vector; the rest rewrite (so does a file that records no
    row count). Returns ``(rewrite_files, new_dv_entries, hidden)`` —
    *hidden* is None when no file took a vector."""
    fid_to_rel = {_dv_fid(f): f for f in touched}
    t_meta = _read_files_renamed(spark, table_dir, touched, m,
                                 with_pos=True)
    mat = {r["__fid__"]: int(r["c"]) for r in
           match(t_meta).groupBy("__fid__")
           .agg(F.count(F.lit(1)).alias("c")).collect()}
    stats, old_dv = m.get("stats") or {}, m.get("dv") or {}
    tot = {}
    for f in touched:
        n = ((stats.get(f) or {}).get(_ROWS_KEY) or {}).get("min")
        if n is not None:
            tot[_dv_fid(f)] = int(n) - (int(old_dv[f]["n"])
                                        if f in old_dv else 0)
    dv_fids = sorted(fid for fid, c in mat.items()
                     if fid in fid_to_rel and c <= _DV_MAX_ROWS
                     and c <= _DV_MAX_FRACTION * tot.get(fid, 0))
    heavy = mat.keys() - set(dv_fids)
    rewrite = [f for f in touched if _dv_fid(f) in heavy]
    if not dv_fids:
        return rewrite, {}, None
    hidden = match(_read_files_renamed(
        spark, table_dir, [fid_to_rel[fid] for fid in dv_fids], m,
        with_pos=True)).localCheckpoint(eager=False)
    entries = _write_dv_dir(
        spark, table_dir,
        hidden.select("__fid__", F.col("__pos__").cast("long")),
        {fid: fid_to_rel[fid] for fid in dv_fids}, old_dv,
        n_new=sum(mat[fid] for fid in dv_fids))
    return rewrite, entries, hidden.drop("__fid__", "__pos__")


def _release_checkpoint(df: DataFrame | None) -> None:
    """Drop the stored blocks of the local checkpoints *df* reads, once
    every reader has run. ``DataFrame.unpersist()`` does not: the
    blocks belong to the checkpointed RDD, not to a cached plan, and
    would otherwise stay until a driver GC lets the ContextCleaner
    drop them."""
    if df is None:
        return
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD":
            leaf.rdd().unpersist(False)


def _dml_rewrite_once(spark: SparkSession, table_dir: str, where,
                      num_files: int | None, operation: str,
                      rewrite, use_dv: bool = True,
                      change_data: bool = True,
                      txn: tuple[str, int] | None = None) -> int:
    from pyspark.sql.types import StructType
    preds = _norm_dnf(where)
    if not preds:
        raise ValueError(
            f"snapshot_{operation} requires a predicate — use "
            "snapshot_write(mode='overwrite') for whole-table "
            "rewrites")
    base_v = _latest_version(table_dir)
    if base_v is None:
        raise FileNotFoundError(f"no snapshot versions in {table_dir}")
    m = _read_manifest(table_dir, base_v)
    stats = m.get("stats") or {}
    blooms = m.get("bloom") or {}

    def _admits(f):
        st = _stats_for_prune(m, f)
        bl = blooms.get(f) or {}
        return any(_file_may_match(st, b)
                   and _bloom_preds_may_match(bl, b, table_dir)
                   for b in preds)

    touched = [f for f in m["files"] if _admits(f)]
    schema = StructType.fromJson(json.loads(m["schema"]))
    match_cond = _dnf_column(preds)
    cond = F.coalesce(match_cond, F.lit(False))
    # --- decide per touched file: deletion vector vs rewrite --------
    # the touched subset's matching rows are counted, and the vector
    # files' slice is read once (see _dv_split):
    # zero-match files (stats false positives) are carried verbatim;
    # small-match files take a positional DV sidecar (the data file is
    # NOT rewritten — merge-on-read, a 1-row GDPR delete in a 1 GB
    # file writes bytes proportional to 1 row); big-match files take
    # the classic rewrite. UPDATE appends its transformed rows as a
    # new file next to the DV that hides the old ones.
    rewrite_files: list[str] = list(touched)
    new_dv_entries: dict = {}
    hidden = upd_df = None
    try:
        if touched and use_dv:
            rewrite_files, new_dv_entries, hidden = _dv_split(
                spark, table_dir, m, touched, lambda t: t.filter(cond))
            if hidden is not None and operation != "delete":
                upd_df = rewrite(hidden, F.lit(True), schema, m)
        rewrite_set = set(rewrite_files)
        untouched = [f for f in m["files"]
                     if f not in rewrite_set]  # incl. DV'd/carried
        version = base_v + 1
        token = uuid.uuid4().hex[:12]
        rel_dir = os.path.join(_DATA_DIR, f"v{version:08d}-{token}")
        out_dir = os.path.join(table_dir, rel_dir)
        new_files: list[str] = []
        new_stats: dict = {}
        kept = None
        if rewrite_files:
            t_df = _read_files_renamed(spark, table_dir, rewrite_files, m)
            kept = rewrite(t_df, match_cond, schema, m)
        if upd_df is not None:
            kept = kept.unionByName(upd_df) if kept is not None else upd_df
        if kept is not None:
            writer = kept.coalesce(num_files) if num_files else kept
            with _micros_timestamps(spark):
                writer.write.mode("error").parquet(out_dir)
            new_files = sorted(
                os.path.join(rel_dir, f) for f in os.listdir(out_dir)
                if f.endswith(".parquet"))
            stats_cols = sorted({c for f in m["files"]
                                 for c in (stats.get(f) or {})}
                                - {_ROWS_KEY})
            new_stats = _collect_file_stats(table_dir, new_files,
                                            stats_cols, rows=True)
        manifest = {
            "version": version,
            "parent": base_v,
            "operation": operation,
            "schema": m["schema"],
            "files": untouched + new_files,
            "stats": {**{f: stats[f] for f in untouched if f in stats},
                      **new_stats},
        }
        if not manifest["stats"]:
            del manifest["stats"]
        bloom = _carry_bloom(m, untouched)
        if bloom:
            manifest["bloom"] = bloom
        renames = _carry_renames(m, untouched)
        if renames:
            manifest["renamed_files"] = renames
        dv = {**_carry_dv(m, untouched), **new_dv_entries}
        if dv:
            manifest["dv"] = dv
        parts_ = _carry_partitions(m, untouched)
        if parts_:
            manifest["partitions"] = parts_
        if m.get("constraints"):
            manifest["constraints"] = m["constraints"]
        if m.get("generated"):
            manifest["generated"] = m["generated"]
        if m.get("cluster_by"):
            manifest["cluster_by"] = m["cluster_by"]
        _txn_guard(m.get("txn"), txn, None)
        txns = dict(m.get("txn") or {})
        for _a, _v in _txn_entries(txn):
            txns[_a] = _v
        if txns:
            manifest["txn"] = txns
        if change_data:
            _materialize_cdc(spark, table_dir, manifest, m, hidden=hidden)
        try:
            _publish(table_dir, manifest)
            return version
        except FileExistsError:
            pred_cols = sorted({c for b in preds for c, _o, _v in b})
            rebased = _try_rebase_publish(
                table_dir, base_v, set(rewrite_files), new_files,
                new_stats, operation, m["schema"], keys=pred_cols,
                preds=preds, dv_add=new_dv_entries,
                cdc=manifest.get("cdc"), txn_add=txn)
            if rebased is not None:
                return rebased
            raise
    finally:
        _release_checkpoint(hidden)


def snapshot_detail(table_dir: str,
                    version: int | None = None) -> dict:
    """DESCRIBE DETAIL: one metadata-only dict for a version — file
    count, total bytes, schema field names, constraint names, rename
    count, stats/bloom coverage, and the operation that produced it.
    Reads the manifest plus ``os.path.getsize`` per file; no scan."""
    if version is None:
        version = _latest_version(table_dir)
        if version is None:
            raise FileNotFoundError(
                f"no snapshot versions in {table_dir}")
    m = _read_manifest(table_dir, version)
    sizes = []
    for f in m["files"]:
        try:
            sizes.append(os.path.getsize(os.path.join(table_dir, f)))
        except OSError:
            sizes.append(0)           # vacuumed-from-under-a-clone
    fields = [fl["name"] for fl in json.loads(m["schema"])["fields"]]
    stats = m.get("stats") or {}
    bloom = m.get("bloom") or {}
    return {
        "version": version,
        "parent": m.get("parent"),
        "operation": m.get("operation"),
        "num_files": len(m["files"]),
        "size_bytes": sum(sizes),
        "columns": fields,
        "constraints": sorted((m.get("constraints") or {})),
        "renamed_files": len(m.get("renamed_files") or {}),
        "stats_files": len(stats),
        "stats_columns": sorted({c for s in stats.values()
                                 for c in s} - {_ROWS_KEY}),
        "num_rows": (snapshot_count(table_dir, version)
                     if all(_ROWS_KEY in (stats.get(f) or {})
                            for f in m["files"]) else None),
        "bloom_files": len(bloom),
        "bloom_columns": sorted({c for b in bloom.values() for c in b}),
        "dv_files": len(m.get("dv") or {}),
        "dv_rows": sum(e.get("n", 0)
                       for e in (m.get("dv") or {}).values()),
        "cdc_files": len((m.get("cdc") or {}).get("files") or []),
        "partition_columns": sorted({c for pt in
                                     (m.get("partitions") or {})
                                     .values() for c in pt}),
        # the live partition SPECS (spec evolution: one entry per
        # era), rendered back to partition_by strings
        "partition_specs": sorted({
            tuple(_spec_from_tuple_key(k) for k in sorted(pt))
            for pt in (m.get("partitions") or {}).values() if pt}),
        "cluster_by": list(m.get("cluster_by") or []),
        "txn": dict(m.get("txn") or {}),
        "operation_metrics": dict(m.get("op_metrics") or {}),
        "generated_columns": sorted(m.get("generated") or {}),
        "tags": snapshot_tags(table_dir),
    }

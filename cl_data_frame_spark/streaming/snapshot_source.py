"""Snapshot tables as a Structured Streaming SOURCE — the public
Delta-streaming-source contract on our manifest format, implemented
with PySpark 4's Python data source API (``pyspark.sql.datasource``).

A streaming query over a snapshot table sees, per micro-batch, exactly
the rows ADDED by the versions committed since its last offset:
offsets are version numbers (checkpointed by Spark, so a restarted
query resumes exactly where it stopped — versions are immutable, so
replanning a batch from its offset range is deterministic), and the
files of one batch are each version's manifest-diff against its
parent. Appends (and a clone's initial version) stream their new
files; any other commit that ADDS files — merge/delete/optimize/
update rewrote rows, an overwrite replaced them, a restore
resurrected them — raises by default — exactly Delta's "source table
was changed" error — or streams those files when ``ignore_changes``
is set (Delta's ``ignoreChanges``, re-emission documented). A table's
first version streams whatever operation created it.

Scale: the driver-side planner touches only MANIFESTS (KBs per
version); the data files are read by executors via Arrow record
batches, one task per file group. Rename chains
(``snapshot_rename_column``) are applied per file at read time: the
rename commit itself adds no files (the running stream sails past
it), and a RESTARTED stream resolves the new schema and still reads
pre-rename files through their chains. Files appended AFTER a rename
carry the new physical name, so a stream started before the rename
fails on them with a column error — the restart-on-schema-change
contract the public sources document.

The reference (`cl-data-frame.lisp:1-583`) has no I/O; Tier S
streaming x sources extension (SURVEY.md §2.2).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition)
from pyspark.sql.types import StructType

FORMAT_NAME = "cdf_snapshot"

#: operations whose manifest-diff files are pure row ADDITIONS
#: (clone: a cloned table's v1 is its initial data, nothing rewritten)
_APPEND_OPS = {"append", "clone"}


#: CDC metadata columns (Delta Change Data Feed's names)
_CDF_TYPE = "_change_type"
_CDF_VER = "_commit_version"


@dataclass
class _FilesPartition(InputPartition):
    table_dir: str
    files: list = field(default_factory=list)
    renames: list = field(default_factory=list)
    columns: list = field(default_factory=list)
    schema_json: str = ""
    #: change-feed labeling: None = plain stream (no CDC columns);
    #: "insert"/"delete" = every row of these files gets that label
    change_type: str | None = None
    commit_version: int = 0
    #: True = files are materialized _change_data parquet (they carry
    #: _change_type themselves); only _commit_version is appended
    cdc_file: bool = False


@dataclass
class _DiffPartition(InputPartition):
    """One non-append commit's row-level delta (change feed): old side
    = files removed by the commit (minus rows its parent's deletion
    vectors already hid) plus rows newly hidden by DV growth; new side
    = files the commit added. The executor diffs the two sides — with
    the commit's merge keys when recorded (update pre/post-images),
    else by full-row multiset (delete/insert pairs). Memory bound:
    ONE commit's rewritten file set per task, the same rows the DML
    itself shuffled.

    DML commits (delete/update/merge) persist their change rows as
    ``_change_data`` files at commit time, and those stream as plain
    per-file chunks (memory bound: one FILE). This row diff is the
    live path for commits that carry no ``cdc`` key and cannot stream
    as plain insert/delete file chunks: overwrites (including
    ``snapshot_widen_column(rewrite=True)``, which commits as one)
    and restores where either side carries deletion vectors."""
    table_dir: str
    commit_version: int = 0
    operation: str = "merge"
    #: [(rel_file, chain, excluded_positions)] — parent-DV rows out
    removed: list = field(default_factory=list)
    #: [(rel_file, chain, excluded_positions)] — child-DV rows out
    added: list = field(default_factory=list)
    #: [(rel_file, chain, newly_hidden_positions)]
    dv_hidden: list = field(default_factory=list)
    #: [(rel_file, chain, unhidden_positions)] — rows a SHRUNK vector
    #: re-exposed (a restore to a pre-delete version): new-side rows
    dv_unhidden: list = field(default_factory=list)
    keys: list | None = None
    columns: list = field(default_factory=list)
    schema_json: str = ""


def _canon_cell(x):
    """Deterministic per-cell canonical form for row diffing (numpy
    scalars/arrays fold to python; repr at row level is exact for
    floats — shortest round-trip — and never truncates lists)."""
    if hasattr(x, "tolist"):
        return x.tolist()
    return x


def _load_norm_table(table_dir: str, rel_file: str, chain,
                     columns, schema):
    """One manifest file as an Arrow table normalized to the reader's
    column set: rename chain applied, era-missing columns as typed
    NULLs — the executor-side twin of the batch reader's era logic."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type
    tbl = pq.read_table(os.path.join(table_dir, rel_file))
    for old, new in chain or []:
        if old in tbl.column_names:
            tbl = tbl.rename_columns(
                [new if c == old else c for c in tbl.column_names])
    for name in columns:
        if name not in tbl.column_names:
            tbl = tbl.append_column(
                name, pa.nulls(tbl.num_rows,
                               type=to_arrow_type(
                                   schema[name].dataType)))
    # canonical schema: all-nullable, no parquet footer metadata —
    # per-file nullability drift would otherwise make the Arrow IPC
    # stream reject batches from the second file onward
    target = pa.schema(
        [pa.field(c, to_arrow_type(schema[c].dataType))
         for c in columns])
    return tbl.select(columns).cast(target) \
        .replace_schema_metadata(None)


class SnapshotStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self._table_dir = options.get("path") or options.get("table_dir")
        if not self._table_dir:
            raise ValueError(
                "cdf_snapshot stream requires .option('path', table_dir)"
                " or .load(table_dir)")
        self._schema = schema
        self._cdf = str(
            options.get("readchangefeed",
                        options.get("read_change_feed", "false"))
        ).lower() == "true"
        #: the table's data columns (the reader schema minus the CDC
        #: metadata columns appended in change-feed mode)
        self._data_cols = [f.name for f in schema.fields
                           if f.name not in (_CDF_TYPE, _CDF_VER)]
        self._ignore_changes = str(
            options.get("ignorechanges",
                        options.get("ignore_changes", "false"))
        ).lower() == "true"
        start = options.get("startingversion",
                            options.get("starting_version"))
        self._starting_version = int(start) if start is not None else 0
        # one Spark task per file by default; tune with maxFilesPerTask
        self._files_per_task = int(options.get("maxfilespertask", 1))
        # Delta's maxFilesPerTrigger-style admission control: cap how
        # many files one micro-batch admits (best effort — a single
        # version bigger than the cap is still admitted whole so the
        # stream always progresses; a post-restart first trigger may
        # overshoot since planning state is rebuilt from the offset)
        mf = options.get("maxfilesperbatch",
                         options.get("max_files_per_batch"))
        self._max_files = int(mf) if mf is not None else None
        self._last_planned: int | None = None
        self._last_emitted: int | None = None

    # -- offset planning (driver, manifest metadata only) --------------
    def initialOffset(self) -> dict:
        # versions <= startingVersion-1 are considered consumed; the
        # default 0 streams the table from its first commit. Spark
        # calls this ONLY for a fresh query (a restart resumes from
        # the checkpoint), so it doubles as the pacing base signal:
        # a fresh stream rate-limits from here, a restarted one
        # admits everything on its first trigger (see latestOffset)
        return {"version": self._starting_version - 1
                if self._starting_version > 0 else 0}

    def latestOffset(self) -> dict:
        from cl_data_frame_spark.sources.snapshots import (
            _latest_version, _read_manifest)
        latest = _latest_version(self._table_dir) or 0
        if self._max_files is None:
            return {"version": latest}
        known = [v for v in (self._last_planned,
                             self._last_emitted) if v is not None]
        if not known:
            # first trigger on this reader instance: the consumed
            # offset lives in Spark's checkpoint and is unknown here,
            # so admit everything — capping from a guess could hand
            # Spark an offset BEHIND the checkpoint, and a regressed
            # offset re-emits consumed versions into the sink. Pacing
            # therefore applies from the SECOND trigger on (the
            # initial backfill arrives in one batch — the documented
            # divergence from Delta: safety over pacing).
            self._last_emitted = latest
            return {"version": latest}
        base = max(known)
        if latest <= base:
            return {"version": latest}
        total, end = 0, base
        for v in range(base + 1, latest + 1):
            m = _read_manifest(self._table_dir, v)
            parent = m.get("parent")
            pfiles = set(
                _read_manifest(self._table_dir, parent)["files"]
            ) if parent is not None else set()
            n_new = sum(1 for f in m["files"] if f not in pfiles)
            if total and total + n_new > self._max_files:
                break
            total += n_new
            end = v
            if total >= self._max_files:
                break
        self._last_emitted = max(self._last_emitted or 0, end)
        return {"version": end}

    def partitions(self, start: dict, end: dict):
        from cl_data_frame_spark.sources.snapshots import _read_manifest
        sv, ev = int(start["version"]), int(end["version"])
        self._last_planned = max(self._last_planned or 0, ev)
        if self._cdf:
            return self._cdf_partitions(sv, ev)
        added: list[str] = []
        renames_map: dict = {}
        for v in range(sv + 1, ev + 1):
            m = _read_manifest(self._table_dir, v)
            op = m.get("operation", "append")
            parent = m.get("parent")
            pfiles = set(
                _read_manifest(self._table_dir, parent)["files"]
            ) if parent is not None else set()
            new = [f for f in m["files"] if f not in pfiles]
            # a table's FIRST version is its initial data whatever
            # operation created it (an initial overwrite/clone is not
            # a change); after that, ANY non-append commit that adds
            # files changed the table: an overwrite replaced rows, a
            # restore resurrected them, merge/delete/optimize/update
            # rewrote them — streaming those files would emit rows the
            # sink already holds, so Delta's contract is to fail
            initial = parent is None
            if (op not in _APPEND_OPS and not initial and new
                    and not self._ignore_changes):
                raise RuntimeError(
                    f"snapshot stream source: version {v} is a "
                    f"{op!r} commit that rewrote, replaced, or "
                    "resurrected files; streaming them would re-emit "
                    "rows the sink already received. Pass "
                    ".option('ignoreChanges', 'true') to stream them "
                    "anyway (downstream dedup required), or start a "
                    "fresh stream.")
            added.extend(new)
            renames_map.update(m.get("renamed_files") or {})
        if not added:
            return []
        cols = [f.name for f in self._schema.fields]
        n = self._files_per_task
        parts = []
        for i in range(0, len(added), n):
            chunk = added[i:i + n]
            parts.append(_FilesPartition(
                table_dir=self._table_dir, files=chunk,
                renames=[renames_map.get(f) or [] for f in chunk],
                columns=cols, schema_json=self._schema.json()))
        return parts

    def _cdf_partitions(self, sv: int, ev: int):
        """Change-feed planning (driver, manifests + DV sidecars
        only): each version becomes insert/delete file chunks or one
        row-diff task — Delta CDF reduced to manifest diffs between
        consecutive versions. A version from an OLDER SCHEMA ERA (a
        rename landed later in the range) gets era-alignment pairs
        appended to every file's rename chain, so its rows surface
        under the reader's (latest) names — the batch feed's
        auto-split rule (``_era_align_map``)."""
        from cl_data_frame_spark.sources.snapshots import (
            _dv_positions, _era_align_map, _read_manifest)
        cols = self._data_cols
        sjson = self._schema.json()
        reader_fields = [f for f in json.loads(sjson)["fields"]
                         if f["name"] not in (_CDF_TYPE, _CDF_VER)]
        n = self._files_per_task
        parts: list = []

        def file_chunks(files, rmap, align, ctype, v, cdc_file=False):
            for i in range(0, len(files), n):
                chunk = files[i:i + n]
                parts.append(_FilesPartition(
                    table_dir=self._table_dir, files=chunk,
                    renames=[(rmap.get(f) or []) + align
                             for f in chunk],
                    columns=(cols + [_CDF_TYPE]) if cdc_file
                    else cols,
                    schema_json=sjson,
                    change_type=ctype, commit_version=v,
                    cdc_file=cdc_file))
        for v in range(sv + 1, ev + 1):
            m = _read_manifest(self._table_dir, v)
            op = m.get("operation", "append")
            parent = m.get("parent")
            align = [list(p) for p in _era_align_map(
                json.loads(m["schema"])["fields"],
                reader_fields).items()]
            if "cdc" in m and op not in _APPEND_OPS \
                    and parent is not None:
                # materialized change data (written at DML commit
                # time): plain file scans, task memory bounded by one
                # FILE — commits without a ``cdc`` key (overwrite,
                # restore, widen-rewrite) take the paths below
                file_chunks((m["cdc"] or {}).get("files") or [],
                            {}, align, None, v, cdc_file=True)
                continue
            pm = _read_manifest(self._table_dir, parent) \
                if parent is not None else None
            pfiles = pm["files"] if pm else []
            cset, pset = set(m["files"]), set(pfiles)
            added = [f for f in m["files"] if f not in pset]
            removed = [f for f in pfiles if f not in cset]
            pdv = (pm.get("dv") or {}) if pm else {}
            cdv = m.get("dv") or {}
            rmap_c = m.get("renamed_files") or {}
            rmap_p = (pm.get("renamed_files") or {}) if pm else {}
            if parent is None or op in _APPEND_OPS:
                file_chunks(added, rmap_c, align, "insert", v)
                continue
            if op == "optimize":
                continue          # net-zero row change (compaction +
                # DV materialization rewrite identical live rows)
            # rows a grown deletion vector newly hides, and rows a
            # SHRUNK one re-exposes (a restore to a pre-delete
            # version): both on files present in BOTH versions
            dv_hidden = []
            dv_unhidden = []
            both = (set(cdv) | set(pdv)) & pset & cset
            for f in both:
                old_pos = set(_dv_positions(self._table_dir, pdv[f])) \
                    if f in pdv else set()
                new_pos = set(_dv_positions(self._table_dir, cdv[f])) \
                    if f in cdv else set()
                if new_pos - old_pos:
                    dv_hidden.append((f, (rmap_p.get(f) or [])
                                      + align,
                                      sorted(new_pos - old_pos)))
                if old_pos - new_pos:
                    dv_unhidden.append((f, (rmap_c.get(f) or [])
                                        + align,
                                        sorted(old_pos - new_pos)))
            if not (added or removed or dv_hidden or dv_unhidden):
                continue          # metadata-only commit
            if op in ("overwrite", "restore") and not pdv \
                    and not cdv:
                # whole-table replacement: removed files' rows delete,
                # added files' rows insert — streamed file-chunked (no
                # diff task, no single-task memory bound); files in
                # BOTH versions (a restore sharing files) are net-
                # unchanged and emit nothing
                file_chunks(removed, rmap_p, align, "delete", v)
                file_chunks(added, rmap_c, align, "insert", v)
                continue
            keys = (m.get("op_info") or {}).get("keys")
            parts.append(_DiffPartition(
                table_dir=self._table_dir, commit_version=v,
                operation=op,
                removed=[(f, (rmap_p.get(f) or []) + align,
                          sorted(_dv_positions(self._table_dir,
                                               pdv[f]))
                          if f in pdv else [])
                         for f in removed],
                added=[(f, (rmap_c.get(f) or []) + align,
                        sorted(_dv_positions(self._table_dir,
                                             cdv[f]))
                        if f in cdv else [])
                       for f in added],
                dv_hidden=dv_hidden, dv_unhidden=dv_unhidden,
                keys=keys if keys and all(k in cols for k in keys)
                else None,
                columns=cols, schema_json=sjson))
        return parts

    # -- executor-side read (Arrow batches) ----------------------------
    def read(self, partition):
        if isinstance(partition, _DiffPartition):
            yield from self._read_diff(partition)
            return
        import pyarrow as pa
        schema = StructType.fromJson(json.loads(partition.schema_json))
        for f, chain in zip(partition.files, partition.renames):
            # columns this file's era predates surface as typed NULLs
            # (merge-schema evolution), mirroring the batch reader
            tbl = _load_norm_table(partition.table_dir, f, chain,
                                   partition.columns, schema)
            if partition.change_type is not None:
                tbl = tbl.append_column(
                    _CDF_TYPE, pa.array([partition.change_type]
                                        * tbl.num_rows))
            if partition.change_type is not None or partition.cdc_file:
                tbl = tbl.append_column(
                    _CDF_VER, pa.array([partition.commit_version]
                                       * tbl.num_rows,
                                       type=pa.int64()))
            if tbl.num_rows:
                yield from tbl.to_batches()

    def _read_diff(self, p: _DiffPartition):
        """One commit's row-level change set: load the old side (rows
        the commit removed/hid) and the new side (rows it added), diff
        by merge keys when recorded (update pre/post-images) else by
        full-row multiset (rows identical on both sides — the bulk of
        a rewritten file — cancel and emit nothing)."""
        import pyarrow as pa
        schema = StructType.fromJson(json.loads(p.schema_json))

        def load(side, dv_rows):
            tables = []
            for spec in side:
                f, chain, excl = (spec if len(spec) == 3
                                  else (*spec, []))
                t = _load_norm_table(p.table_dir, f, chain,
                                     p.columns, schema)
                if excl:
                    # vectorized boolean mask (a DV can hold 100k
                    # positions: the old per-row-index Python
                    # comprehension was O(rows) interpreter work
                    # per file)
                    import numpy as np
                    mask = np.ones(t.num_rows, dtype=bool)
                    mask[np.asarray(excl, dtype=np.int64)] = False
                    t = t.filter(pa.array(mask))
                tables.append(t)
            for f, chain, pos in dv_rows:
                t = _load_norm_table(p.table_dir, f, chain,
                                     p.columns, schema)
                tables.append(t.take(list(pos)))
            if not tables:
                return None
            return pa.concat_tables(tables)
        old = load(p.removed, p.dv_hidden)
        new = load(p.added, p.dv_unhidden)

        def canon(tbl, cols):
            if tbl is None:
                return []
            rows = tbl.to_pylist()
            return [repr([_canon_cell(r[c]) for c in cols])
                    for r in rows]
        pre_t = "update_preimage" if p.operation == "update" \
            else "delete"
        post_t = "update_postimage" if p.operation == "update" \
            else "insert"
        old_idx: list[int] = []
        new_idx: list[int] = []
        old_lbl: list[str] = []
        new_lbl: list[str] = []
        keyed = False
        if p.keys:
            ok = canon(old, p.keys)
            nk = canon(new, p.keys)
            if len(set(ok)) == len(ok) and len(set(nk)) == len(nk):
                keyed = True
                ofull = canon(old, p.columns)
                nfull = canon(new, p.columns)
                omap = {k: i for i, k in enumerate(ok)}
                nmap = {k: i for i, k in enumerate(nk)}
                for k, i in omap.items():
                    j = nmap.get(k)
                    if j is None:
                        old_idx.append(i)
                        old_lbl.append("delete")
                    elif ofull[i] != nfull[j]:
                        old_idx.append(i)
                        old_lbl.append("update_preimage")
                        new_idx.append(j)
                        new_lbl.append("update_postimage")
                for k, j in nmap.items():
                    if k not in omap:
                        new_idx.append(j)
                        new_lbl.append("insert")
        if not keyed:
            # full-row multiset diff: identical rows cancel with
            # multiplicity, surviving surplus emits delete/insert
            # (pre/post-images for an UPDATE commit)
            from collections import Counter
            ofull = canon(old, p.columns)
            nfull = canon(new, p.columns)
            oc, nc = Counter(ofull), Counter(nfull)
            surplus_old = {k: c - nc.get(k, 0)
                           for k, c in oc.items() if c > nc.get(k, 0)}
            surplus_new = {k: c - oc.get(k, 0)
                           for k, c in nc.items() if c > oc.get(k, 0)}
            for i, k in enumerate(ofull):
                if surplus_old.get(k, 0) > 0:
                    surplus_old[k] -= 1
                    old_idx.append(i)
                    old_lbl.append(pre_t)
            for j, k in enumerate(nfull):
                if surplus_new.get(k, 0) > 0:
                    surplus_new[k] -= 1
                    new_idx.append(j)
                    new_lbl.append(post_t)
        for tbl, idx, lbl in ((old, old_idx, old_lbl),
                              (new, new_idx, new_lbl)):
            if tbl is None or not idx:
                continue
            out = tbl.take(idx)
            out = out.append_column(_CDF_TYPE, pa.array(lbl))
            out = out.append_column(
                _CDF_VER, pa.array([p.commit_version] * len(idx),
                                   type=pa.int64()))
            yield from out.to_batches()

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


class SnapshotStreamDataSource(DataSource):
    """``spark.readStream.format('cdf_snapshot').load(table_dir)``."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        from cl_data_frame_spark.sources.snapshots import (
            _latest_version, _read_manifest)
        table_dir = self.options.get("path") \
            or self.options.get("table_dir")
        if not table_dir:
            raise ValueError(
                "cdf_snapshot requires .option('path', table_dir) or "
                ".load(table_dir)")
        v = _latest_version(table_dir)
        if v is None:
            raise FileNotFoundError(
                f"no snapshot versions in {table_dir}")
        st = StructType.fromJson(
            json.loads(_read_manifest(table_dir, v)["schema"]))
        # every field nullable: files from eras predating a
        # merge-schema-added column surface NULLs for it by design,
        # even when the adding batch recorded the field non-nullable
        from pyspark.sql.types import (LongType, StringType,
                                       StructField)
        fields = [StructField(f.name, f.dataType, True, f.metadata)
                  for f in st.fields]
        if str(self.options.get(
                "readchangefeed",
                self.options.get("read_change_feed", "false"))
               ).lower() == "true":
            fields += [StructField(_CDF_TYPE, StringType(), True),
                       StructField(_CDF_VER, LongType(), True)]
        return StructType(fields)

    def streamReader(self, schema: StructType):
        return SnapshotStreamReader(schema, dict(self.options))


def register_snapshot_source(spark: SparkSession) -> None:
    """Idempent registration of the ``cdf_snapshot`` format."""
    spark.dataSource.register(SnapshotStreamDataSource)


def read_stream_snapshot(spark: SparkSession, table_dir: str,
                         ignore_changes: bool = False,
                         starting_version: int | None = None,
                         read_change_feed: bool = False,
                         starting_timestamp=None):
    """Convenience wrapper: register the source and open the stream.

    ``read_change_feed=True`` streams Delta-CDF-style change rows
    instead of raw appends: every emitted row carries ``_change_type``
    (insert / delete / update_preimage / update_postimage) and
    ``_commit_version``. Non-append commits no longer raise — a MERGE
    streams exactly its insert/update delta (classified by the commit's
    recorded merge keys), a DELETE its deleted rows (deletion-vector
    commits read just the newly-hidden positions), an OPTIMIZE nothing
    (net-zero), an overwrite delete+insert of the replaced rows.

    ``starting_timestamp`` (Delta's ``startingTimestamp``): stream
    every version committed AT OR AFTER that instant — a commit
    landing at exactly the timestamp is included, matching Delta's
    at-or-after contract. A timestamp newer than all history streams
    only future commits (documented divergence: Delta errors there).
    Mutually exclusive with ``starting_version``."""
    if starting_timestamp is not None:
        if starting_version is not None:
            raise ValueError("pass starting_version or "
                             "starting_timestamp, not both")
        from cl_data_frame_spark.sources.snapshots import (
            _latest_version, snapshot_version_since)
        since = snapshot_version_since(table_dir, starting_timestamp)
        starting_version = since if since is not None \
            else (_latest_version(table_dir) or 0) + 1
    register_snapshot_source(spark)
    reader = (spark.readStream.format(FORMAT_NAME)
              .option("path", table_dir)
              .option("ignoreChanges", str(ignore_changes).lower())
              .option("readChangeFeed",
                      str(read_change_feed).lower()))
    if starting_version is not None:
        reader = reader.option("startingVersion", str(starting_version))
    return reader.load()
